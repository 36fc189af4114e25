package graft.client

import graft.SparkSpec

class OmimClientSpec extends SparkSpec {
  import spark.implicits._

  test("fetchEntries batches ids by 20 within partitions") {
    val ids = (1 to 50).map(i => f"${100000 + i}%06d").toDS()
    val results = OmimClient.fetchEntries(ids, new OmimClient.StubTransport, maxConcurrency = 1)
      .collect()
    assert(results.map(_.mims.size).sum == 50)
    assert(results.forall(_.mims.size <= OmimClient.BatchSize))
    // single partition -> ceil(50/20) = 3 requests
    assert(results.length == 3)
  }

  test("stub responses parse through the entry reader pipeline") {
    val ids = Seq("100001", "100002").toDS()
    val results = OmimClient.fetchEntries(ids, new OmimClient.StubTransport).collect()
    val parsed = spark.read.json(results.map(_.json).toSeq.toDS())
    assert(parsed.selectExpr("explode(omim.entryList) AS e")
      .selectExpr("e.entry.mimNumber").count() == 2)
  }
}
