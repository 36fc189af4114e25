package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Guard for the correctness gate's completeness (VERDICT r6 item 2):
  * a query that crashes must still land in the dump as a RED row, never
  * silently vanish — round 6 lost 7 registry queries when the events
  * loader broke at analysis time and the gate shrank 98 → 91 without a
  * single err row. */
class VerifyCompletenessSpec extends SparkSpec {

  test("a throwing query still produces a dump dir with an error marker") {
    val out = Files.createTempDirectory("verify_guard").toString
    val qs: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
      "ok_query"  -> ((s: SparkSession, _: String) => s.range(3).toDF("id")),
      "bad_query" -> ((s: SparkSession, _: String) =>
        s.read.parquet("/nonexistent/path/definitely/missing.parquet")),
      "bad_analysis" -> ((s: SparkSession, _: String) =>
        s.range(1).select(org.apache.spark.sql.functions.col("no_such_column"))))
    val failed = Verify.dump(spark, sf001, out, qs)

    assert(failed === Seq("bad_query", "bad_analysis"))
    // every query — good or bad — has an output dir the compare will see
    qs.foreach { case (n, _) =>
      assert(new java.io.File(s"$out/$n").isDirectory, s"missing dump for $n")
    }
    // the error marker is a real readable parquet with the sentinel schema,
    // so the DuckDB compare records a schema-mismatch RED row
    val err = spark.read.parquet(s"$out/bad_query")
    assert(err.columns.toSeq === Seq("_verify_error", "_message"))
    assert(err.count() === 1L)
    val ok = spark.read.parquet(s"$out/ok_query")
    assert(ok.count() === 3L)
  }

  test("registry, queries map, and oracle map agree on the query set") {
    // a duplicate name would vanish from the queries map (last wins) yet
    // be dumped and timed twice from the registry
    val dups = SparkEntry.registry.groupBy(_.name).collect {
      case (n, qs) if qs.size > 1 => n }
    assert(dups.isEmpty, s"duplicate query names in the registry: $dups")
    val registryNames = SparkEntry.registry.map(_.name).toSet
    val queryNames = SparkEntry.queries.keySet
    assert(registryNames === queryNames,
      "registry and queries map must cover the same names")
    val noOracle = queryNames -- SparkEntry.oracleSql.keySet
    assert(noOracle.isEmpty,
      s"queries without an oracle (driver records only rows>0): $noOracle")
  }

  test("specs run in the LocalSession shape the dump and the bench use") {
    val conf = SparkTestSession.spark.conf
    assert(SparkTestSession.spark.sparkContext.master == "local[2]")
    assert(conf.get("spark.sql.shuffle.partitions") == "2")
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.sql.adaptive.coalescePartitions.minPartitionSize") == "64k")
  }
}
