package graft.io

import org.apache.spark.sql.functions._
import graft.SparkSpec

class AuxSourcesSpec extends SparkSpec {
  import spark.implicits._

  test("scrapeUpdateCodes extracts (prefix, mim) from statistics HTML") {
    val html =
      """<table><tr><td>*</td><td><a href="/entry/613456">613456</a></td></tr>
        |<tr><td>#100100</td></tr>
        |<tr><td>%</td><td>100200</td></tr>
        |<tr><td>not a code</td><td>junk</td></tr></table>""".stripMargin
    assert(AuxSources.scrapeUpdateCodes(html) ==
      Seq(("*", "613456"), ("#", "100100"), ("%", "100200")))
  }

  test("removeAngleBrackets strips wrapping <> only") {
    assert(AuxSources.removeAngleBrackets("<https://x/1>") == "https://x/1")
    assert(AuxSources.removeAngleBrackets("https://x/1") == "https://x/1")
  }

  test("staleCacheRows applies the one-day precaution") {
    val cached = Seq(
      ("100100", "2026-01-10"), ("100200", "2026-01-14"), ("100300", "2026-01-15")
    ).toDF("mim", "date_fetched")
    // since 2026-01-15 -> cutoff 2026-01-14 (exclusive below)
    val stale = AuxSources.staleCacheRows(cached, "2026-01-15")
      .select("mim").as[String].collect().toSet
    assert(stale == Set("100100"))
  }

  test("the A11 bad-row guard: hgncSymbolIdMap + assertBadRowRate") {
    val hgnc = Seq(("HGNC:1", "A1"), (null, "B2"), ("HGNC:3", " "), ("HGNC:4", "D4"))
      .toDF("hgnc_id", "symbol")
    // 2 bad of 4: over the 1% rate and over the one-row tolerance
    intercept[IllegalArgumentException](graft.pipeline.OmimPipeline.hgncSymbolIdMap(hgnc))
    // 1 bad of 3 is tolerated, and the bad row is dropped
    val oneBad = hgnc.filter($"symbol" =!= " ")
    assert(graft.pipeline.OmimPipeline.hgncSymbolIdMap(oneBad).as[(String, String)]
      .collect().toSet == Set(("A1", "HGNC:1"), ("D4", "HGNC:4")))
    AuxSources.assertBadRowRate(2, 4, maxRate = 0.6)
    intercept[IllegalArgumentException] {
      AuxSources.assertBadRowRate(2, 4, maxRate = 0.1)
    }
  }
}
