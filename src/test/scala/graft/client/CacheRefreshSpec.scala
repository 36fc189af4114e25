package graft.client

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** End-to-end cache refresh (update_cache__pubmed_refs_and_mappings,
  * omim_txt_parser.py:516-585): decide → fetch → parse → upsert → write,
  * over the checked-in cache fixtures + a deterministic transport. */
class CacheRefreshSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "src/test/resources/omim"

  private def readCache(p: String): DataFrame =
    spark.read.option("sep", "\t").option("header", "true").csv(p)

  private lazy val cached = CacheRefresh.CacheTables(
    mappings = readCache(s"$dir/mappings.tsv"),
    pubmed = readCache(s"$dir/pubmed-refs.tsv"))

  private lazy val phenos = Seq("100100", "100200", "100300").toDF("mim")

  /** Transport emitting mapped ids + references per mim, exercising the
    * umls ','-split, the orphanet ';;;'/';;'-compound split, and pubmed
    * extraction incl. a reference without a pubmedID. */
  private final class RichStub extends OmimClient.Transport {
    def fetchBatch(mims: Seq[String]): String = {
      val entries = mims.map { m =>
        s"""{"entry": {"mimNumber": $m, "status": "live",
           | "externalLinks": {"umlsIDs": "C$m,CX$m",
           |  "orphanetDiseases": " 111;;22;;First;;;333;;44;;Second "},
           | "referenceList": [{"reference": {"pubmedID": 9$m}},
           |  {"reference": {"title": "no pmid"}}]}}""".stripMargin
      }
      s"""{"omim": {"version": "1.0", "entryList": [${entries.mkString(",")}]}}"""
    }
  }

  test("seed mode anti-joins ids cached in either table") {
    val all = Seq("1", "2", "3", "3").toDF("mim")
    val tables = CacheRefresh.CacheTables(
      mappings = Seq("2").toDF("mim"), pubmed = Seq("3").toDF("mim"))
    val r = CacheRefresh.idsToFetch(all, tables, sinceDate = None)
      .as[String].collect().toSeq
    assert(r == Seq("1"))
  }

  test("seed mode fetches only uncached ids and upserts them") {
    val allMims = Seq("100100", "100300", "614041").toDF("mim")
    val out = CacheRefresh.refresh(spark, cached, allMims, phenos,
      new RichStub, fetchDate = "2026-08-12")
    val m = out.mappings.orderBy("mim").collect()
    assert(m.map(_.getAs[String]("mim")).toSeq ==
      Seq("100100", "100200", "100300", "614041"))
    // cached rows untouched (100300 never refetched: union of both caches)
    assert(m.find(_.getAs[String]("mim") == "100100").get
      .getAs[String]("date_fetched") == "2026-01-15")
    val fresh = m.find(_.getAs[String]("mim") == "614041").get
    assert(fresh.getAs[String]("umls_ids") == "C614041|CX614041")
    assert(fresh.getAs[String]("orphanet_ids") == "111|333")
    assert(fresh.getAs[String]("is_phenotype") == "False")
    assert(fresh.getAs[String]("date_fetched") == "2026-08-12")
    val p = out.pubmed.orderBy("mim").collect()
    assert(p.map(_.getAs[String]("mim")).toSeq ==
      Seq("100100", "100200", "614041"))
    assert(p.find(_.getAs[String]("mim") == "614041").get
      .getAs[String]("pmid_refs") == "9614041")
  }

  test("incremental mode refetches exactly the stale rows") {
    // since 2026-01-15 with the 1-day precaution: nothing is stale
    val unchanged = CacheRefresh.refresh(spark, cached, Seq.empty[String].toDF("mim"),
      phenos, new RichStub, fetchDate = "2026-08-12", sinceDate = Some("2026-01-15"))
    assert(unchanged.mappings.filter(col("date_fetched") === "2026-08-12").count() == 0)
    assert(unchanged.mappings.count() == 3 && unchanged.pubmed.count() == 2)
    // since 2026-02-01: every cached row is stale; all refetched, and the
    // pubmed table gains 100300 (stale in mappings, absent from pubmed)
    val out = CacheRefresh.refresh(spark, cached, Seq.empty[String].toDF("mim"),
      phenos, new RichStub, fetchDate = "2026-08-12", sinceDate = Some("2026-02-01"))
    assert(out.mappings.count() == 3)
    assert(out.mappings.filter(col("date_fetched") === "2026-08-12").count() == 3)
    assert(out.mappings.filter(col("mim") === "100100").head()
      .getAs[String]("umls_ids") == "C100100|CX100100")
    assert(out.mappings.filter(col("mim") === "100100").head()
      .getAs[String]("is_phenotype") == "True")
    assert(out.pubmed.orderBy("mim").collect().map(_.getAs[String]("mim")).toSeq ==
      Seq("100100", "100200", "100300"))
  }

  test("writeCaches produces both sorted TSVs with headers") {
    val tmp = Files.createTempDirectory("cache").toString
    val out = CacheRefresh.refresh(spark, cached,
      Seq("614041").toDF("mim"), phenos, new RichStub, fetchDate = "2026-08-12")
    CacheRefresh.writeCaches(out, s"$tmp/mappings.tsv", s"$tmp/pubmed-refs.tsv")
    val part = Files.list(Paths.get(s"$tmp/mappings.tsv")).iterator().asScala
      .find(p => p.toString.contains("part-") && !p.toString.endsWith(".crc")).get
    val lines = Files.readAllLines(part).asScala
    assert(lines.head == "mim\tis_phenotype\tdate_fetched\tumls_ids\torphanet_ids")
    assert(lines.tail.map(_.split("\t", -1)(0)).toSeq ==
      Seq("100100", "100200", "100300", "614041"))
    val pPart = Files.list(Paths.get(s"$tmp/pubmed-refs.tsv")).iterator().asScala
      .find(p => p.toString.contains("part-") && !p.toString.endsWith(".crc")).get
    val pl = Files.readAllLines(pPart).asScala
    assert(pl.head == "mim\tis_phenotype\tdate_fetched\tpmid_refs")
    assert(pl.exists(_.startsWith("614041\tFalse\t2026-08-12\t9614041")))
  }
}
