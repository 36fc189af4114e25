package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec
import graft.functions.TextFunctions

/** Streaming dedup must agree with the batch fingerprint semantics (q22):
  * one surviving row per normalized-content fingerprint, same fingerprint
  * set as the batch distinct. */
class CorpusStreamsSpec extends SparkSpec {
  import spark.implicits._

  /** Term that exists only in the vocab map — if it shows up in a plan
    * string, the vocab rode in as a literal instead of a broadcast. */
  private val PlanSentinel = "zz_plan_sentinel_term_xq9"

  // q22's synthesized dup corpus (doubled spaces normalize to the same
  // fingerprint), plus a constant in-watermark ingest time
  private lazy val corpusDir: String = {
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val corpus = docs.unionByName(
      docs.select((col("doc_id") + 200000).as("doc_id"),
        regexp_replace(col("text"), " ", "  ").as("text")))
      .withColumn("ingest_ts", lit("2026-01-01 00:00:00").cast("timestamp"))
    val dir = Files.createTempDirectory("corpus-stream").toString
    corpus.coalesce(1).write.mode("overwrite").parquet(dir)
    dir
  }

  test("streaming dedupByFingerprint == batch distinct fingerprints, one row each") {
    val q = CorpusStreams.dedupByFingerprint(spark.readStream
        .schema("doc_id BIGINT, text STRING, ingest_ts TIMESTAMP")
        .parquet(corpusDir))
      .writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)

    val streamedFps = spark.table("dedup_stream").select("fp")
      .as[String].collect().toSeq
    // exactly one survivor per fingerprint
    assert(streamedFps.size == streamedFps.distinct.size,
      "streaming dedup emitted a fingerprint twice")

    val batchFps = spark.read.parquet(corpusDir)
      .select(TextFunctions.fingerprint(col("text")).as("fp"))
      .distinct().as[String].collect().toSet
    assert(streamedFps.toSet == batchFps,
      "streaming dedup fingerprint set differs from batch distinct")
    // the synthesized corpus halves the fingerprint space: every original
    // doc collides with its doubled-space variant
    val total = spark.read.parquet(corpusDir).count()
    assert(streamedFps.size.toLong <= total / 2 + 1)
    assert(streamedFps.nonEmpty)
  }

  test("streaming dedupIncremental == batch incrementalExactDedup under arrival order") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.Dedup
    // standing index: fingerprints of the first 40 docs (yesterday's
    // corpus); today's stream re-sends half of those (must drop), new
    // docs (must survive once), and within-stream dups (first arrival
    // survives)
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
      .select(col("doc_id"), col("text")).limit(60).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val indexed = docs.take(40)
    val index = indexed.toSeq.toDF("doc_id", "text")
      .select(TextFunctions.fingerprint(col("text")).as("fp"))
    // arrival sequence: 20 re-sends of indexed docs, 20 new docs, then
    // the same 20 new docs again as within-stream dups (new doc_ids so
    // survivorship is decided by fingerprint, not id)
    val newDocs = docs.drop(40)
    val arrivals: Seq[(Long, String)] =
      indexed.take(20).map { case (id, t) => (id + 100000L, t) } ++
        newDocs.map { case (id, t) => (id, t) } ++
        newDocs.map { case (id, t) => (id + 200000L, t) }

    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val stream = CorpusStreams.dedupIncremental(
      mem.toDF().toDF("doc_id", "text")
        .withColumn("ingest_ts", lit("2026-01-01 00:00:00").cast("timestamp")),
      index)
    val q = stream.writeStream.format("memory").queryName("inc_dedup_stream")
      .outputMode("append").start()
    try {
      // three micro-batches cutting across all three arrival classes
      arrivals.grouped(25).foreach { b => mem.addData(b: _*); q.processAllAvailable() }
      val got = spark.table("inc_dedup_stream").select("doc_id")
        .as[Long].collect().toSet
      val batch = Dedup.incrementalExactDedup(index,
        arrivals.zipWithIndex.map { case ((id, t), i) => (id, t, i.toLong) }
          .toDF("doc_id", "text", "ord"),
        col("text"), col("ord"))
        .select("doc_id").as[Long].collect().toSet
      assert(got == batch,
        "streamed incremental-dedup survivors differ from the batch operator")
      assert(got == newDocs.map(_._1).toSet,
        "survivors must be exactly the first arrivals of un-indexed docs")
    } finally q.stop()
  }

  test("streaming quotaPerSource == batch quotaPerGroup on a one-batch corpus") {
    import graft.operators.Sampling
    val quota = 7
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
      .select(col("doc_id"), col("source"),
        Sampling.shuffleKey(col("doc_id"), "quota-spec").as("ord"))
    val dir = Files.createTempDirectory("quota-stream").toString
    docs.coalesce(1).write.mode("overwrite").parquet(dir)

    val streamed = spark.readStream
      .schema("doc_id BIGINT, source STRING, ord BIGINT")
      .parquet(dir)
    val q = CorpusStreams.quotaPerSource(streamed, quota)
      .writeStream.format("memory").queryName("quota_stream")
      .outputMode("append")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)

    val got = spark.table("quota_stream").select("doc_id")
      .as[Long].collect().toSet
    val want = Sampling.quotaPerGroup(
        spark.read.parquet(dir), "source", quota, col("ord"), col("doc_id"))
      .select("doc_id").as[Long].collect().toSet
    assert(got === want, "streaming quota picked a different row set than the batch twin")
    // every source respects the cap
    val perSource = spark.table("quota_stream").groupBy("source").count()
      .as[(String, Long)].collect()
    assert(perSource.forall(_._2 <= quota))
    assert(got.nonEmpty)
  }

  test("streaming count-min build == batch sketch, cell for cell") {
    import graft.operators.Sketches
    // the SAME operator code runs under readStream: the cell grid is a
    // running aggregate (complete mode, ≤ depth·width rows of state) —
    // the streaming form of the sketch's mergeability
    val src = spark.read.parquet(s"$sf001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val dir = Files.createTempDirectory("cm-stream").toString
    src.coalesce(1).write.mode("overwrite").parquet(dir)

    val streamToks = spark.readStream
      .schema("doc_id BIGINT, text STRING").parquet(dir)
      .select(explode(TextFunctions.tokens(col("text"))).as("token"))
    val q = Sketches.countMin(streamToks, col("token"), depth = 2, width = 64, seed = "sm")
      .writeStream.format("memory").queryName("cm_stream")
      .outputMode("complete")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)

    val streamed = spark.table("cm_stream")
      .as[(Int, Long, Long)].collect().toSet
    val batch = Sketches.countMin(
        spark.read.parquet(dir).select(explode(TextFunctions.tokens(col("text"))).as("token")),
        col("token"), depth = 2, width = 64, seed = "sm")
      .as[(Int, Long, Long)].collect().toSet
    assert(streamed === batch, "streaming sketch cells differ from batch")
    assert(streamed.nonEmpty && streamed.size <= 2 * 64)
  }

  test("PII scrub and URL canonicalization run stateless on a stream == batch") {
    // both are pure Column transforms: the streaming twin IS the same
    // call on a readStream frame — no state store, no watermark
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
      .limit(60)
      .select(col("doc_id"),
        concat(col("text"), lit(" mail a@b.org call (555) 123-4567")).as("text"),
        concat(lit("HTTP://WWW.Site"), (col("doc_id") % 7).cast("string"),
          lit(".com:80/x/?utm_s=1&id="), (col("doc_id") % 3).cast("string"),
          lit("#f")).as("url"))
    val dir = Files.createTempDirectory("scrub-stream").toString
    docs.coalesce(1).write.mode("overwrite").parquet(dir)
    def transform(df: org.apache.spark.sql.DataFrame) =
      graft.operators.PiiScrub.scrub(df, col("text"))
        .withColumn("canon_url", graft.operators.UrlOps.canonicalizeUrl(col("url")))
        .select("doc_id", "n_email", "n_phone", "scrubbed", "canon_url")
    val q = transform(spark.readStream
        .schema("doc_id BIGINT, text STRING, url STRING").parquet(dir))
      .writeStream.format("memory").queryName("scrub_stream")
      .outputMode("append")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val streamed = spark.table("scrub_stream")
      .as[(Long, Long, Long, String, String)].collect().toSet
    val batch = transform(spark.read.parquet(dir))
      .as[(Long, Long, Long, String, String)].collect().toSet
    assert(streamed === batch, "stateless scrub/canonicalize diverged on a stream")
    assert(batch.forall { case (_, ne, np, s, u) =>
      ne >= 1 && np >= 1 && s.contains("<EMAIL>") && s.contains("<PHONE>") &&
        u.startsWith("http://site") && u.contains("?id=") && !u.contains("utm")
    })
  }

  test("hygieneStateless: the five-stage composition is stream ≡ batch and stateless") {
    import graft.operators.CorpusStats
    // q86-shaped corpus: synthesized url + PII tail on the real documents
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
      .select(col("doc_id"), col("source"),
        concat(col("text"),
          when(col("doc_id") % 3 === 0,
            concat(lit(" contact user"), col("doc_id").cast("string"),
              lit("@host.org"))).otherwise(lit(""))).as("text"),
        concat(lit("https://"),
          when(col("doc_id") % 2 === 0, lit("www.")).otherwise(lit("")),
          lit("site"), (col("doc_id") % 20).cast("string"),
          lit(".example.com/d?utm_source=x&id="),
          (col("doc_id") % 5).cast("string")).as("url"))
    val dir = Files.createTempDirectory("hygiene-stream").toString
    docs.coalesce(1).write.mode("overwrite").parquet(dir)

    // frozen control-plane inputs: term weights + per-source keep
    // thresholds (derived offline in production; fixed here)
    val weights: Map[String, Long] = {
      val terms = docs.select(explode(TextFunctions.tokens(col("text"))).as("t"))
        .distinct().as[String].collect()
      terms.map(t => t -> ((math.abs(t.hashCode) % 17) - 7).toLong).toMap
    }
    val thresholds = docs.select(col("source").cast("string")).distinct()
      .as[String].collect()
      .map(s => s -> (400000L + (math.abs(s.hashCode) % 400000))).toMap

    def run(df: org.apache.spark.sql.DataFrame) =
      CorpusStreams.hygieneStateless(df, col("url"),
        weights + (PlanSentinel -> 5L), thresholds,
        seed = "hs", maxTokens = 32, stride = 24)

    val q = run(spark.readStream
        .schema("doc_id BIGINT, source STRING, text STRING, url STRING")
        .parquet(dir))
      .writeStream.format("memory").queryName("hygiene_stream")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)

    // stateless end to end: the finished query ran NO stateful operators
    assert(q.lastProgress.stateOperators.isEmpty,
      "hygiene composition grew a stateful operator")

    // broadcast shape: the vocab must NOT ride in the plan as a map
    // literal (re-analyzed/serialized per micro-batch, the bottleneck at
    // fastText-scale vocabs) — the sentinel term injected above would
    // appear verbatim in a typedLit plan
    val planStr = run(spark.read.parquet(dir)).queryExecution.analyzed.toString
    assert(!planStr.contains(PlanSentinel),
      "vocab terms leaked into the plan as literals — not broadcast-shaped")

    val cols = Seq("doc_id", "canon_url", "source", "n_email", "score",
      "chunk_idx", "chunk_start", "chunk_len", "chunk_text")
    val streamed = spark.table("hygiene_stream")
      .select(cols.map(col): _*)
      .as[(Long, String, String, Long, Long, Long, Long, Long, String)]
      .collect().toSet
    val batch = run(spark.read.parquet(dir))
      .select(cols.map(col): _*)
      .as[(Long, String, String, Long, Long, Long, Long, Long, String)]
      .collect().toSet
    assert(streamed === batch,
      "five-stage hygiene composition diverged between stream and batch")
    assert(batch.nonEmpty)
    // gates actually gated: some docs were dropped by score or bucket
    assert(batch.map(_._1).size < docs.count(),
      "no doc was filtered — gates are not exercising")

    // the frozen-weight score is the BATCH linearScore, per doc id
    val wdf = weights.toSeq.toDF("term", "weight")
    val batchScores = CorpusStats.linearScore(
        graft.operators.PiiScrub.scrub(docs, col("text")),
        col("scrubbed"), col("doc_id"), wdf)
      .select(col("doc_id"), col("score")).as[(Long, Long)].collect().toMap
    val frozenScores = batch.groupBy(_._1).map { case (id, rows) =>
      id -> rows.head._5 }
    frozenScores.foreach { case (id, s) =>
      assert(batchScores.getOrElse(id, 0L) === s,
        s"frozen score for doc $id diverged from batch linearScore")
    }
  }
}
