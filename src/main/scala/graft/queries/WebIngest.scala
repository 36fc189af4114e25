package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.io.Warc

/** Web-corpus ingestion operators — the Common Crawl-shaped front of a
  * training-data pipeline: WARC record parsing (plain and per-record-gzip
  * compressed), HTTP message splitting, and downstream extraction.
  *
  * The synth side builds byte-valid WARC files IN-PLAN from the documents
  * table (one multi-record file per `doc_id % WarcFiles` bucket, odd
  * buckets as concatenated gzip members — the `.warc.gz` layout), so the
  * DuckDB oracle can recompute every parsed field from the generating
  * formulas alone: a parser that mis-frames a record, mis-splits the HTTP
  * head, drops a gzip member, or mangles the length-framed body cannot
  * match. The grouping step is test scaffolding only — production
  * ingestion reads existing `.warc.gz` blobs via `binaryFile` and goes
  * straight to the map-only `flatMap(Warc.parse)` stage.
  */
object WebIngest {

  /** Buckets → synthetic WARC files (bounded file size scaffold). */
  private val WarcFiles = 20L

  /** Deterministic per-process scratch path for the round-trip queries
    * (q99/q123): a fixed name under java.io.tmpdir keyed by PID, reused
    * across every bench/soak invocation in the process with
    * mode("overwrite") — repeated runs REPLACE the copy instead of
    * leaking a corpus-sized directory per run (createTempDirectory would
    * mint a fresh one each time). PID-keyed so concurrent test/bench
    * JVMs never clobber each other's in-flight writes. */
  private def scratchDir(name: String): String = {
    val pid = ProcessHandle.current().pid()
    val p = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"), s"graft-scratch-$pid", name)
    java.nio.file.Files.createDirectories(p.getParent)
    p.toString
  }

  private def targetUri(source: String, docId: Long): String =
    s"http://corpus.example/$source/$docId"

  private def contentTypeOf(docId: Long): String =
    if (docId % 2 == 0) "text/html; charset=UTF-8" else "text/plain; charset=UTF-8"

  /** One synthetic WARC file: leading warcinfo record, then one HTTP 200
    * response record per doc (already sorted by doc_id). Odd buckets are
    * compressed as one gzip member per record — the `.warc.gz` unit. */
  private def buildWarcFile(fileId: Long,
                            rows: Iterator[(Long, String, String)],
                            htmlBodies: Boolean = false): Array[Byte] = {
    val gz = fileId % 2 == 1
    val out = new java.io.ByteArrayOutputStream(1 << 16)
    def emit(rec: Array[Byte]): Unit = out.write(if (gz) Warc.gzipMember(rec) else rec)
    emit(Warc.warcinfoRecord(Warc.recordId(s"file:$fileId"), Warc.warcDate(0),
      "software: graft/1.0\r\n"))
    rows.foreach { case (docId, text, source) =>
      val uri = targetUri(source, docId)
      val body = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val ctype = if (htmlBodies) "text/html; charset=UTF-8" else contentTypeOf(docId)
      val http = Warc.httpResponse(200, "OK", ctype, body)
      emit(Warc.responseRecord(uri, Warc.recordId(uri), Warc.warcDate(docId), http))
    }
    out.toByteArray
  }

  /** Flat row a downstream corpus stage consumes. */
  final case class WarcDocRow(doc_id: Long, target_uri: String, record_id: String,
                              warc_date: String, http_status: Int,
                              content_type: String, n_body_bytes: Long,
                              body_text: String, from_gzip: Boolean)

  /** WARC ingestion end to end: synthesize multi-record WARC files (half
    * of them as concatenated per-record gzip members), parse them back
    * with the real framing parser, split the HTTP messages, and emit one
    * corpus row per response record. The oracle recomputes target URI,
    * RFC 4122-shaped record id (md5-derived), ISO WARC-Date, content
    * type, body bytes, and the gzip flag from the documents table. */
  val q91WarcExtract = QueryDef(
    "q91_warc_extract",
    (s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("text"), col("source"),
          (col("doc_id") % WarcFiles).as("file_id"))
        .as[(Long, String, String, Long)]
      val blobs = docs.groupByKey(_._4)
        .flatMapSortedGroups($"doc_id") { (fileId, rows) =>
          Iterator.single(buildWarcFile(fileId, rows.map(r => (r._1, r._2, r._3))))
        }
      blobs.flatMap(Warc.parse(_))
        .filter(r => r.warc_type == "response")
        .map { r =>
          val docId = r.target_uri.substring(r.target_uri.lastIndexOf('/') + 1).toLong
          WarcDocRow(docId, r.target_uri, r.record_id, r.warc_date,
            r.http_status, r.content_type, r.body.length.toLong,
            new String(r.body, java.nio.charset.StandardCharsets.UTF_8),
            r.from_gzip)
        }
        .toDF()
        .orderBy("doc_id")
    },
    Some("""
      WITH base AS (
        SELECT doc_id, text,
               'http://corpus.example/' || source || '/' || doc_id AS target_uri,
               md5('http://corpus.example/' || source || '/' || doc_id) AS h
        FROM documents)
      SELECT doc_id, target_uri,
             '<urn:uuid:' || substr(h, 1, 8) || '-' || substr(h, 9, 4) || '-' ||
               substr(h, 13, 4) || '-' || substr(h, 17, 4) || '-' ||
               substr(h, 21, 12) || '>' AS record_id,
             strftime(TIMESTAMP '2026-01-01 00:00:00' + to_seconds(doc_id),
                      '%Y-%m-%dT%H:%M:%SZ') AS warc_date,
             200 AS http_status,
             CASE WHEN doc_id % 2 = 0 THEN 'text/html; charset=UTF-8'
                  ELSE 'text/plain; charset=UTF-8' END AS content_type,
             strlen(text)::BIGINT AS n_body_bytes,
             text AS body_text,
             ((doc_id % 20) % 2 = 1) AS from_gzip
      FROM base
      ORDER BY doc_id
    """))

  // ------------------------------------------------------------- q92 html

  /** Constant second content paragraph for `doc_id % 5 == 0` pages —
    * exercises multi-block keeps with an oracle-expressible text. */
  private val ExtraPara = "reference section stable content for padding and balance"

  /** Deterministic page synth: title + script/style noise + nav, article
    * content (the doc text, HTML-escaped), a promo link block on odd ids,
    * an extra content paragraph on multiples of five, and a link footer.
    * By construction the extractor must keep exactly the article
    * paragraph(s) and drop every boilerplate block (nav/promo/footer are
    * ~100% link density; the title is under the length floor). */
  private[queries] def synthHtml(docId: Long, text: String): String = {
    val esc = graft.text.HtmlText.escape(text)
    val extra = if (docId % 5 == 0) s"<p>$ExtraPara</p>" else ""
    val promo =
      if (docId % 2 == 1)
        """<div class="promo"><a href="/buy">Buy now</a> <a href="/offer">Offer</a></div>"""
      else ""
    s"""<html><head><title>Doc $docId</title><script>var x = $docId;</script>""" +
      """<style>.m{color:red}</style></head><body>""" +
      """<nav><a href="/">Home</a> <a href="/about">About</a></nav>""" +
      s"""<article><p>$esc</p>$extra</article>$promo""" +
      """<footer><a href="/tos">Terms</a></footer></body></html>"""
  }

  /** Oracle fragment: collapsed doc text (the synth article block). */
  private val CollapsedText = raw"trim(regexp_replace(text, '[ \t\n\r]+', ' ', 'g'))"

  /** HTML main-content extraction ([[graft.text.HtmlText]]): block
    * segmentation + link-density scoring over deterministically
    * synthesized pages. The oracle recomputes title, block counts, and
    * the surviving main text purely from the generating construction —
    * an extractor that keeps a nav block, drops a content paragraph,
    * splits blocks at the wrong tags, or mangles entity decoding cannot
    * match. */
  val q92HtmlExtract = QueryDef(
    "q92_html_extract",
    (s, d) => {
      import s.implicits._
      Tables.documents(s, d)
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .map { case (id, text) =>
          val r = graft.text.HtmlText.extract(synthHtml(id, text))
          (id, r.title, r.n_blocks, r.n_kept, r.main_text)
        }
        .toDF("doc_id", "title", "n_blocks", "n_kept", "main_text")
        .orderBy("doc_id")
    },
    Some(s"""
      SELECT doc_id,
             'Doc ' || doc_id AS title,
             (4 + CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END
                + CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END)::INT AS n_blocks,
             (1 + CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END)::INT AS n_kept,
             CASE WHEN doc_id % 5 = 0
                  THEN $CollapsedText || chr(10) || '$ExtraPara'
                  ELSE $CollapsedText END AS main_text
      FROM documents
      ORDER BY doc_id
    """))

  // ------------------------------------------------------------ q93 chain

  /** Whitespace token count (q20 convention). */
  private def countTokens(s: String): Long =
    s.split("[ \t\n\r]+").iterator.count(_.nonEmpty).toLong

  /** The full Common Crawl-shaped chain in ONE map-only plan: synth WARC
    * files whose response bodies are the q92 HTML pages → parse records
    * ([[graft.io.Warc]]) → extract main text ([[graft.text.HtmlText]]) →
    * token-count gate. The oracle chains the same constructions in SQL.
    * Everything after the synth grouping scaffold is flatMap/map — the
    * shape that ingests real `.warc.gz` at 100 TB with zero shuffles
    * before the corpus-level stages. */
  val q93CcChain = QueryDef(
    "q93_cc_chain",
    (s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("text"), col("source"),
          (col("doc_id") % WarcFiles).as("file_id"))
        .as[(Long, String, String, Long)]
      val blobs = docs.groupByKey(_._4)
        .flatMapSortedGroups($"doc_id") { (fileId, rows) =>
          Iterator.single(buildWarcFile(fileId,
            rows.map(r => (r._1, synthHtml(r._1, r._2), r._3)), htmlBodies = true))
        }
      blobs.flatMap(Warc.parse(_))
        .filter(r => r.warc_type == "response" && r.http_status == 200 &&
          r.content_type.startsWith("text/html"))
        .map { r =>
          val docId = r.target_uri.substring(r.target_uri.lastIndexOf('/') + 1).toLong
          val html = new String(r.body, java.nio.charset.StandardCharsets.UTF_8)
          val ex = graft.text.HtmlText.extract(html)
          (docId, r.target_uri, ex.title, countTokens(ex.main_text), ex.main_text)
        }
        .toDF("doc_id", "target_uri", "title", "n_tokens", "main_text")
        .filter(col("n_tokens") >= 12)
        .orderBy("doc_id")
    },
    Some(s"""
      WITH extracted AS (
        SELECT doc_id,
               'http://corpus.example/' || source || '/' || doc_id AS target_uri,
               'Doc ' || doc_id AS title,
               CASE WHEN doc_id % 5 = 0
                    THEN $CollapsedText || chr(10) || '$ExtraPara'
                    ELSE $CollapsedText END AS main_text
        FROM documents)
      SELECT doc_id, target_uri, title,
             len(list_filter(string_split_regex(main_text, '[ \t\n\r]+'),
                             t -> t <> ''))::BIGINT AS n_tokens,
             main_text
      FROM extracted
      WHERE len(list_filter(string_split_regex(main_text, '[ \t\n\r]+'),
                            t -> t <> '')) >= 12
      ORDER BY doc_id
    """))

  // ----------------------------------------------------------- q94 robots

  /** Deterministic per-source robots.txt: a `*` group with prefix, allow-
    * override, and `$`-anchored wildcard rules; even-numbered sources add
    * a named GraftBot group — which, per RFC 9309, then applies
    * EXCLUSIVELY (the `*` rules must not leak into it). */
  private[queries] def synthRobots(source: String): String = {
    val k = source.stripPrefix("src").toInt
    val base =
      s"""# robots for $source
         |User-agent: *
         |Disallow: /private/
         |Allow: /private/pub/
         |Disallow: /*.tmp$$
         |""".stripMargin
    if (k % 2 == 0) base + "\nUser-agent: GraftBot\nDisallow: /graft-only/\n"
    else base
  }

  /** RFC 9309 robots.txt URL admission ([[graft.operators.Robots]]):
    * parse ONCE per source into an effective rule list for the crawler
    * token, broadcast the tiny rules dim, and decide each synthesized
    * URL path by longest-pattern match (allow wins ties). The oracle
    * enumerates the decision table from the construction: path class ×
    * group parity — a matcher that leaks `*` rules into the named group,
    * mis-ranks specificity, or mishandles the `$` anchor cannot match. */
  val q94RobotsFilter = QueryDef(
    "q94_robots_filter",
    (s, d) => {
      import org.apache.spark.sql.Row
      val docs = Tables.documents(s, d).select(col("doc_id"), col("source"))
      val rulesUdf = udf { (source: String) =>
        graft.operators.Robots.rulesFor(synthRobots(source), "graftbot")
      }
      val robotsDim = docs.select(col("source")).distinct()
        .withColumn("rules", rulesUdf(col("source")))
      val decideUdf = udf { (rules: Seq[Row], path: String) =>
        val rs = rules.map(r => graft.operators.Robots.Rule(r.getBoolean(0), r.getString(1)))
        graft.operators.Robots.decide(rs, path)
      }
      val cls = col("doc_id") % 7
      val path = when(cls === 0, concat(lit("/a/"), col("doc_id")))
        .when(cls === 1, concat(lit("/private/"), col("doc_id")))
        .when(cls === 2, concat(lit("/private/pub/"), col("doc_id")))
        .when(cls === 3, concat(lit("/file"), col("doc_id"), lit(".tmp")))
        .when(cls === 4, concat(lit("/graft-only/"), col("doc_id")))
        .when(cls === 5, concat(lit("/private/pub/"), col("doc_id"), lit(".tmp")))
        .otherwise(concat(lit("/b/"), col("doc_id")))
      docs.join(broadcast(robotsDim), "source")
        .withColumn("path", path)
        .withColumn("decision", decideUdf(col("rules"), col("path")))
        .select(col("doc_id"), col("source"), col("path"),
          col("decision._1").as("allowed"),
          col("decision._2").as("matched_rule"))
        .orderBy("doc_id")
    },
    Some("""
      WITH base AS (
        SELECT doc_id, source,
               doc_id % 7 AS cls,
               substr(source, 4)::INT % 2 AS k
        FROM documents),
      paths AS (
        SELECT doc_id, source, cls, k,
               CASE cls
                 WHEN 0 THEN '/a/' || doc_id
                 WHEN 1 THEN '/private/' || doc_id
                 WHEN 2 THEN '/private/pub/' || doc_id
                 WHEN 3 THEN '/file' || doc_id || '.tmp'
                 WHEN 4 THEN '/graft-only/' || doc_id
                 WHEN 5 THEN '/private/pub/' || doc_id || '.tmp'
                 ELSE '/b/' || doc_id
               END AS path
        FROM base)
      SELECT doc_id, source, path,
             CASE WHEN k = 0 THEN cls <> 4
                  ELSE cls NOT IN (1, 3) END AS allowed,
             CASE WHEN k = 0 THEN (CASE WHEN cls = 4 THEN '/graft-only/' ELSE '' END)
                  ELSE (CASE cls WHEN 1 THEN '/private/'
                                 WHEN 2 THEN '/private/pub/'
                                 WHEN 3 THEN '/*.tmp$'
                                 WHEN 5 THEN '/private/pub/'
                                 ELSE '' END) END AS matched_rule
      FROM paths
      ORDER BY doc_id
    """))

  /** JSONL interchange round-trip: the documents table is written as
    * newline-delimited JSON (the lingua franca corpora actually ship in —
    * one object per line, splittable, streamable) and read back with an
    * EXPLICIT schema, and the oracle pins the round-trip lossless against
    * the original parquet. Schema-on-read discipline: `spark.read.json`
    * without a schema costs a full inference pass over 100 TB and can
    * silently widen types between runs, so the reader always passes the
    * canonical StructType (a drifted field then fails loudly instead of
    * reading as null-typed). The write is per-run scratch (temp dir,
    * partitioned by Spark) — the exercise is the codec, not the sink
    * location. */
  val q99JsonlRoundtrip = QueryDef(
    "q99_jsonl_roundtrip",
    (s, d) => {
      val dir = scratchDir("jsonl")
      Tables.documents(s, d).write.mode("overwrite").json(dir)
      s.read.schema(Tables.documents(s, d).schema).json(dir)
        .select("doc_id", "text", "lang", "source", "n_chars")
        .orderBy("doc_id")
    },
    Some("""
      SELECT doc_id, text, lang, source, n_chars
      FROM documents
      ORDER BY doc_id
    """))

  /** Row-level dataset diff between two corpus versions — the release
    * audit that accompanies q120's whole-table checksum when the digests
    * DON'T match: full outer join on the key, rows classified
    * added / removed / changed (content hash differs) with unchanged
    * rows dropped. One shuffle on the key with md5 content hashes
    * computed map-side — at 100 TB the diff of two versions never
    * compares text bodies, only 16-byte hashes, and unchanged rows
    * (the overwhelming majority) never reach the output. v2 derives
    * deterministically: doc_id%5==0 edited, %5==1 deleted, plus a new
    * id range appended. */
  val q122DatasetDiff = QueryDef(
    "q122_dataset_diff",
    (s, d) => {
      val v1 = Tables.documents(s, d)
        .select(col("doc_id"), md5(col("text")).as("h1"))
      val v2base = Tables.documents(s, d).filter(col("doc_id") % 5 =!= 1)
        .select(col("doc_id"),
          when(col("doc_id") % 5 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")).as("text"))
      val v2 = v2base.unionByName(
          Tables.documents(s, d).filter(col("doc_id") % 7 === 3)
            .select((col("doc_id") + 900000).as("doc_id"), col("text")))
        .select(col("doc_id"), md5(col("text")).as("h2"))
      v1.join(v2, Seq("doc_id"), "full_outer")
        .withColumn("change",
          when(col("h1").isNull, "added")
            .when(col("h2").isNull, "removed")
            .when(col("h1") =!= col("h2"), "changed"))
        .filter(col("change").isNotNull)
        .select(col("doc_id"), col("change"))
        .orderBy("doc_id")
    },
    Some("""
      WITH v1 AS (
        SELECT doc_id, md5(text) AS h1 FROM documents),
      v2 AS (
        SELECT doc_id,
               md5(CASE WHEN doc_id % 5 = 0 THEN text || ' v2' ELSE text END) AS h2
        FROM documents WHERE doc_id % 5 <> 1
        UNION ALL
        SELECT doc_id + 900000, md5(text) FROM documents WHERE doc_id % 7 = 3)
      SELECT coalesce(v1.doc_id, v2.doc_id) AS doc_id,
             CASE WHEN v1.doc_id IS NULL THEN 'added'
                  WHEN v2.doc_id IS NULL THEN 'removed'
                  WHEN h1 <> h2 THEN 'changed' END AS change
      FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id
      WHERE (v1.doc_id IS NULL OR v2.doc_id IS NULL OR h1 <> h2)
      ORDER BY doc_id
    """))

  /** Hive-style partitioned layout round-trip: orders written
    * `partitionBy(o_year)`, read back with a partition predicate — the
    * data-layout counterpart of q109's z-order: the filter must resolve
    * from DIRECTORY names (PartitionFilters in the scan), so the 1997
    * read touches one partition's files and never opens the rest. At
    * 100 TB this is the difference between scanning a year and scanning
    * the lake; PlanSpec pins the PartitionFilters placement. Scratch
    * temp dir per run — the exercise is the layout, not the location. */
  val q123PartitionPrune = QueryDef(
    "q123_partition_prune",
    (s, d) => {
      val dir = scratchDir("part")
      Tables.orders(s, d)
        .withColumn("o_year", year(col("o_orderdate")))
        .write.partitionBy("o_year").mode("overwrite").parquet(dir)
      s.read.parquet(dir)
        .filter(col("o_year") === 1997)
        .select(col("o_orderkey"), col("o_totalprice"),
          col("o_year").cast("int").as("o_year"))
        .orderBy("o_orderkey")
    },
    Some("""
      SELECT o_orderkey, o_totalprice, year(o_orderdate)::INT AS o_year
      FROM orders
      WHERE year(o_orderdate) = 1997
      ORDER BY o_orderkey
    """))

  /** Small-file compaction ([[graft.operators.Compaction.compact]]) —
    * the OPTIMIZE maintenance primitive q109 (clustering) and q123
    * (partition layout) were missing: a deliberately fragmented orders
    * table (16 shuffle outputs per year directory) is bin-packed back to
    * ~target-size files per partition, and the query returns the
    * POST-compaction per-year row counts + order-independent bit_xor
    * digests (the q120 checksum convention). The oracle computes the
    * same counts/digests from the original table, so any dropped,
    * duplicated, or partition-misfiled row changes a digest and cannot
    * hash-match. File-count reduction and preserved partition pruning
    * are pinned in CompactionSpec (file counts aren't SQL-expressible). */
  val q124CompactFiles = QueryDef(
    "q124_compact_files",
    (s, d) => {
      val in = scratchDir("compact_in")
      val out = scratchDir("compact_out")
      Tables.orders(s, d)
        .withColumn("o_year", year(col("o_orderdate")))
        // fragment: up to 16 small files per year dir. HASH keys, not
        // round-robin: repartition(16) pays the sort-before-repartition
        // pass over the full rows (SPARK-23207) just to build a fixture
        .repartition(16, pmod(col("o_orderkey"), lit(16)))
        .write.partitionBy("o_year").mode("overwrite").parquet(in)
      graft.operators.Compaction.compact(s, in, out,
        partitionCols = Seq("o_year"), binKey = "o_orderkey",
        targetBytes = 128L * 1024 * 1024)
      def rowHash(cols: org.apache.spark.sql.Column*) =
        conv(substring(md5(concat_ws("|", cols: _*)), 1, 15), 16, 10)
          .cast("long")
      s.read.parquet(out)
        .withColumn("h", rowHash(col("o_orderkey"), col("o_custkey"),
          round(col("o_totalprice") * 100, 0).cast("long")))
        .groupBy(col("o_year").cast("int").as("o_year"))
        .agg(count(lit(1)).as("n_rows"), expr("bit_xor(h)").as("digest"))
        .orderBy("o_year")
    },
    Some("""
      SELECT year(o_orderdate)::INT AS o_year, count(*) AS n_rows,
             bit_xor(('0x' || substr(md5(
               o_orderkey::VARCHAR || '|' || o_custkey::VARCHAR || '|' ||
               round(o_totalprice * 100)::BIGINT::VARCHAR), 1, 15))::BIGINT)
               AS digest
      FROM orders
      GROUP BY 1
      ORDER BY o_year
    """))

  /** CLUSTERED compaction ([[graft.operators.Compaction.compactClustered]])
    * — the `OPTIMIZE ... ZORDER BY` maintenance shape: the fragmented
    * per-year orders table is rewritten into ~target-size files RANGE-
    * split on the q109 z-order key of (custkey, order day), so each
    * output file covers a tight, disjoint Morton range and parquet
    * footer min/max statistics prune scans on either dimension. The
    * oracle is the same framing-independent per-year count + bit_xor
    * digest as q124 (any dropped/duplicated/misfiled row flips a
    * digest); the range-disjointness of the actual files is pinned in
    * CompactionSpec (file layout isn't SQL-expressible). */
  val q124bCompactZorder = QueryDef(
    "q124b_compact_zorder",
    (s, d) => {
      val in = scratchDir("compactz_in")
      val out = scratchDir("compactz_out")
      Tables.orders(s, d)
        .withColumn("o_year", year(col("o_orderdate")))
        .repartition(16, pmod(col("o_orderkey"), lit(16))) // see q124
        .write.partitionBy("o_year").mode("overwrite").parquet(in)
      val zkey = graft.operators.Bucketing.zOrderKey(
        pmod(col("o_custkey"), lit(1024L)),
        pmod(datediff(col("o_orderdate"), lit("1992-01-01")), lit(1024)), 10)
      graft.operators.Compaction.compactClustered(s, in, out,
        partitionCols = Seq("o_year"), clusterKey = zkey,
        targetBytes = 128L * 1024 * 1024)
      def rowHash(cols: org.apache.spark.sql.Column*) =
        conv(substring(md5(concat_ws("|", cols: _*)), 1, 15), 16, 10)
          .cast("long")
      s.read.parquet(out)
        .withColumn("h", rowHash(col("o_orderkey"), col("o_custkey"),
          round(col("o_totalprice") * 100, 0).cast("long")))
        .groupBy(col("o_year").cast("int").as("o_year"))
        .agg(count(lit(1)).as("n_rows"), expr("bit_xor(h)").as("digest"))
        .orderBy("o_year")
    },
    Some("""
      SELECT year(o_orderdate)::INT AS o_year, count(*) AS n_rows,
             bit_xor(('0x' || substr(md5(
               o_orderkey::VARCHAR || '|' || o_custkey::VARCHAR || '|' ||
               round(o_totalprice * 100)::BIGINT::VARCHAR), 1, 15))::BIGINT)
               AS digest
      FROM orders
      GROUP BY 1
      ORDER BY o_year
    """))

  /** Population-stability-index drift detection between corpus versions
    * — the data-quality monitor a training pipeline runs before every
    * retrain: bucket a feature (document length) by the REFERENCE
    * version's deciles, compare the current version's bucket shares,
    * PSI = Σ (p_cur − p_ref)·ln(p_cur/p_ref). Decile boundaries come
    * from [[graft.operators.Sketches.quantileSketch]] (deterministic,
    * mergeable, O(k) state — the 100 TB path; boundaries collect as ONE
    * 9-value row), and each version's bucket counts come from
    * [[graft.streaming.DriftStreams.psiDriftStream]] (a map-side
    * boundary count, one aggregate per version). Laplace smoothing —
    * 0.5 per contributing bucket, (n+0.5)/(N+0.5·B), the engine-wide
    * PSI convention
    * ([[graft.streaming.DriftStreams.psiFromCounts]]) — keeps empty
    * buckets finite deterministically in both engines; at the 10
    * decile buckets here it equals the classic (n+0.5)/(N+5). The
    * current version mirrors q122's drift (dropped, edited, and
    * duplicated docs), so the shift is real, not synthetic noise. */
  val q126PsiDrift = QueryDef(
    "q126_psi_drift",
    (s, d) => {
      val ref = Tables.documents(s, d)
        .select(col("doc_id"), length(col("text")).cast("double").as("x"))
      val cur = Tables.documents(s, d).filter(col("doc_id") % 5 =!= 1)
        .select(col("doc_id"),
          when(col("doc_id") % 5 === 0, length(col("text")) + 3)
            .otherwise(length(col("text"))).cast("double").as("x"))
        .unionByName(Tables.documents(s, d).filter(col("doc_id") % 7 === 3)
          .select((col("doc_id") + 900000).as("doc_id"),
            length(col("text")).cast("double").as("x")))
      val qs = (1 to 9).map(_ / 10.0)
      // whole-table sketch: the GLOBAL form (TakeOrdered top-k, bounded
      // at any scale — a constant-group quantileSketch would funnel the
      // table through one window task, see Sketches.quantileSketchAll)
      val bounds = graft.operators.Sketches.quantileSketchAll(
        ref, col("doc_id"), col("x"), 200, "psi", qs)
        .head() // one row by construction
      val bs = (1 to 9).map(i => bounds.getDouble(i)) // after n_kept
      val dist = graft.streaming.DriftStreams.psiDriftStream(_, col("x"), bs)
      val joined = dist(ref).withColumnRenamed("n_cur", "n_ref")
        .join(dist(cur), Seq("bucket"), "full_outer")
        .select(col("bucket"),
          coalesce(col("n_ref"), lit(0L)).as("n_ref"),
          coalesce(col("n_cur"), lit(0L)).as("n_cur"))
      // the PSI tail folds DRIVER-SIDE over the collected ≤ 10-row
      // bucket frame — the same [[graft.streaming.DriftStreams
      // .psiFromCounts]] fold the streaming monitor derives PSI with,
      // so batch and stream PSI share ONE code path. (The r9 form
      // attached totals and the PSI sum as broadcast 1-row aggregates;
      // plan-clean, but the two extra exchange stages cost a measured
      // ~0.3 s of fixed overhead per run for a frame that is bounded
      // metadata by construction — one row per decile bucket.)
      val rows = joined.collect().sortBy(_.getInt(0))
      val psi = BigDecimal(graft.streaming.DriftStreams.psiFromCounts(
        cur = rows.map(r => r.getInt(0) -> r.getLong(2)).toMap,
        ref = rows.map(r => r.getInt(0) -> r.getLong(1)).toMap))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      import s.implicits._
      rows.map(r => (r.getInt(0), r.getLong(1), r.getLong(2), psi)).toSeq
        .toDF("bucket", "n_ref", "n_cur", "psi_total")
    },
    Some("""
      WITH ref AS (
        SELECT doc_id, length(text)::DOUBLE AS x FROM documents),
      cur AS (
        SELECT doc_id,
               (CASE WHEN doc_id % 5 = 0 THEN length(text) + 3
                     ELSE length(text) END)::DOUBLE AS x
        FROM documents WHERE doc_id % 5 <> 1
        UNION ALL
        SELECT doc_id + 900000, length(text)::DOUBLE FROM documents
        WHERE doc_id % 7 = 3),
      kept AS (
        SELECT x FROM (
          SELECT x, ('0x' || substr(md5('psi' || doc_id::VARCHAR), 1, 15))::BIGINT AS h
          FROM ref) QUALIFY row_number() OVER (ORDER BY h, x) <= 200),
      sk AS (SELECT count(*) AS n, list_sort(list(x)) AS vs FROM kept),
      bounds AS (
        SELECT [vs[greatest(1, ceil(0.1 * n)::INT)], vs[greatest(1, ceil(0.2 * n)::INT)],
                vs[greatest(1, ceil(0.3 * n)::INT)], vs[greatest(1, ceil(0.4 * n)::INT)],
                vs[greatest(1, ceil(0.5 * n)::INT)], vs[greatest(1, ceil(0.6 * n)::INT)],
                vs[greatest(1, ceil(0.7 * n)::INT)], vs[greatest(1, ceil(0.8 * n)::INT)],
                vs[greatest(1, ceil(0.9 * n)::INT)]] AS bl
        FROM sk),
      dr AS (
        SELECT len(list_filter((SELECT bl FROM bounds), b -> ref.x >= b)) AS bucket,
               count(*) AS n_ref
        FROM ref GROUP BY 1),
      dc AS (
        SELECT len(list_filter((SELECT bl FROM bounds), b -> cur.x >= b)) AS bucket,
               count(*) AS n_cur
        FROM cur GROUP BY 1),
      j AS (
        SELECT coalesce(dr.bucket, dc.bucket) AS bucket,
               coalesce(n_ref, 0) AS n_ref, coalesce(n_cur, 0) AS n_cur
        FROM dr FULL OUTER JOIN dc ON dr.bucket = dc.bucket),
      p AS (
        SELECT bucket, n_ref, n_cur,
               (n_ref + 0.5) / (sum(n_ref) OVER () + 0.5 * count(*) OVER ()) AS pr,
               (n_cur + 0.5) / (sum(n_cur) OVER () + 0.5 * count(*) OVER ()) AS pc
        FROM j)
      SELECT bucket, n_ref, n_cur,
             round(sum((pc - pr) * ln(pc / pr)) OVER (), 4) AS psi_total
      FROM p ORDER BY bucket
    """))

  val all: Seq[QueryDef] = Seq(q91WarcExtract, q92HtmlExtract, q93CcChain,
    q94RobotsFilter, q99JsonlRoundtrip, q122DatasetDiff, q123PartitionPrune,
    q124CompactFiles, q124bCompactZorder, q126PsiDrift)
}
