package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.Sampling

/** Corpus-construction operators over the documents table: the
  * deterministic sampling / mixing / capping / ordering steps a
  * reproducible training-data build runs between dedup and export.
  * All hash-driven (md5-bucket scheme shared with the minhash kernels),
  * so the DuckDB oracle reproduces every row exactly.
  */
object CorpusOps {

  /** DuckDB twin of [[Sampling.hashBucket]]. */
  private def bucketSql(seed: String, key: String): String =
    s"(('0x' || substr(md5('$seed' || $key::VARCHAR), 1, 15))::BIGINT % 1000000)"

  /** Deterministic 10% Bernoulli sample by doc_id. */
  val q50DeterministicSample = QueryDef(
    "q50_deterministic_sample",
    (s, d) =>
      Sampling.deterministicSample(Tables.documents(s, d), "doc_id", 0.1, "s1")
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        .orderBy("doc_id"),
    Some(s"""
      SELECT doc_id, lang, source, n_chars
      FROM documents
      WHERE ${bucketSql("s1", "doc_id")} < 100000
      ORDER BY doc_id
    """))

  /** Stratified by language: en 50%, zh 25%, everything else 5%. */
  val q51StratifiedSample = QueryDef(
    "q51_stratified_sample",
    (s, d) =>
      Sampling.stratifiedSample(Tables.documents(s, d), "doc_id", "lang",
          Map("en" -> 0.5, "zh" -> 0.25), defaultFraction = 0.05, seed = "s2")
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy("doc_id"),
    Some(s"""
      SELECT doc_id, lang, n_chars
      FROM documents
      WHERE ${bucketSql("s2", "doc_id")} <
            CASE lang WHEN 'en' THEN 500000 WHEN 'zh' THEN 250000
                 ELSE 50000 END
      ORDER BY doc_id
    """))

  /** Weighted two-corpus mix with provenance: 'web' sources at 50%,
    * 'books' at 100%. */
  val q52CorpusMix = QueryDef(
    "q52_corpus_mix",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val web = docs.filter(col("source").isin("src0", "src1", "src2"))
      val books = docs.filter(col("source").isin("src3", "src4"))
      Sampling.weightedMix(
          Seq(("web", web, 0.5), ("books", books, 1.0)), "doc_id", "s3")
        .select(col("doc_id"), col("source"), col("mix_source"))
        .orderBy("doc_id", "mix_source")
    },
    Some(s"""
      SELECT doc_id, source, mix_source FROM (
        SELECT doc_id, source, 'web' AS mix_source
        FROM documents
        WHERE source IN ('src0', 'src1', 'src2')
          AND ${bucketSql("s3", "doc_id")} < 500000
        UNION ALL
        SELECT doc_id, source, 'books'
        FROM documents
        WHERE source IN ('src3', 'src4')
          AND ${bucketSql("s3", "doc_id")} < 1000000)
      ORDER BY doc_id, mix_source
    """))

  /** Per-source quota: keep the 5 longest docs per source (domain cap). */
  val q53QuotaPerSource = QueryDef(
    "q53_quota_per_source",
    (s, d) =>
      Sampling.quotaPerGroup(Tables.documents(s, d), "source", 5,
          col("n_chars").desc, col("doc_id").asc)
        .select(col("source"), col("doc_id"), col("n_chars"))
        .orderBy("source", "doc_id"),
    Some("""
      SELECT source, doc_id, n_chars
      FROM documents
      QUALIFY row_number() OVER (PARTITION BY source
        ORDER BY n_chars DESC, doc_id) <= 5
      ORDER BY source, doc_id
    """))

  /** Deterministic training-order shuffle: a seeded hash sort that is a
    * plain distributed range sort (no global window, no RNG state). */
  val q54ShuffleOrder = QueryDef(
    "q54_shuffle_order",
    (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          Sampling.shuffleKey(col("doc_id"), "epoch7").as("shuffle_key"))
        .orderBy("shuffle_key", "doc_id"),
    Some(s"""
      SELECT doc_id, ${bucketSql("epoch7", "doc_id")} AS shuffle_key
      FROM documents
      ORDER BY shuffle_key, doc_id
    """))

  /** The composed corpus build: exact dedup (keep-first per
    * fingerprint) → per-source quota cap → stratified language sample,
    * chaining the real operators end to end the way a production
    * pipeline would. Every stage is map-only or partial-top-k; the
    * synthetic duplicates (doubled spaces, shifted ids) come from the
    * q22 corpus construction. */
  val q55CorpusPipeline = QueryDef(
    "q55_corpus_pipeline",
    (s, d) => {
      val docs = Tables.documents(s, d)
        .select("doc_id", "text", "lang", "source", "n_chars")
      val corpus = docs.unionByName(docs.select(
        (col("doc_id") + 200000).as("doc_id"),
        regexp_replace(col("text"), " ", "  ").as("text"),
        col("lang"), col("source"), col("n_chars")))
      val deduped = Sampling.quotaPerGroup(
          corpus.withColumn("fp",
            graft.functions.TextFunctions.fingerprint(col("text"))),
          "fp", 1, col("doc_id").asc)
        .drop("fp", "text")
      val capped = Sampling.quotaPerGroup(deduped, "source", 10,
        col("n_chars").desc, col("doc_id").asc)
      Sampling.stratifiedSample(capped, "doc_id", "lang",
          Map("en" -> 0.5), defaultFraction = 0.2, seed = "p7")
        .orderBy("doc_id")
    },
    Some(s"""
      WITH corpus AS (
        SELECT doc_id, text, lang, source, n_chars FROM documents
        UNION ALL
        SELECT doc_id + 200000, replace(text, ' ', '  '), lang, source, n_chars
        FROM documents),
      deduped AS (
        SELECT doc_id, lang, source, n_chars FROM corpus
        QUALIFY row_number() OVER (
          PARTITION BY md5(regexp_replace(lower(text), '\\s+', ' ', 'g'))
          ORDER BY doc_id) = 1),
      capped AS (
        SELECT * FROM deduped
        QUALIFY row_number() OVER (PARTITION BY source
          ORDER BY n_chars DESC, doc_id) <= 10)
      SELECT doc_id, lang, source, n_chars
      FROM capped
      WHERE ${bucketSql("p7", "doc_id")} <
            CASE lang WHEN 'en' THEN 500000 ELSE 200000 END
      ORDER BY doc_id
    """))

  /** The flagship training-data build: every corpus stage composed in one
    * oracle-gated plan — quality gate (token-count floor) → exact
    * fingerprint dedup (first-id wins) → language-aware mix (predicted
    * lang, en kept whole, rest 30%) → per-source quota → deterministic
    * training shuffle order. Each stage is the REAL operator the
    * standalone queries verify (q18/q19 metrics, q22 fingerprints,
    * q50-family sampling/quota), so the composition — not re-derivations
    * — is what the oracle checks. Everything before the final sort is
    * map-only or partial-top-k: the only shuffles are the two
    * WindowGroupLimit quotas and the output range sort. */
  val q63CorpusBuild = QueryDef(
    "q63_corpus_build",
    (s, d) => {
      import graft.functions.TextFunctions.{fingerprint, langMarkers, markerHits, tokens}
      val docs0 = Tables.documents(s, d)
        .select("doc_id", "text", "lang", "source", "n_chars")
      val corpus = docs0.unionByName(docs0.select(
        (col("doc_id") + 200000).as("doc_id"),
        regexp_replace(col("text"), " ", "  ").as("text"),
        col("lang"), col("source"), col("n_chars")))
      val toks = tokens(col("text"))
      val Seq(en, de, fr, es) = langMarkers.map { case (_, ms) => markerHits(toks, ms) }
      val scored = corpus
        .withColumn("n_tokens", size(toks).cast("long"))
        .withColumn("pred_lang",
          when(en >= greatest(de, fr, es), "en")
            .when(de >= greatest(fr, es), "de")
            .when(fr >= es, "fr")
            .otherwise("es"))
        .filter(col("n_tokens") >= 20)
      val deduped = Sampling.quotaPerGroup(
          scored.withColumn("fp", fingerprint(col("text"))),
          "fp", 1, col("doc_id").asc)
        .drop("fp", "text", "lang")
      val mixed = Sampling.stratifiedSample(deduped, "doc_id", "pred_lang",
        Map("en" -> 1.0), defaultFraction = 0.3, seed = "mix9")
      val capped = Sampling.quotaPerGroup(mixed, "source", 15,
        col("n_chars").desc, col("doc_id").asc)
      capped.select(col("doc_id"), col("source"), col("pred_lang"), col("n_tokens"),
          Sampling.shuffleKey(col("doc_id"), "order3").as("train_bucket"))
        .orderBy("train_bucket", "doc_id")
    },
    Some(s"""
      WITH corpus AS (
        SELECT doc_id, text, lang, source, n_chars FROM documents
        UNION ALL
        SELECT doc_id + 200000, replace(text, ' ', '  '), lang, source, n_chars
        FROM documents),
      t AS (
        SELECT *, list_filter(string_split(text, ' '), w -> len(w) > 0) AS words
        FROM corpus),
      m AS (
        SELECT doc_id, text, source, n_chars, len(words)::BIGINT AS n_tokens,
          len(list_filter(words, w -> list_contains(['the','and','of','is','with'], w))) AS h_en,
          len(list_filter(words, w -> list_contains(['der','und','ist','mit','das'], w))) AS h_de,
          len(list_filter(words, w -> list_contains(['le','et','est','avec','les'], w))) AS h_fr,
          len(list_filter(words, w -> list_contains(['el','y','es','con','los'], w))) AS h_es
        FROM t),
      scored AS (
        SELECT doc_id, text, source, n_chars, n_tokens,
          CASE WHEN h_en >= greatest(h_de, h_fr, h_es) THEN 'en'
               WHEN h_de >= greatest(h_fr, h_es) THEN 'de'
               WHEN h_fr >= h_es THEN 'fr'
               ELSE 'es' END AS pred_lang
        FROM m WHERE n_tokens >= 20),
      deduped AS (
        SELECT * FROM (
          SELECT *, row_number() OVER (
            PARTITION BY md5(regexp_replace(lower(text), '\\s+', ' ', 'g'))
            ORDER BY doc_id) AS rn
          FROM scored) WHERE rn = 1),
      mixed AS (
        SELECT * FROM deduped
        WHERE ${bucketSql("mix9", "doc_id")} <
          CASE pred_lang WHEN 'en' THEN 1000000 ELSE 300000 END),
      capped AS (
        SELECT * FROM (
          SELECT *, row_number() OVER (
            PARTITION BY source ORDER BY n_chars DESC, doc_id) AS rq
          FROM mixed) WHERE rq <= 15)
      SELECT doc_id, source, pred_lang, n_tokens,
             ${bucketSql("order3", "doc_id")} AS train_bucket
      FROM capped
      ORDER BY train_bucket, doc_id
    """))

  /** GPT-style sequence packing ([[Sampling.packSequences]]): the corpus
    * concatenates in 8 hash-sharded deterministic streams and cuts every
    * 512 tokens; each doc's pack layout (shard, offset, bin span) is
    * fully hash-derived, so DuckDB reproduces every row from the same
    * cumsum. The window is partitioned by shard — the distributed form;
    * a global cumsum would serialize the corpus through one partition. */
  val q68SequencePack = QueryDef(
    "q68_sequence_pack",
    (s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"),
        size(graft.functions.TextFunctions.tokens(col("text"))).as("n_tokens"))
      Sampling.packSequences(docs, col("doc_id"), col("n_tokens"),
          col("doc_id"), budget = 512L, numShards = 8, seed = "pack-v1")
        .select(col("doc_id"), col("n_tokens"), col("shard"), col("tok_offset"),
          col("first_bin"), col("last_bin"), col("n_bins"))
        .orderBy("doc_id")
    },
    Some(s"""
      WITH t AS (
        SELECT doc_id,
               len(list_filter(string_split(text, ' '), w -> len(w) > 0))::INT AS n_tokens,
               ${bucketSql("pack-v1", "doc_id")} % 8 AS shard
        FROM documents),
      o AS (
        SELECT doc_id, n_tokens, shard,
               COALESCE(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS "tok_offset"
        FROM t)
      SELECT doc_id, n_tokens, shard, "tok_offset",
             "tok_offset" // 512 AS first_bin,
             ("tok_offset" + greatest(n_tokens, 1) - 1) // 512 AS last_bin,
             (("tok_offset" + greatest(n_tokens, 1) - 1) // 512) - ("tok_offset" // 512) + 1 AS n_bins
      FROM o
      ORDER BY doc_id
    """))

  /** C4-style boilerplate-span removal
    * ([[graft.operators.CorpusStats.dropRepeatedSpans]], 8-word spans,
    * corpus-wide occurrence cap 2): every 10th doc is salted with the
    * same 8-word "banner" prefix, which therefore repeats far past the
    * cap and must be stripped from every salted doc while each doc's own
    * spans survive and reassemble in order. DuckDB recomputes the whole
    * span histogram + ordered reassembly. */
  val q71SpanDedup = QueryDef(
    "q71_span_dedup",
    (s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"),
        when(col("doc_id") % 10 === 0,
          concat(lit("subscribe to our newsletter for daily updates now "), col("text")))
          .otherwise(col("text")).as("text"))
      graft.operators.CorpusStats.dropRepeatedSpans(
          docs, col("text"), col("doc_id"))
        .orderBy("doc_id")
    },
    Some("""
      WITH corpus AS (
        SELECT doc_id,
               CASE WHEN doc_id % 10 = 0
                    THEN 'subscribe to our newsletter for daily updates now ' || text
                    ELSE text END AS text
        FROM documents),
      toks AS (
        SELECT doc_id, list_filter(string_split(text, ' '), w -> len(w) > 0) AS words
        FROM corpus),
      spans AS (
        SELECT doc_id,
               generate_subscripts(sl, 1) - 1 AS pos,
               unnest(sl) AS span
        FROM (
          SELECT doc_id,
                 list_transform(range(0, ((len(words) + 7) // 8)::INT),
                   i -> array_to_string(words[(i*8+1)::INT : (i*8+8)::INT], ' ')) AS sl
          FROM toks)),
      freq AS (SELECT span, count(*) AS n_occ FROM spans GROUP BY span)
      SELECT s.doc_id,
             COALESCE(string_agg(s.span, ' ' ORDER BY s.pos)
               FILTER (WHERE f.n_occ <= 2), '') AS clean_text,
             count(*) AS n_spans,
             sum(CASE WHEN f.n_occ > 2 THEN 1 ELSE 0 END)::BIGINT AS n_dropped
      FROM spans s JOIN freq f USING (span)
      GROUP BY s.doc_id
      ORDER BY doc_id
    """))

  /** The pack manifest ([[Sampling.packManifest]]): the (shard, bin) →
    * ordered member docs layout a training-file writer materializes from
    * q68's packing. DuckDB re-derives the identical bins and the exact
    * member order per bin. */
  val q73PackManifest = QueryDef(
    "q73_pack_manifest",
    (s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"),
        size(graft.functions.TextFunctions.tokens(col("text"))).as("n_tokens"))
      Sampling.packManifest(
          Sampling.packSequences(docs, col("doc_id"), col("n_tokens"),
            col("doc_id"), budget = 512L, numShards = 8, seed = "pack-v1"))
        .orderBy("shard", "bin")
    },
    Some(s"""
      WITH t AS (
        SELECT doc_id,
               len(list_filter(string_split(text, ' '), w -> len(w) > 0))::INT AS n_tokens,
               ${bucketSql("pack-v1", "doc_id")} % 8 AS shard
        FROM documents),
      o AS (
        SELECT doc_id, n_tokens, shard,
               COALESCE(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS "tok_offset"
        FROM t),
      spans AS (
        SELECT doc_id, shard, "tok_offset",
               unnest(range("tok_offset" // 512,
                 ("tok_offset" + greatest(n_tokens, 1) - 1) // 512 + 1)) AS bin
        FROM o)
      SELECT shard, bin, count(*) AS n_docs,
             string_agg(doc_id::VARCHAR, ',' ORDER BY "tok_offset", doc_id) AS doc_ids
      FROM spans
      GROUP BY shard, bin
      ORDER BY shard, bin
    """))

  /** Temperature-T=2 source mixing
    * ([[graft.operators.Sampling.temperatureMixSqrt]]): per-source keep
    * thresholds from integer-sqrt weights and one integer division —
    * bit-reproducible on any engine (the no-transcendentals stance) —
    * then the standard deterministic bucket filter. The oracle
    * recomputes counts, weights, thresholds, and the bucket compare. */
  val q83TemperatureMix = QueryDef(
    "q83_temperature_mix",
    (s, d) => graft.operators.Sampling.temperatureMixSqrt(
        Tables.documents(s, d).select(col("doc_id"), col("source")),
        "source", "doc_id", targetPpm = 300000L, seed = "t2")
      .orderBy("doc_id"),
    Some(s"""
      WITH c AS (
        SELECT source, count(*)::BIGINT AS n,
               floor(sqrt(count(*)))::BIGINT AS w
        FROM documents GROUP BY source),
      t AS (SELECT sum(n)::BIGINT AS nn, sum(w)::BIGINT AS ww FROM c),
      r AS (SELECT c.source, (300000 * t.nn * c.w) // (c.n * t.ww) AS thresh
            FROM c, t)
      SELECT d.doc_id, d.source
      FROM documents d JOIN r ON r.source = d.source
      WHERE ${bucketSql("t2", "doc_id")} < r.thresh
      ORDER BY doc_id
    """))

  /** Sliding-window chunking ([[graft.operators.Sampling.chunkDocuments]]):
    * 32-token chunks at stride 24 (8-token overlap); the oracle replays
    * tokenization, the chunk-count formula, and the 1-based clamped list
    * slices. */
  val q84ChunkDocuments = QueryDef(
    "q84_chunk_documents",
    (s, d) => graft.operators.Sampling.chunkDocuments(
        Tables.documents(s, d), col("doc_id"), col("text"),
        maxTokens = 32, stride = 24)
      .orderBy("doc_id", "chunk_idx"),
    Some("""
      WITH toks AS (
        SELECT doc_id, list_filter(string_split(text, ' '), w -> len(w) > 0) AS ws
        FROM documents),
      nc AS (
        SELECT doc_id, ws,
               CASE WHEN len(ws) <= 32 THEN 1
                    ELSE 1 + ceil((len(ws) - 32)::DOUBLE / 24)::INT END AS nchunks
        FROM toks WHERE len(ws) > 0),
      chunks AS (
        SELECT doc_id, unnest(range(0, nchunks)) AS chunk_idx, ws FROM nc)
      SELECT doc_id, chunk_idx::BIGINT AS chunk_idx,
             (chunk_idx * 24)::BIGINT AS chunk_start,
             len(ws[(chunk_idx*24+1)::INT : (chunk_idx*24+32)::INT])::BIGINT AS chunk_len,
             array_to_string(ws[(chunk_idx*24+1)::INT : (chunk_idx*24+32)::INT], ' ') AS chunk_text
      FROM chunks
      ORDER BY doc_id, chunk_idx
    """))

  /** The round-5 hygiene operators composed END-TO-END in one plan —
    * the shape of a real pre-training ingest: URL-level dedup
    * ([[graft.operators.UrlOps.dedupByUrl]]) → PII scrub
    * ([[graft.operators.PiiScrub.scrub]]) → linear quality-classifier
    * gate ([[graft.operators.CorpusStats.linearScore]], score ≥ 0) →
    * temperature-T=2 source mixing
    * ([[graft.operators.Sampling.temperatureMixSqrt]]) → sliding-window
    * chunking ([[graft.operators.Sampling.chunkDocuments]], counted per
    * doc). Each stage is individually oracle-proven; this row gates the
    * COMPOSITION (joins between stages, column contracts, filter
    * ordering). The oracle recomputes every stage from first principles
    * — the canonical URL directly in closed form, the full 4-rule
    * scrub cascade, vocab/score, integer mix thresholds, and the
    * chunk-count formula. */
  val q86HygienePipeline = QueryDef(
    "q86_hygiene_pipeline",
    (s, d) => {
      import graft.functions.TextFunctions.tokens
      val k = col("doc_id")
      val istr = (e: org.apache.spark.sql.Column) => e.cast("string")
      val url = concat(lit("https://"),
        when(pmod(k, lit(2)) === 0, lit("www.")).otherwise(lit("")),
        lit("site"), istr(pmod(k, lit(200))), lit(".example.com/d/"),
        istr(pmod(k, lit(20))), lit("?utm_source=x&id="), istr(pmod(k, lit(10))))
      val docs = Tables.documents(s, d).withColumn("url", url)
      val kept = graft.operators.UrlOps.dedupByUrl(
        docs, col("url"), k, col("n_chars"))
      val withPii = docs.join(kept.select("doc_id"), "doc_id")
        .select(k, col("source"), concat(col("text"),
          when(pmod(k, lit(3)) === 0,
            concat(lit(" contact user"), istr(k), lit("@host.org")))
            .otherwise(lit(""))).as("text"))
      // materialize the scrub output ONCE: four downstream consumers
      // (vocab, scores, the qual join, chunking) would each re-expand
      // the URL-dedup + 4-rule regex cascade lineage otherwise — the
      // plan audit counted SIX Projects each carrying the full 42-regex
      // chain (≈6 corpus passes; matched warm A/B: 3.3 → 2.4 s at
      // sf0.1, 6.1 → 2.6 s at sf1). At 100 TB the durable form is what a real ingest
      // does anyway: persist the scrubbed corpus to a table between
      // stages — or set graft.barrier.checkpointDir and this same cut
      // becomes a reliable checkpoint (Barrier's scaladoc; plain
      // localCheckpoint blocks die with executors under dynamic
      // allocation — the q131b note applies here too).
      val scrubbed = graft.operators.Barrier.cut(
        graft.operators.PiiScrub.scrub(withPii, col("text"))
          .select(k, col("source"), col("n_email"), col("scrubbed")))
      val vocab = scrubbed
        .select(explode(tokens(col("scrubbed"))).as("term")).distinct()
        .withColumn("__h",
          conv(substring(md5(concat(lit("w8"), col("term"))), 1, 15), 16, 10)
            .cast("long"))
        .filter(pmod(col("__h"), lit(3)) =!= 0)
        .select(col("term"), (pmod(col("__h"), lit(17)) - 8).as("weight"))
      val scores = graft.operators.CorpusStats.linearScore(
          scrubbed, col("scrubbed"), k, vocab)
        .select(col("doc_id"), col("score"))
      val qual = scrubbed.join(scores, "doc_id").filter(col("score") >= 0)
      val mixed = graft.operators.Sampling.temperatureMixSqrt(
        qual, "source", "doc_id", 600000L, "hp")
      val chunkStats = graft.operators.Sampling.chunkDocuments(
          mixed, k, col("scrubbed"), maxTokens = 32, stride = 24)
        .groupBy("doc_id").agg(count(lit(1)).as("n_chunks"))
      mixed
        .withColumn("n_tokens", size(tokens(col("scrubbed"))).cast("long"))
        .join(chunkStats, "doc_id")
        .select(col("doc_id"), col("source"), col("n_email"), col("score"),
          col("n_chunks"), col("n_tokens"))
        .orderBy("doc_id")
    },
    Some("""
      WITH canon AS (
        SELECT doc_id, text, source, n_chars,
          'https://site' || (doc_id % 200) || '.example.com/d/' || (doc_id % 20)
            || '?id=' || (doc_id % 10) AS canon_url
        FROM documents),
      kept AS (
        SELECT doc_id, text, source FROM (
          SELECT doc_id, text, source,
                 row_number() OVER (PARTITION BY canon_url
                                    ORDER BY n_chars DESC, doc_id) AS rn
          FROM canon) WHERE rn = 1),
      pii AS (
        SELECT doc_id, source,
          text || CASE WHEN doc_id % 3 = 0
                       THEN ' contact user' || doc_id || '@host.org'
                       ELSE '' END AS t
        FROM kept),
      s1 AS (
        SELECT doc_id, source,
          len(regexp_extract_all(t, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}'))::BIGINT AS n_email,
          regexp_replace(t, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '<EMAIL>', 'g') AS t
        FROM pii),
      s2 AS (
        SELECT doc_id, source, n_email,
          regexp_replace(t, '\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b', '<SSN>', 'g') AS t
        FROM s1),
      s3 AS (
        SELECT doc_id, source, n_email,
          regexp_replace(t, '\b([0-9]{1,3}\.){3}[0-9]{1,3}\b', '<IP>', 'g') AS t
        FROM s2),
      s4 AS (
        SELECT doc_id, source, n_email,
          regexp_replace(t, '\(?\b[0-9]{3}\)?[ .-]?[0-9]{3}[.-]?[0-9]{4}\b', '<PHONE>', 'g') AS t
        FROM s3),
      toks AS (
        SELECT doc_id, source, n_email, t,
               list_filter(string_split(t, ' '), w -> len(w) > 0) AS ws
        FROM s4),
      tokrows AS (SELECT doc_id, unnest(ws) AS tok FROM toks),
      counts AS (
        SELECT doc_id, tok, count(*)::BIGINT AS cnt
        FROM tokrows GROUP BY doc_id, tok),
      vocab AS (
        SELECT term, (h % 17) - 8 AS weight FROM (
          SELECT DISTINCT tok AS term,
                 ('0x' || substr(md5('w8' || tok), 1, 15))::BIGINT AS h
          FROM tokrows)
        WHERE h % 3 <> 0),
      scoredoc AS (
        SELECT c.doc_id, sum(c.cnt * coalesce(v.weight, 0))::BIGINT AS score
        FROM counts c LEFT JOIN vocab v ON v.term = c.tok GROUP BY c.doc_id),
      qual AS (
        SELECT t.doc_id, t.source, t.n_email, t.ws, s.score
        FROM toks t JOIN scoredoc s USING (doc_id) WHERE s.score >= 0),
      cnts AS (
        SELECT source, count(*)::BIGINT AS n,
               floor(sqrt(count(*)))::BIGINT AS w
        FROM qual GROUP BY source),
      tot AS (SELECT sum(n)::BIGINT AS nn, sum(w)::BIGINT AS ww FROM cnts),
      rts AS (SELECT c.source, (600000 * t.nn * c.w) // (c.n * t.ww) AS thresh
              FROM cnts c, tot t),
      mixed AS (
        SELECT q.* FROM qual q JOIN rts r ON r.source = q.source
        WHERE (('0x' || substr(md5('hp' || q.doc_id::VARCHAR), 1, 15))::BIGINT
               % 1000000) < r.thresh)
      SELECT doc_id, source, n_email, score,
             (CASE WHEN len(ws) <= 32 THEN 1
                   ELSE 1 + ceil((len(ws) - 32)::DOUBLE / 24)::INT END)::BIGINT AS n_chunks,
             len(ws)::BIGINT AS n_tokens
      FROM mixed WHERE len(ws) > 0
      ORDER BY doc_id
    """))

  /** The round-7 STATELESS hygiene composition
    * ([[graft.streaming.CorpusStreams.hygieneStateless]]) run on the
    * batch frame — the same function the streaming parity spec drives
    * over `readStream`, so this row oracle-gates the exact plan a
    * production stream executes: URL canonicalization → PII scrub →
    * frozen-weight per-row linear score (no join, no aggregation — the
    * stateless twin of q86's linearScore stage) → frozen per-source
    * bucket threshold → chunk explode with metadata carried through.
    * Control-plane inputs (term weights, per-source thresholds) are
    * frozen closed-form md5 fixtures the oracle reproduces exactly; the
    * weight universe is the top-4096 scrubbed tokens by document
    * frequency — a BOUNDED collect whatever the corpus size, the shape
    * a production classifier vocab actually has. */
  val q87HygieneStateless = QueryDef(
    "q87_hygiene_stateless",
    (s, d) => {
      val k = col("doc_id")
      val istr = (e: org.apache.spark.sql.Column) => e.cast("string")
      val url = concat(lit("https://"),
        when(pmod(k, lit(2)) === 0, lit("www.")).otherwise(lit("")),
        lit("site"), istr(pmod(k, lit(200))), lit(".example.com/d/"),
        istr(pmod(k, lit(20))), lit("?utm_source=x&id="), istr(pmod(k, lit(10))))
      // both actions in this body (the vocab-derivation collect and the
      // stateless hygiene pass) run regex cascades map-side over a
      // single-row-group input: fan out so they parallelize (guide §2.5;
      // no-op on a properly-laid-out table)
      val docs = graft.operators.ScanLayout.fanOut(
          Tables.documents(s, d), s"$d/documents.parquet", col("doc_id"))
        .select(k, col("source"),
          concat(col("text"), when(pmod(k, lit(3)) === 0,
            concat(lit(" contact user"), istr(k), lit("@host.org")))
            .otherwise(lit(""))).as("text"),
          url.as("url"))
      // 60-bit md5 prefix as a long — the same arithmetic the oracle and
      // hashBucket use, evaluated driver-side for the frozen maps
      def h15(seed: String, v: String): Long = {
        val hex = java.security.MessageDigest.getInstance("MD5")
          .digest((seed + v).getBytes("UTF-8")).map("%02x".format(_)).mkString
        java.lang.Long.parseLong(hex.substring(0, 15), 16)
      }
      // frozen vocab = top-K terms by document frequency (ties by term):
      // the collect is bounded at K rows NO MATTER the corpus size —
      // exactly how a production classifier vocab is derived — where the
      // previous form collected every distinct token (driver-unbounded
      // at sf10+). The oracle replays the same top-K cut.
      val VocabK = 4096
      // the distinct-source set rides the vocab job as an observed
      // metric (every doc row flows through the scrub subtree anyway)
      // instead of a second collect re-running the fan-out exchange —
      // one driver action fewer. Bounded wait + explicit fallback
      // ([[graft.operators.Barrier.observed]]).
      val obs = org.apache.spark.sql.Observation()
      val weights = graft.operators.PiiScrub.scrub(
          docs.observe(obs, collect_set(col("source").cast("string"))
            .as("sources")), col("text"))
        .select(col("doc_id"), explode(
          graft.functions.TextFunctions.tokens(col("scrubbed"))).as("t"))
        .distinct()
        .groupBy("t").agg(count(lit(1)).as("df"))
        .orderBy(col("df").desc, col("t").asc)
        .limit(VocabK)
        .collect().iterator.map(_.getString(0))
        .map { t => val h = h15("w8", t)
          t -> (if (h % 3 == 0) 0L else (h % 17) - 8) }
        .filter(_._2 != 0L).toMap
      val sources: Seq[String] =
        graft.operators.Barrier.observed(obs)(_.getSeq[String](0)) {
          docs.select(col("source").cast("string")).distinct()
            .collect().iterator.map(_.getString(0)).toSeq
        }
      val thresholds = sources
        .map(src => src -> (400000L + h15("th", src) % 400000L)).toMap
      graft.streaming.CorpusStreams.hygieneStateless(docs, col("url"),
        weights, thresholds, seed = "hp")
        .orderBy("doc_id", "chunk_idx")
    },
    Some("""
      WITH pii AS (
        SELECT doc_id, source,
          text || CASE WHEN doc_id % 3 = 0
                       THEN ' contact user' || doc_id || '@host.org'
                       ELSE '' END AS t
        FROM documents),
      s1 AS (
        SELECT doc_id, source,
          len(regexp_extract_all(t, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}'))::BIGINT AS n_email,
          regexp_replace(t, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '<EMAIL>', 'g') AS t
        FROM pii),
      s2 AS (
        SELECT doc_id, source, n_email,
          regexp_replace(t, '\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b', '<SSN>', 'g') AS t
        FROM s1),
      s3 AS (
        SELECT doc_id, source, n_email,
          regexp_replace(t, '\b([0-9]{1,3}\.){3}[0-9]{1,3}\b', '<IP>', 'g') AS t
        FROM s2),
      s4 AS (
        SELECT doc_id, source, n_email,
          regexp_replace(t, '\(?\b[0-9]{3}\)?[ .-]?[0-9]{3}[.-]?[0-9]{4}\b', '<PHONE>', 'g') AS t
        FROM s3),
      toks AS (
        SELECT doc_id, source, n_email,
               list_filter(string_split(t, ' '), w -> len(w) > 0) AS ws
        FROM s4),
      tokrows AS (SELECT doc_id, unnest(ws) AS tok FROM toks),
      counts AS (
        SELECT doc_id, tok, count(*)::BIGINT AS cnt
        FROM tokrows GROUP BY doc_id, tok),
      dfreq AS (
        SELECT tok, count(DISTINCT doc_id)::BIGINT AS df
        FROM tokrows GROUP BY tok),
      topk AS (SELECT tok FROM dfreq ORDER BY df DESC, tok LIMIT 4096),
      vocab AS (
        SELECT term, (h % 17) - 8 AS weight FROM (
          SELECT tok AS term,
                 ('0x' || substr(md5('w8' || tok), 1, 15))::BIGINT AS h
          FROM topk)
        WHERE h % 3 <> 0),
      scoredoc AS (
        SELECT c.doc_id, sum(c.cnt * coalesce(v.weight, 0))::BIGINT AS score
        FROM counts c LEFT JOIN vocab v ON v.term = c.tok GROUP BY c.doc_id),
      gated AS (
        SELECT t.doc_id, t.source, t.n_email, t.ws, s.score
        FROM toks t JOIN scoredoc s USING (doc_id)
        WHERE s.score >= 0
          AND (('0x' || substr(md5('hp' || t.doc_id::VARCHAR), 1, 15))::BIGINT
               % 1000000)
              < 400000 + (('0x' || substr(md5('th' || t.source), 1, 15))::BIGINT
                          % 400000)),
      nc AS (
        SELECT *, CASE WHEN len(ws) <= 32 THEN 1
                       ELSE 1 + ceil((len(ws) - 32)::DOUBLE / 24)::INT END AS nchunks
        FROM gated WHERE len(ws) > 0),
      chunks AS (
        SELECT doc_id, source, n_email, score, ws,
               unnest(range(0, nchunks)) AS chunk_idx
        FROM nc)
      SELECT doc_id,
             'https://site' || (doc_id % 200) || '.example.com/d/'
               || (doc_id % 20) || '?id=' || (doc_id % 10) AS canon_url,
             source, n_email, score,
             chunk_idx::BIGINT AS chunk_idx,
             (chunk_idx * 24)::BIGINT AS chunk_start,
             len(ws[(chunk_idx*24+1)::INT : (chunk_idx*24+32)::INT])::BIGINT AS chunk_len,
             array_to_string(ws[(chunk_idx*24+1)::INT : (chunk_idx*24+32)::INT], ' ') AS chunk_text
      FROM chunks
      ORDER BY doc_id, chunk_idx
    """))

  /** Epoch-replication mixing ([[graft.operators.Sampling.epochMix]]):
    * per-source epoch rates (floor = full copies, fraction = a
    * deterministic hash-bucket slice getting one more) — the multi-epoch
    * mixture-table recipe, complementary to q83's ≤1-pass temperature
    * sampling. Rates are frozen closed-form md5 fixtures (0.5–2.5
    * epochs across sources) the oracle reproduces; the oracle replays
    * floor/fraction/bucket arithmetic and the copy-range explode
    * exactly. */
  val q90EpochMix = QueryDef(
    "q90_epoch_mix",
    (s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("source"))
      def h15(seed: String, v: String): Long = {
        val hex = java.security.MessageDigest.getInstance("MD5")
          .digest((seed + v).getBytes("UTF-8")).map("%02x".format(_)).mkString
        java.lang.Long.parseLong(hex.substring(0, 15), 16)
      }
      val rates = docs.select(col("source").cast("string")).distinct()
        .collect().iterator.map(_.getString(0))
        .map(src => src -> (500000L + h15("ep", src) % 2000000L)).toMap
      graft.operators.Sampling.epochMix(docs, "source", "doc_id", rates, "em")
        .orderBy("doc_id", "epoch")
    },
    Some("""
      WITH r AS (
        SELECT source,
               500000 + (('0x' || substr(md5('ep' || source), 1, 15))::BIGINT
                         % 2000000) AS rate
        FROM (SELECT DISTINCT source FROM documents)),
      n AS (
        SELECT d.doc_id, d.source,
               r.rate // 1000000
                 + CASE WHEN (('0x' || substr(md5('em' || d.doc_id::VARCHAR), 1, 15))::BIGINT
                              % 1000000) < r.rate % 1000000
                        THEN 1 ELSE 0 END AS n
        FROM documents d JOIN r USING (source))
      SELECT doc_id, source, unnest(range(0, n))::BIGINT AS epoch
      FROM n WHERE n > 0
      ORDER BY doc_id, epoch
    """))

  /** Deterministic weighted reservoir (Efraimidis–Spirakis A-Res): 10
    * docs per source, selection probability ∝ n_chars — the "prefer
    * longer documents, but not deterministically the longest" sampling a
    * curriculum/mixture build uses (contrast q53's hard top-k quota).
    * The md5-driven priority replays exactly in the oracle; Spark-side
    * selection is quotaPerGroup, so WindowGroupLimit keeps ≤ k rows per
    * group map-side and the shuffle carries O(sources·k). */
  val q97WeightedReservoir = QueryDef(
    "q97_weighted_reservoir",
    (s, d) =>
      Sampling.weightedReservoir(Tables.documents(s, d), "doc_id", "source",
          col("n_chars"), k = 10, seed = "s9")
        .select(col("source"), col("doc_id"), col("n_chars"))
        .orderBy("source", "doc_id"),
    Some(s"""
      SELECT source, doc_id, n_chars
      FROM documents
      QUALIFY row_number() OVER (PARTITION BY source
        ORDER BY ln((${bucketSql("s9", "doc_id")} + 1) / 1000000.0)
                   / n_chars::DOUBLE DESC,
                 doc_id) <= 10
      ORDER BY source, doc_id
    """))

  /** Leakage-safe train/val/test split: the assignment hashes the GROUP
    * (here `source`, standing in for url-host/domain), so near-dups
    * sharing a group can never straddle a split — the contamination mode
    * a row-hash split invites. Map-only (no join/shuffle before the
    * presentation sort) and stable under growth: a group keeps its split
    * across corpus refreshes. 80/10/10 with remainder to test. */
  val q101GroupedSplit = QueryDef(
    "q101_grouped_split",
    (s, d) =>
      Sampling.groupedSplit(Tables.documents(s, d), "source", "sp1",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select(col("doc_id"), col("source"), col("split"))
        .orderBy("doc_id"),
    Some(s"""
      SELECT doc_id, source,
             CASE WHEN ${bucketSql("sp1", "source")} < 800000 THEN 'train'
                  WHEN ${bucketSql("sp1", "source")} < 900000 THEN 'val'
                  ELSE 'test' END AS split
      FROM documents
      ORDER BY doc_id
    """))

  /** Robust outlier scoring (median/MAD, the length-anomaly gate a
    * quality pipeline prefers over mean/stddev — one 5 MB page does not
    * drag the threshold): per source, z = (x - median) / (1.4826·MAD),
    * flag |z| > 2.5. Two percentile aggregations with the per-source
    * stats broadcast back — the corpus itself never shuffles. Degenerate
    * sources (MAD = 0) are excluded rather than emitting ±∞ scores.
    * median/MAD midpoints of ints are exact doubles, so the z
    * arithmetic and the threshold compare are bit-identical across
    * engines. */
  val q121RobustOutliers = QueryDef(
    "q121_robust_outliers",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val med = docs.groupBy("source")
        .agg(expr("percentile(n_chars, 0.5)").as("med"))
      val withMed = docs.join(broadcast(med), "source")
      val mad = withMed.groupBy("source")
        .agg(expr("percentile(abs(n_chars - med), 0.5)").as("mad"))
      withMed.join(broadcast(mad), "source")
        .filter(col("mad") > 0)
        .withColumn("z", (col("n_chars") - col("med")) / (col("mad") * 1.4826))
        .filter(abs(col("z")) > 2.5)
        .select(col("doc_id"), col("source"), col("n_chars"),
          round(col("z"), 4).as("z"))
        .orderBy("doc_id")
    },
    Some("""
      WITH med AS (
        SELECT source, quantile_cont(n_chars, 0.5) AS med
        FROM documents GROUP BY source),
      wm AS (
        SELECT d.doc_id, d.source, d.n_chars, m.med
        FROM documents d JOIN med m USING (source)),
      mad AS (
        SELECT source, quantile_cont(abs(n_chars - med), 0.5) AS mad
        FROM wm GROUP BY source)
      SELECT doc_id, source, n_chars,
             round((n_chars - med) / (mad * 1.4826), 4) AS z
      FROM wm JOIN mad USING (source)
      WHERE mad > 0 AND abs((n_chars - med) / (mad * 1.4826)) > 2.5
      ORDER BY doc_id
    """))

  val all: Seq[QueryDef] = Seq(
    q50DeterministicSample, q51StratifiedSample, q52CorpusMix,
    q53QuotaPerSource, q54ShuffleOrder, q55CorpusPipeline, q63CorpusBuild,
    q68SequencePack, q71SpanDedup, q73PackManifest, q83TemperatureMix,
    q84ChunkDocuments, q86HygienePipeline, q87HygieneStateless, q90EpochMix,
    q97WeightedReservoir, q101GroupedSplit, q121RobustOutliers)
}
