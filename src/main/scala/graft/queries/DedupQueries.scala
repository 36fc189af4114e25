package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextFunctions._
import graft.functions.VectorFunctions
import graft.operators.Dedup

/** Deduplication operator suite over the `documents` / `embeddings` tables
  * (SURVEY.md north star: exact, MinHash+LSH, n-gram Jaccard, SimHash,
  * embedding-cosine near-dup).
  *
  * The synthetic corpus has no natural duplicates, so each query first
  * derives a deterministic augmented corpus in-plan (exact copies with
  * doubled spaces; near-dup copies with the first word dropped; embedding
  * copies with one perturbed component). Both engines build the same corpus,
  * so the oracle checks the dedup math end-to-end.
  *
  * Scale shape (the part that matters at 100 TB):
  *  - exact dedup: one hash shuffle on the 128-bit fingerprint;
  *  - LSH: shuffle on (band, band_hash) only — candidate generation never
  *    materializes the n² pair space;
  *  - Jaccard verify: cost bounded by candidate volume;
  *  - simhash: map-only fingerprint stage;
  *  - embedding near-dup: broadcast the (small) probe set, stream the corpus.
  */
object DedupQueries {

  /** documents ∪ whitespace-variant copies (exact dups after normalization). */
  private def corpusExact(s: SparkSession, d: String): DataFrame = {
    val doc = Tables.documents(s, d).select(col("doc_id"), col("text"))
    doc.unionByName(doc.select(
      (col("doc_id") + 200000).as("doc_id"),
      regexp_replace(col("text"), " ", "  ").as("text")))
  }

  /** documents ∪ near-dup copies (first word dropped). */
  private def corpusNear(s: SparkSession, d: String): DataFrame = {
    val doc = Tables.documents(s, d).select(col("doc_id"), col("text"))
    doc.unionByName(doc.select(
      (col("doc_id") + 100000).as("doc_id"),
      regexp_replace(col("text"), "^[^ ]+ ", "").as("text")))
  }

  private val corpusNearSql = """
      corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 100000, regexp_replace(text, '^[^ ]+ ', '') FROM documents)"""

  /** Shared oracle CTE chain: corpus → tokens → 3-shingles → 60-bit shingle
    * hashes → 4 bands of 2 affine-permutation minhashes (mirrors
    * TextFunctions.shingleHash/minhashInt/bandHashInt exactly). */
  private val bandsSql = s"""
      $corpusNearSql,
      toks AS (
        SELECT doc_id, list_filter(string_split(text, ' '), w -> len(w) > 0) AS words
        FROM corpus),
      sh AS (
        SELECT doc_id,
          list_transform(range(1, len(words) - 1),
            i -> concat_ws(' ', words[i], words[i+1], words[i+2])) AS s
        FROM toks WHERE len(words) >= 3),
      hs AS (
        SELECT doc_id,
          list_transform(s, x -> ('0x' || substr(md5(x), 1, 15))::BIGINT) AS h
        FROM sh),
      bands AS (
        SELECT doc_id, b.band,
          list_min(list_transform(h, v ->
            ((v % 2147483647) * (37 + 61*(b.band*2)) + (101 + 31*(b.band*2))) % 2147483647))
            * 2147483647 +
          list_min(list_transform(h, v ->
            ((v % 2147483647) * (37 + 61*(b.band*2+1)) + (101 + 31*(b.band*2+1))) % 2147483647))
            AS band_hash
        FROM hs CROSS JOIN (SELECT unnest(range(4)) AS band) b)"""

  /** Exact duplicate groups by normalized-text fingerprint (ref analog:
    * cache dedup-by-key, omim_txt_parser.py:575-585). */
  val q22ExactDedup = QueryDef(
    "q22_exact_dedup",
    (s, d) =>
      Dedup.exactGroups(corpusExact(s, d), col("text"), col("doc_id"))
        .orderBy("rep_id"),
    Some("""
      WITH corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 200000, replace(text, ' ', '  ') FROM documents)
      SELECT md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fp,
             min(doc_id) AS rep_id, count(*) AS n_dups
      FROM corpus
      GROUP BY 1 HAVING count(*) > 1
      ORDER BY rep_id
    """))

  /** MinHash + banded LSH candidate pairs: 8 hash permutations in 4 bands of
    * 2; documents collide iff a full band agrees. The candidate join
    * shuffles on (band, band_hash), never n². */
  val q23MinhashLsh = QueryDef(
    "q23_minhash_lsh",
    (s, d) => {
      val bands = Dedup.minhashBands(corpusNear(s, d), col("text"), col("doc_id"))
      Dedup.lshCandidatePairs(bands).orderBy("id_a", "id_b")
    },
    Some(s"""
      WITH $bandsSql
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a
      JOIN bands b ON a.band = b.band AND a.band_hash = b.band_hash
                  AND a.doc_id < b.doc_id
      ORDER BY id_a, id_b
    """))

  /** Exact 3-gram Jaccard verification of the LSH candidates — the verify
    * stage that makes LSH dedup precise. Only candidate pairs pay the
    * set-intersection cost. */
  val q24JaccardVerify = QueryDef(
    "q24_jaccard_verify",
    (s, d) => {
      val corpus = corpusNear(s, d)
      val pairs = Dedup.lshCandidatePairs(
        Dedup.minhashBands(corpus, col("text"), col("doc_id")))
      Dedup.jaccardPairs(corpus, col("text"), col("doc_id"), pairs)
        .filter(col("jaccard") >= 0.4)
        .select(col("id_a"), col("id_b"), col("n_inter"), col("n_a"), col("n_b"),
          round(col("jaccard"), 6).as("jaccard"))
        .orderBy("id_a", "id_b")
    },
    Some(s"""
      WITH $bandsSql,
      pairs AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bands a
        JOIN bands b ON a.band = b.band AND a.band_hash = b.band_hash
                    AND a.doc_id < b.doc_id),
      -- shingles hashed to the shared 60-bit md5 prefix (same as Spark's
      -- jaccardPairs): intersections compare distinct HASH sets, sizes
      -- count distinct shingles pre-hash
      ex AS (SELECT doc_id AS sid,
                    unnest(list_distinct(list_transform(list_distinct(s),
                      g -> ('0x'||substr(md5(g),1,15))::BIGINT))) AS g
             FROM sh),
      sizes AS (SELECT doc_id AS sid, len(list_distinct(s)) AS n FROM sh),
      inter AS (
        SELECT p.id_a, p.id_b, count(*) AS n_inter
        FROM pairs p
        JOIN ex a ON a.sid = p.id_a
        JOIN ex b ON b.sid = p.id_b AND a.g = b.g
        GROUP BY p.id_a, p.id_b)
      SELECT i.id_a, i.id_b, i.n_inter, sa.n AS n_a, sb.n AS n_b,
             round(i.n_inter::DOUBLE / (sa.n + sb.n - i.n_inter), 6) AS jaccard
      FROM inter i
      JOIN sizes sa ON sa.sid = i.id_a
      JOIN sizes sb ON sb.sid = i.id_b
      WHERE i.n_inter::DOUBLE / (sa.n + sb.n - i.n_inter) >= 0.4
      ORDER BY id_a, id_b
    """))

  /** 16-bit portable SimHash fingerprints + Hamming distance between each
    * document and its near-dup variant (small distance) — the map-only
    * near-dup fingerprint family. */
  val q25SimhashHamming = QueryDef(
    "q25_simhash_hamming",
    (s, d) => {
      import org.apache.spark.sql.graft.ColumnBridge.{column, expression}
      import graft.expressions.SimhashBitsExpr
      def sim(c: org.apache.spark.sql.Column) =
        column(SimhashBitsExpr(expression(c), 16))
      val sOrig = sim(col("text"))
      val sPert = sim(regexp_replace(col("text"), "^[^ ]+ ", ""))
      Tables.documents(s, d)
        .select(col("doc_id"), sOrig.as("simhash"), sPert.as("simhash_pert"))
        .withColumn("hamming",
          size(filter(sequence(lit(1), lit(16)),
            i => col("simhash").substr(i, lit(1)) =!= col("simhash_pert").substr(i, lit(1))))
            .cast("long"))
        .orderBy("doc_id")
    },
    Some("""
      WITH t AS (
        SELECT doc_id,
               list_filter(string_split(text, ' '), w -> len(w) > 0) AS w_orig,
               list_filter(string_split(regexp_replace(text, '^[^ ]+ ', ''), ' '),
                           w -> len(w) > 0) AS w_pert
        FROM documents),
      sh AS (
        SELECT doc_id,
          list_aggregate(list_transform(range(0, 16), b ->
            CASE WHEN COALESCE(list_sum(list_transform(w_orig, t ->
              2*((strpos('0123456789abcdef', substr(md5(t), (b//4)::INT + 1, 1)) - 1)
                 // ([8,4,2,1][(b%4)+1]) % 2) - 1)), 0) >= 0
            THEN '1' ELSE '0' END), 'string_agg', '') AS simhash,
          list_aggregate(list_transform(range(0, 16), b ->
            CASE WHEN COALESCE(list_sum(list_transform(w_pert, t ->
              2*((strpos('0123456789abcdef', substr(md5(t), (b//4)::INT + 1, 1)) - 1)
                 // ([8,4,2,1][(b%4)+1]) % 2) - 1)), 0) >= 0
            THEN '1' ELSE '0' END), 'string_agg', '') AS simhash_pert
        FROM t)
      SELECT doc_id, simhash, simhash_pert,
             list_sum(list_transform(range(1, 17), i ->
               CASE WHEN substr(simhash, i::INT, 1) <> substr(simhash_pert, i::INT, 1)
                    THEN 1 ELSE 0 END))::BIGINT AS hamming
      FROM sh
      ORDER BY doc_id
    """))

  /** Embedding-cosine near-dup: perturbed probe set (one doubled component)
    * vs the original corpus; cosine ≥ 0.8 keeps exactly the true near-dup
    * pairs (natural max cross-similarity in this corpus is ~0.51). The probe
    * side is broadcast — the corpus side streams map-only. */
  val q26EmbedNearDup = QueryDef(
    "q26_embed_neardup",
    (s, d) => {
      import VectorFunctions.{dot, unit}
      val emb = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
      // Normalize each side ONCE map-side; the O(pairs) term is then a
      // single codegen'd dot product per pair instead of dot + 2 norms.
      val corpus = emb.select(col("vec_id"), unit(col("e")).as("ue"))
      val probes = emb
        .select((col("vec_id") + 100000).as("probe_id"),
          concat(array(element_at(col("e"), 1) * 2.0), slice(col("e"), 2, 63)).as("p"))
        .select(col("probe_id"), unit(col("p")).as("up"))
      corpus.join(broadcast(probes))
        .withColumn("cos", dot(col("up"), col("ue")))
        .filter(col("cos") >= 0.8)
        .select(col("probe_id"), col("vec_id"), round(col("cos"), 9).as("cos"))
        .orderBy("probe_id", "vec_id")
    },
    Some("""
      WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
      corpus AS (
        SELECT vec_id, list_transform(e, x -> x / nrm) AS ue
        FROM (SELECT vec_id, e, sqrt(list_dot_product(e, e)) AS nrm FROM emb)),
      praw AS (
        SELECT vec_id + 100000 AS probe_id, [e[1]*2.0] || e[2:] AS p FROM emb),
      probes AS (
        SELECT probe_id, list_transform(p, x -> x / nrm) AS up
        FROM (SELECT probe_id, p, sqrt(list_dot_product(p, p)) AS nrm FROM praw))
      SELECT probe_id, vec_id, round(list_dot_product(up, ue), 9) AS cos
      FROM corpus CROSS JOIN probes
      WHERE list_dot_product(up, ue) >= 0.8
      ORDER BY probe_id, vec_id
    """),
    // Exact anchor only: all-pairs is quadratic (measured 56 s at sf1's
    // 20k×20k in the soak). The benched scale path is q26b (IVF-bucketed).
    benchSkip = true)

  /** The scale path for q26: same probes, same threshold, but probes scan
    * only their 2 nearest of 40 seed centroids
    * ([[graft.operators.Similarity.ivfRangeSearch]]) — pair volume drops
    * ~|centroids|/nprobe = 20×, and the centroid count is the knob that
    * keeps it flat as the corpus grows. Approximate by design (IVF
    * recall trade); DedupSpec pins recall vs the exact q26 anchor, and
    * the oracle recomputes the identical bucketed semantics. */
  private def ivfRangeInputs(s: SparkSession, d: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val emb = Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"), col("embedding").cast("array<double>").as("e"))
    // 40 deterministic seed centroids: min vec_id per (label, vec_id%4)
    val seedIds = emb.groupBy(col("label"), pmod(col("vec_id"), lit(4)))
      .agg(min("vec_id").as("c_id"))
    val cent = seedIds.join(emb, col("c_id") === col("vec_id"))
      .select(col("c_id"), col("e").as("c"))
    val corpus = emb.select(col("vec_id").as("id"), col("e"))
    val probes = emb
      .select((col("vec_id") + 100000).as("probe_id"),
        concat(array(element_at(col("e"), 1) * 2.0), slice(col("e"), 2, 63)).as("p"))
    (corpus, cent, probes)
  }

  val q26bEmbedNearDupIvf = QueryDef(
    "q26b_embed_neardup_ivf",
    (s, d) => {
      val (corpus, cent, probes) = ivfRangeInputs(s, d)
      graft.operators.Similarity.ivfRangeSearch(corpus, cent, probes, minCos = 0.8, nprobe = 2)
        .select(col("probe_id"), col("id").as("vec_id"), round(col("cos"), 9).as("cos"))
        .orderBy("probe_id", "vec_id")
    },
    Some("""
      WITH emb AS (SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings),
      u AS (
        SELECT vec_id, list_transform(e, x -> x / nrm) AS ue
        FROM (SELECT vec_id, e, sqrt(list_dot_product(e, e)) AS nrm FROM emb)),
      seeds AS (SELECT min(vec_id) AS c_id FROM emb GROUP BY label, vec_id % 4),
      cent AS (SELECT s.c_id, u.ue AS uc FROM seeds s JOIN u ON u.vec_id = s.c_id),
      assigned AS (
        SELECT id, ue, c_id FROM (
          SELECT u.vec_id AS id, u.ue, cent.c_id,
                 row_number() OVER (PARTITION BY u.vec_id
                   ORDER BY list_dot_product(ue, uc) DESC, cent.c_id) AS rn
          FROM u CROSS JOIN cent)
        WHERE rn = 1),
      praw AS (
        SELECT vec_id + 100000 AS probe_id, [e[1]*2.0] || e[2:] AS p FROM emb),
      up AS (
        SELECT probe_id, list_transform(p, x -> x / nrm) AS up
        FROM (SELECT probe_id, p, sqrt(list_dot_product(p, p)) AS nrm FROM praw)),
      pc AS (
        SELECT probe_id, up, c_id FROM (
          SELECT up.probe_id, up.up, cent.c_id,
                 row_number() OVER (PARTITION BY up.probe_id
                   ORDER BY list_dot_product(up.up, cent.uc) DESC, cent.c_id) AS rn
          FROM up CROSS JOIN cent)
        WHERE rn <= 2)
      SELECT p.probe_id, a.id AS vec_id, round(list_dot_product(p.up, a.ue), 9) AS cos
      FROM pc p JOIN assigned a ON a.c_id = p.c_id
      WHERE list_dot_product(p.up, a.ue) >= 0.8
      ORDER BY probe_id, vec_id
    """))

  /** q26b against the MATERIALIZED index
    * ([[graft.operators.Similarity.ivfRangeSearchIndexed]]) — the
    * at-rest form the range-search scaladoc names: the corpus is the
    * c_id-bucketed [[graft.operators.Similarity.writeIvfIndex]] table,
    * the probe scan prunes to the probed buckets, and the range filter
    * runs bucket-local with no index-side Exchange. Result-identical to
    * q26b (same oracle); IvfIndexSpec pins parity + pruning. benchSkip:
    * the timed body would be the index WRITE (q28b convention). */
  val q26cEmbedNearDupIvfIndexed = QueryDef(
    "q26c_embed_neardup_ivf_indexed",
    (s, d) => {
      val (corpus, cent, probes) = ivfRangeInputs(s, d)
      graft.operators.Similarity.writeIvfIndex(corpus, cent,
        "graft_ivf_range_index", numBuckets = 8)
      graft.operators.Similarity.ivfRangeSearchIndexed(
          "graft_ivf_range_index", cent, probes, minCos = 0.8, nprobe = 2)
        .select(col("probe_id"), col("id").as("vec_id"), round(col("cos"), 9).as("cos"))
        .orderBy("probe_id", "vec_id")
    },
    q26bEmbedNearDupIvf.oracle,
    benchSkip = true)

  /** The 128-bit portable simhash fingerprint as a SQL SELECT over a
    * (doc_id, words) CTE — THE one fp definition every simhash oracle
    * in this file interpolates ([[simhashNearSql]] for q64/q131/q131b,
    * the q132 guard oracle), mirroring the Spark kernel's
    * SimhashBitsExpr exactly (empty docs COALESCE to the all-'1' fp).
    * One definition so no two oracles can silently pin different
    * fingerprints against the same kernel. */
  private def simhashFpSelect(wordsCte: String): String = s"""
        SELECT doc_id,
          list_aggregate(list_transform(range(0, 128), b ->
            CASE WHEN COALESCE(list_sum(list_transform(words, t ->
              2*((strpos('0123456789abcdef', substr(md5(t), (b//4)::INT + 1, 1)) - 1)
                 // ([8,4,2,1][(b%4)+1]) % 2) - 1)), 0) >= 0
            THEN '1' ELSE '0' END), 'string_agg', '') AS fp
        FROM $wordsCte"""

  /** The whitespace tokenizer as a SQL SELECT — the `words` side of
    * [[simhashFpSelect]]'s contract. */
  private def wordsSelect(srcCte: String): String = s"""
        SELECT doc_id,
               list_filter(string_split(text, ' '), w -> len(w) > 0) AS words
        FROM $srcCte"""

  /** Shared oracle CTE chain for the banded 128-bit simhash join —
    * corpus → words → fingerprints (empty docs COALESCE to the Spark
    * kernel's all-'1' fp) → 32-bit bands → distinct candidate pairs →
    * `near(id_a, id_b, hamming)`. Used verbatim by q64, q131 and q131b
    * so they can't silently pin different fingerprint definitions
    * against the same Spark kernel (q88's variant stays separate: its
    * recursive CTE needs MATERIALIZED hints on the same stages). */
  private val simhashNearSql = s"""
      WITH corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 100000, regexp_replace(text, '^[^ ]+ ', '') FROM documents),
      t AS (${wordsSelect("corpus")}),
      sh AS (${simhashFpSelect("t")}),
      banded AS (
        SELECT doc_id, fp, b.band, substr(fp, (b.band*32+1)::INT, 32) AS bv
        FROM sh, (SELECT unnest(range(4)) AS band) b),
      pairs AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.fp AS fp_a, b.fp AS fp_b
        FROM banded a
        JOIN banded b ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id),
      near AS (
        SELECT id_a, id_b,
               list_sum(list_transform(range(1, 129), i ->
                 CASE WHEN substr(fp_a, i::INT, 1) <> substr(fp_b, i::INT, 1)
                      THEN 1 ELSE 0 END))::BIGINT AS hamming
        FROM pairs)"""

  /** SimHash banded near-dup join: 128-bit portable fingerprints in 4
    * 32-bit bands; a pair is a candidate iff a band matches exactly
    * (pigeonhole ⇒ total recall up to hamming 3), then the exact hamming
    * cut keeps the near-dups. The LSH-shaped twin of q23 for the simhash
    * family — the shuffle key is (band, chunk), never the pair space.
    * 32-bit bands, not 16: natural-text simhash bits correlate, and the
    * narrower bands bucket so heavily the candidate join degenerates
    * (measured 755k pairs / 23 s at sf0.1; this shape runs in ~1 s). */
  val q64SimhashNearDup = QueryDef(
    "q64_simhash_neardup",
    (s, d) => {
      val corpus = corpusNear(s, d)
      Dedup.simhashCandidatePairs(corpus, col("text"), col("doc_id"),
          bits = 128, bands = 4)
        .filter(col("hamming") <= 3)
        .orderBy("id_a", "id_b")
    },
    Some(simhashNearSql + """
      SELECT id_a, id_b, hamming
      FROM near
      WHERE hamming <= 3
      ORDER BY id_a, id_b
    """))

  /** Train/eval split-leakage audit — the hygiene gate a pipeline runs
    * AFTER splitting and BEFORE shipping an eval set: near-duplicate
    * pairs that straddle the split boundary leak training text into
    * evaluation (the contamination mode row-hash splits are notorious
    * for, and the reason [[graft.operators.Sampling.groupedSplit]]
    * hashes the GROUP). The audit deliberately applies a doc-level
    * split to the dup-dense corpus — each near-dup twin lands in an
    * independent bucket, so ≈ 2·p·(1−p) of twin pairs cross — and
    * reports every leaked (eval_id, train_id) pair with its hamming
    * distance, i.e. the rows an operator would delete from eval or
    * swap into train.
    *
    * Scale shape: candidates come from q64's banded simhash kernel
    * (shuffle key (band, chunk), never the pair space), and each side's
    * split is re-derived from the pair ids via
    * [[graft.operators.Sampling.splitLabel]] — a pure map-side column,
    * so the whole audit adds ZERO exchanges to the near-dup join it
    * rides (a join against the split assignment would re-shuffle the
    * 100 TB corpus a second time). SplitLeakageSpec pins exactly that:
    * the q131 plan's exchange set equals q64's. */
  private val sp2Fracs = Seq("train" -> 0.8, "eval" -> 0.2)

  /** Cross-split near-dup pairs — THE leaked-pair derivation shared by
    * the q131 audit and the q131b remediation (one definition, so an
    * edit to the hamming cut, seed, banding, OR the eval/train side
    * selection can never make the remediation drop a different set than
    * the audit reports — matching the SQL twin, whose `leaked` CTE also
    * carries the CASE): q64's banded simhash kernel, the hamming ≤ 3
    * cut, both sides' sp2 split labels re-derived map-side via
    * splitLabel, cross-split rows only, each pair oriented to
    * (eval_id, train_id, hamming). */
  private def leakedPairs(s: SparkSession, d: String): DataFrame =
    Dedup.simhashCandidatePairs(corpusNear(s, d), col("text"), col("doc_id"),
        bits = 128, bands = 4)
      .filter(col("hamming") <= 3)
      .withColumn("split_a", graft.operators.Sampling.splitLabel(col("id_a"), "sp2", sp2Fracs))
      .withColumn("split_b", graft.operators.Sampling.splitLabel(col("id_b"), "sp2", sp2Fracs))
      .filter(col("split_a") =!= col("split_b"))
      .select(
        when(col("split_a") === "eval", col("id_a"))
          .otherwise(col("id_b")).as("eval_id"),
        when(col("split_a") === "train", col("id_a"))
          .otherwise(col("id_b")).as("train_id"),
        col("hamming"))

  /** The SQL twin of [[leakedPairs]]: [[simhashNearSql]] + the labeled
    * cross-split CTE, shared verbatim by the q131 and q131b oracles. */
  private val leakedLabeledSql = simhashNearSql + """,
      labeled AS (
        SELECT id_a, id_b, hamming,
               CASE WHEN (('0x' || substr(md5('sp2' || id_a::VARCHAR), 1, 15))::BIGINT
                          % 1000000) < 800000 THEN 'train' ELSE 'eval' END AS split_a,
               CASE WHEN (('0x' || substr(md5('sp2' || id_b::VARCHAR), 1, 15))::BIGINT
                          % 1000000) < 800000 THEN 'train' ELSE 'eval' END AS split_b
        FROM near WHERE hamming <= 3),
      leaked AS (
        SELECT CASE WHEN split_a = 'eval' THEN id_a ELSE id_b END AS eval_id,
               CASE WHEN split_a = 'train' THEN id_a ELSE id_b END AS train_id,
               hamming
        FROM labeled
        WHERE split_a <> split_b)"""

  val q131SplitLeakage = QueryDef(
    "q131_split_leakage",
    (s, d) => leakedPairs(s, d).orderBy("eval_id", "train_id"),
    Some(leakedLabeledSql + """
      SELECT eval_id, train_id, hamming
      FROM leaked
      ORDER BY eval_id, train_id
    """))

  /** Leakage REMEDIATION — the operator a pipeline runs on q131's
    * output: emit the CLEANED eval assignment, i.e. every eval doc with
    * any train near-dup dropped, so the audit feeds an operator instead
    * of a human. One left_anti from the eval split against q131's
    * leaked eval_ids (the J5 protected∖processed pattern — reference
    * `main.py:483-488` — in LLM-pipeline clothing).
    *
    * Scale shape: the eval-side split filter is the same map-side
    * [[graft.operators.Sampling.splitLabel]] column (no join against a
    * split table), the leaked-id set — output-sized, a sliver of the
    * corpus by construction — is MATERIALIZED once (localCheckpoint:
    * the audit artifact a real pipeline would persist anyway) and
    * BROADCAST into the anti join. CLUSTER-MODE NOTE: localCheckpoint
    * blocks live on executor block managers and die with them (dynamic
    * allocation, spot kills) — on a real cluster use the reliable form
    * of exactly this shape: write the audit output to a table (or
    * `checkpoint()` with a checkpoint dir) and anti-join against the
    * read; the plan properties below are identical. The materialization is load-bearing
    * for the plan, not a convenience: Catalyst pushes left-anti joins
    * below Union (the corpus is documents ∪ near-dup variants), which
    * duplicated the whole banded-join lineage into BOTH branches'
    * build sides — the audit would compute twice. With the checkpointed
    * frame the audit runs exactly once and the remediation's ONLY
    * shuffle is the output sort: SplitLeakageSpec pins exchanges == 1 <
    * q131's, and the broadcast LeftAnti. If leakage ever stopped being
    * a sliver the pipeline's problem is upstream (the split), not this
    * join. */
  val q131bLeakageRemediation = QueryDef(
    "q131b_leakage_remediation",
    (s, d) => {
      val leaked = graft.operators.Barrier.cut(
        leakedPairs(s, d).select(col("eval_id").as("doc_id")))
      corpusNear(s, d)
        .filter(graft.operators.Sampling.splitLabel(col("doc_id"), "sp2", sp2Fracs) === "eval")
        .join(broadcast(leaked), Seq("doc_id"), "left_anti")
        .select("doc_id")
        .orderBy("doc_id")
    },
    Some(leakedLabeledSql + """
      SELECT c.doc_id
      FROM corpus c
      WHERE (('0x' || substr(md5('sp2' || c.doc_id::VARCHAR), 1, 15))::BIGINT
             % 1000000) >= 800000
        AND c.doc_id NOT IN (SELECT eval_id FROM leaked)
      ORDER BY doc_id
    """))

  /** The near-dup eval-set GUARD's kernel under the cross-engine oracle
    * — [[graft.streaming.CorpusStreams.nearDupGuard]] run on batch
    * frames (the operator is stream/batch-agnostic by construction;
    * NearDupGuardSpec pins stream ≡ this batch form, so this row puts
    * the last first-class streaming operator's kernel under the oracle
    * rather than spec-only). Protected side: the eval split of
    * `documents` (the same sp2 splitLabel as q131), fingerprinted
    * offline by simhashFps — exactly how a deployment refreshes the
    * protected table. Arrivals: the near-dup variants (first word
    * dropped, ids +100000) — the contaminated ingest the guard exists
    * to catch. Output: (doc_id, protected_id, hamming ≤ 3), exactly
    * once per pair via the canonical-band emission (the oracle's
    * DISTINCT over band collisions pins that exactly-once contract).
    * The oracle interpolates the SAME [[simhashFpSelect]] as
    * q64/q131/q131b. Scale shape: stateless; both sides band map-side,
    * the join shuffles on (band, bv) only — never the pair space. */
  val q132NearDupGuard = QueryDef(
    "q132_neardup_guard",
    (s, d) => {
      val fracs = Seq("train" -> 0.8, "eval" -> 0.2)
      val doc = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val protectedFps = Dedup.simhashFps(
        doc.filter(graft.operators.Sampling.splitLabel(col("doc_id"), "sp2", fracs) === "eval"),
        col("text"), col("doc_id"), bits = 128)
      val arrivals = doc.select((col("doc_id") + 100000).as("doc_id"),
        regexp_replace(col("text"), "^[^ ]+ ", "").as("text"))
      graft.streaming.CorpusStreams.nearDupGuard(arrivals, col("text"),
          protectedFps, bits = 128, bands = 4, maxHamming = 3)
        .orderBy("doc_id", "protected_id")
    },
    Some(s"""
      WITH prot AS (
        SELECT doc_id, text FROM documents
        WHERE (('0x' || substr(md5('sp2' || doc_id::VARCHAR), 1, 15))::BIGINT
               % 1000000) >= 800000),
      arr AS (
        SELECT doc_id + 100000 AS doc_id,
               regexp_replace(text, '^[^ ]+ ', '') AS text
        FROM documents),
      tp AS (${wordsSelect("prot")}),
      ta AS (${wordsSelect("arr")}),
      shp AS (${simhashFpSelect("tp")}),
      sha AS (${simhashFpSelect("ta")}),
      bp AS (
        SELECT doc_id, fp, b.band, substr(fp, (b.band*32+1)::INT, 32) AS bv
        FROM shp, (SELECT unnest(range(4)) AS band) b),
      ba AS (
        SELECT doc_id, fp, b.band, substr(fp, (b.band*32+1)::INT, 32) AS bv
        FROM sha, (SELECT unnest(range(4)) AS band) b),
      pairs AS (
        SELECT DISTINCT a.doc_id, p.doc_id AS protected_id,
                        a.fp AS fp_a, p.fp AS fp_p
        FROM ba a
        JOIN bp p ON a.band = p.band AND a.bv = p.bv),
      near AS (
        SELECT doc_id, protected_id,
               list_sum(list_transform(range(1, 129), i ->
                 CASE WHEN substr(fp_a, i::INT, 1) <> substr(fp_p, i::INT, 1)
                      THEN 1 ELSE 0 END))::BIGINT AS hamming
        FROM pairs)
      SELECT doc_id, protected_id, hamming
      FROM near
      WHERE hamming <= 3
      ORDER BY doc_id, protected_id
    """))

  /** q132's DEAD-LETTER mode under the cross-engine oracle — the
    * configuration a production stream actually runs
    * (`raiseOnInvalidArrival = false`: one poisoned document must not
    * fail the micro-batch and checkpoint-replay the guard offline).
    * Same protected side and near-dup-variant arrivals as q132, with
    * null-text arrivals INJECTED (one per 100 docs, ids +200000 —
    * disjoint from both id spaces): the flagged pairs must be
    * byte-identical to the raise mode's, and each invalid arrival must
    * come back as exactly one in-band (doc_id, NULL, NULL) dead-letter
    * row — the oracle's UNION ALL pins both halves and the
    * exactly-once contract at once. Scale shape: single-pass — one
    * fingerprint evaluation per arrival (null text short-circuits the
    * kernel), one stream-static LEFT OUTER join on (band, bv); the
    * dead-letter routing adds no scan, no shuffle, and no state. */
  val q132bNearDupGuardDeadLetter = QueryDef(
    "q132b_neardup_guard_deadletter",
    (s, d) => {
      val fracs = Seq("train" -> 0.8, "eval" -> 0.2)
      val doc = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val protectedFps = Dedup.simhashFps(
        doc.filter(graft.operators.Sampling.splitLabel(col("doc_id"), "sp2", fracs) === "eval"),
        col("text"), col("doc_id"), bits = 128)
      val arrivals = doc.select((col("doc_id") + 100000).as("doc_id"),
          regexp_replace(col("text"), "^[^ ]+ ", "").as("text"))
        .unionByName(doc.filter(col("doc_id") % 100 === 0)
          .select((col("doc_id") + 200000).as("doc_id"),
            lit(null).cast("string").as("text")))
      graft.streaming.CorpusStreams.nearDupGuard(arrivals, col("text"),
          protectedFps, bits = 128, bands = 4, maxHamming = 3,
          raiseOnInvalidArrival = false)
        .orderBy("doc_id", "protected_id")
    },
    Some(s"""
      WITH prot AS (
        SELECT doc_id, text FROM documents
        WHERE (('0x' || substr(md5('sp2' || doc_id::VARCHAR), 1, 15))::BIGINT
               % 1000000) >= 800000),
      arr AS (
        SELECT doc_id + 100000 AS doc_id,
               regexp_replace(text, '^[^ ]+ ', '') AS text
        FROM documents),
      tp AS (${wordsSelect("prot")}),
      ta AS (${wordsSelect("arr")}),
      shp AS (${simhashFpSelect("tp")}),
      sha AS (${simhashFpSelect("ta")}),
      bp AS (
        SELECT doc_id, fp, b.band, substr(fp, (b.band*32+1)::INT, 32) AS bv
        FROM shp, (SELECT unnest(range(4)) AS band) b),
      ba AS (
        SELECT doc_id, fp, b.band, substr(fp, (b.band*32+1)::INT, 32) AS bv
        FROM sha, (SELECT unnest(range(4)) AS band) b),
      pairs AS (
        SELECT DISTINCT a.doc_id, p.doc_id AS protected_id,
                        a.fp AS fp_a, p.fp AS fp_p
        FROM ba a
        JOIN bp p ON a.band = p.band AND a.bv = p.bv),
      near AS (
        SELECT doc_id, protected_id,
               list_sum(list_transform(range(1, 129), i ->
                 CASE WHEN substr(fp_a, i::INT, 1) <> substr(fp_p, i::INT, 1)
                      THEN 1 ELSE 0 END))::BIGINT AS hamming
        FROM pairs)
      SELECT doc_id, protected_id, hamming
      FROM near
      WHERE hamming <= 3
      UNION ALL
      SELECT doc_id + 200000 AS doc_id, NULL::BIGINT AS protected_id,
             NULL::BIGINT AS hamming
      FROM documents WHERE doc_id % 100 = 0
      ORDER BY doc_id, protected_id
    """))

  /** The GUARDED near-dup clustering contract under a full oracle —
    * [[graft.operators.Dedup.nearDupClusters]] end-to-end: simhash
    * fingerprints → identical-fp rep grouping (bounded-collect
    * membership) → rep-level banded join → connected components → LINEAR
    * member re-expansion. This is the shape a 100 TB pipeline consumes
    * (one (sid, cluster) row per input doc, never the quadratic pair
    * list); DuckDB recomputes the fingerprints, replays the banded join,
    * and labels components with a recursive min-reachable-id CTE — the
    * component label (min sid in the near-dup cluster) must match
    * row-for-row. */
  val q88NearDupClusters = QueryDef(
    "q88_neardup_clusters",
    (s, d) => {
      val corpus = corpusNear(s, d)
      Dedup.nearDupClusters(
          Dedup.simhashFps(corpus, col("text"), col("doc_id"), bits = 128),
          bits = 128, bands = 4, maxHamming = 3)
        .orderBy("sid")
    },
    Some("""
      -- MATERIALIZED on everything upstream of the recursive CTE: the
      -- recursive term references `edges` each round, and inlined that
      -- chains back through the banded hamming join and the 128-bit
      -- fingerprint computation — measured 21.7 s plain vs 5.1 s
      -- materialized at sf0.01 (same 1000 rows). Same CTE-inlining
      -- hazard class as q112b's.
      WITH RECURSIVE corpus AS MATERIALIZED (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 100000, regexp_replace(text, '^[^ ]+ ', '') FROM documents),
      t AS (
        SELECT doc_id,
               list_filter(string_split(text, ' '), w -> len(w) > 0) AS words
        FROM corpus),
      sh AS MATERIALIZED (
        SELECT doc_id,
          list_aggregate(list_transform(range(0, 128), b ->
            CASE WHEN COALESCE(list_sum(list_transform(words, t ->
              2*((strpos('0123456789abcdef', substr(md5(t), (b//4)::INT + 1, 1)) - 1)
                 // ([8,4,2,1][(b%4)+1]) % 2) - 1)), 0) >= 0
            THEN '1' ELSE '0' END), 'string_agg', '') AS fp
        FROM t),
      banded AS (
        SELECT doc_id, fp, b.band, substr(fp, (b.band*32+1)::INT, 32) AS bv
        FROM sh, (SELECT unnest(range(4)) AS band) b),
      near AS MATERIALIZED (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM banded a
        JOIN banded b ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id
        WHERE list_sum(list_transform(range(1, 129), i ->
                CASE WHEN substr(a.fp, i::INT, 1) <> substr(b.fp, i::INT, 1)
                     THEN 1 ELSE 0 END)) <= 3),
      edges AS MATERIALIZED (
        SELECT id_a AS a, id_b AS b FROM near
        UNION
        SELECT id_b, id_a FROM near),
      reach AS (
        SELECT doc_id AS id, doc_id AS r FROM sh
        UNION
        SELECT e.b AS id, reach.r FROM reach JOIN edges e ON e.a = reach.id)
      SELECT id AS sid, min(r)::BIGINT AS cluster
      FROM reach GROUP BY id
      ORDER BY sid
    """))

  /** Benchmark decontamination under an exact-join oracle: the "benchmark"
    * set is the middle 20-word slice of every 50th document (so
    * contamination exists by construction — each source doc contains its
    * own slice verbatim, and any doc repeating those sentences is flagged
    * too), the corpus is flagged by shared 13-grams
    * ([[graft.operators.Dedup.decontaminate]]), and DuckDB recomputes the
    * full gram join from scratch. The eval side is broadcast in-plan
    * (PlanSpec) — the corpus never shuffles. */
  private def decontInputs(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val bench = docs.filter(col("doc_id") % 50 === 0)
      .select((col("doc_id") + 900000).as("bench_id"),
        concat_ws(" ", slice(tokens(col("text")), 6, 20)).as("btext"))
    (docs, bench)
  }

  val q66Decontaminate = QueryDef(
    "q66_decontaminate",
    (s, d) => {
      val (docs, bench) = decontInputs(s, d)
      Dedup.decontaminate(docs, col("text"), col("doc_id"),
          bench, col("btext"), col("bench_id"))
        .orderBy("doc_id")
    },
    Some(decontOracleSql))

  /** The Bloom-prefiltered decontamination
    * ([[graft.operators.Dedup.decontaminateBloom]]): benchmark grams
    * collapse into one Bloom filter, the corpus gram stream is pruned
    * map-side by `might_contain` before any join, and the sliver that
    * survives is exact-verified — row-identical to q66 by construction,
    * so it runs under the SAME oracle. The form for eval suites too big
    * to broadcast; PlanSpec pins the might_contain prefilter in-plan. */
  val q67DecontaminateBloom = QueryDef(
    "q67_decontaminate_bloom",
    (s, d) => {
      val (docs, bench) = decontInputs(s, d)
      Dedup.decontaminateBloom(docs, col("text"), col("doc_id"),
          bench, col("btext"), col("bench_id"),
          expectedGrams = 100000L, fpp = 0.01)
        .orderBy("doc_id")
    },
    Some(decontOracleSql))

  private lazy val decontOracleSql: String = ("""
      WITH toks AS (
        SELECT doc_id, list_filter(string_split(text, ' '), w -> len(w) > 0) AS words
        FROM documents),
      cg AS (
        SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(words) - 11),
          i -> ('0x' || substr(md5(concat_ws(' ',
            words[i], words[i+1], words[i+2], words[i+3], words[i+4], words[i+5],
            words[i+6], words[i+7], words[i+8], words[i+9], words[i+10],
            words[i+11], words[i+12])), 1, 15))::BIGINT))) AS gram_h
        FROM toks WHERE len(words) >= 13),
      btoks AS (
        SELECT doc_id + 900000 AS bench_id, words[6:25] AS bw
        FROM toks WHERE doc_id % 50 = 0),
      bg AS (
        SELECT bench_id, unnest(list_distinct(list_transform(range(1, len(bw) - 11),
          i -> ('0x' || substr(md5(concat_ws(' ',
            bw[i], bw[i+1], bw[i+2], bw[i+3], bw[i+4], bw[i+5],
            bw[i+6], bw[i+7], bw[i+8], bw[i+9], bw[i+10],
            bw[i+11], bw[i+12])), 1, 15))::BIGINT))) AS gram_h
        FROM btoks WHERE len(bw) >= 13)
      SELECT c.doc_id,
             count(DISTINCT c.gram_h) AS n_shared_grams,
             count(DISTINCT b.bench_id) AS n_bench_docs
      FROM cg c JOIN bg b ON b.gram_h = c.gram_h
      GROUP BY c.doc_id
      ORDER BY doc_id
    """)

  /** Semantic (embedding-space) deduplication, the SemDeDup composition
    * ([[graft.operators.Dedup.semanticDedup]]): corpus = originals plus
    * TWO perturbed near-copies each (first / second component doubled),
    * bucketed by nearest centroid, intra-bucket pairs at cos ≥ 0.8,
    * connected components, one representative per cluster. The oracle
    * replays bucketing, pair generation, and SIX unrolled min-label
    * propagation rounds (natural intra-label clusters merge too, so the
    * margin covers diameters up to 6; extra rounds are no-ops at the
    * fixpoint), then the same
    * representative filter. Output has no floats — only surviving ids
    * and their cluster labels — so parity is exact by construction. */
  val q77SemanticDedup = QueryDef(
    "q77_semantic_dedup",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
        .select(col("vec_id"), col("label"), col("embedding").cast("array<double>").as("e"))
      val corpus = emb.select(col("vec_id").as("id"), col("e"))
        .unionByName(emb.select((col("vec_id") + 100000).as("id"),
          concat(array(element_at(col("e"), 1) * 2.0), slice(col("e"), 2, 63)).as("e")))
        .unionByName(emb.select((col("vec_id") + 200000).as("id"),
          concat(array(element_at(col("e"), 1)),
            array(element_at(col("e"), 2) * 2.0), slice(col("e"), 3, 62)).as("e")))
      val seedIds = emb.groupBy(col("label"), pmod(col("vec_id"), lit(4)))
        .agg(min("vec_id").as("c_id"))
      val cent = seedIds.join(emb, col("c_id") === col("vec_id"))
        .select(col("c_id"), col("e").as("c"))
      graft.operators.Dedup.semanticDedup(corpus, cent, minCos = 0.8)
        .orderBy("id")
    },
    Some("""
      WITH emb AS (SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings),
      corpus AS (
        SELECT vec_id AS id, e FROM emb
        UNION ALL
        SELECT vec_id + 100000, [e[1]*2.0] || e[2:] FROM emb
        UNION ALL
        SELECT vec_id + 200000, [e[1]] || [e[2]*2.0] || e[3:] FROM emb),
      u AS MATERIALIZED (
        SELECT id, list_transform(e, x -> x / nrm) AS ue
        FROM (SELECT id, e, sqrt(list_dot_product(e, e)) AS nrm FROM corpus)),
      seeds AS (SELECT min(vec_id) AS c_id FROM emb GROUP BY label, vec_id % 4),
      cent AS MATERIALIZED (
        SELECT s.c_id, u.ue AS uc FROM seeds s JOIN u ON u.id = s.c_id),
      assigned AS MATERIALIZED (
        SELECT id, ue, c_id FROM (
          SELECT u.id, u.ue, cent.c_id,
                 row_number() OVER (PARTITION BY u.id
                   ORDER BY list_dot_product(ue, uc) DESC, cent.c_id) AS rn
          FROM u CROSS JOIN cent)
        WHERE rn = 1),
      e0 AS MATERIALIZED (
        SELECT a.id AS ea, b.id AS eb
        FROM assigned a JOIN assigned b
          ON a.c_id = b.c_id AND a.id < b.id
        WHERE list_dot_product(a.ue, b.ue) >= 0.8),
      edges AS MATERIALIZED (
        SELECT ea, eb FROM e0 UNION ALL SELECT eb, ea FROM e0),
      l0 AS MATERIALIZED (SELECT DISTINCT ea AS id, ea AS comp FROM edges),
      l1 AS MATERIALIZED (
        SELECT l.id, least(l.comp, coalesce(min(n.comp), l.comp)) AS comp
        FROM l0 l LEFT JOIN edges e ON e.ea = l.id
                  LEFT JOIN l0 n ON n.id = e.eb
        GROUP BY l.id, l.comp),
      l2 AS MATERIALIZED (
        SELECT l.id, least(l.comp, coalesce(min(n.comp), l.comp)) AS comp
        FROM l1 l LEFT JOIN edges e ON e.ea = l.id
                  LEFT JOIN l1 n ON n.id = e.eb
        GROUP BY l.id, l.comp),
      l3 AS MATERIALIZED (
        SELECT l.id, least(l.comp, coalesce(min(n.comp), l.comp)) AS comp
        FROM l2 l LEFT JOIN edges e ON e.ea = l.id
                  LEFT JOIN l2 n ON n.id = e.eb
        GROUP BY l.id, l.comp),
      l4 AS MATERIALIZED (
        SELECT l.id, least(l.comp, coalesce(min(n.comp), l.comp)) AS comp
        FROM l3 l LEFT JOIN edges e ON e.ea = l.id
                  LEFT JOIN l3 n ON n.id = e.eb
        GROUP BY l.id, l.comp),
      l5 AS MATERIALIZED (
        SELECT l.id, least(l.comp, coalesce(min(n.comp), l.comp)) AS comp
        FROM l4 l LEFT JOIN edges e ON e.ea = l.id
                  LEFT JOIN l4 n ON n.id = e.eb
        GROUP BY l.id, l.comp),
      l6 AS MATERIALIZED (
        SELECT l.id, least(l.comp, coalesce(min(n.comp), l.comp)) AS comp
        FROM l5 l LEFT JOIN edges e ON e.ea = l.id
                  LEFT JOIN l5 n ON n.id = e.eb
        GROUP BY l.id, l.comp)
      SELECT c.id, coalesce(l.comp, c.id) AS cluster
      FROM corpus c LEFT JOIN l6 l ON l.id = c.id
      WHERE l.comp IS NULL OR l.comp = c.id
      ORDER BY c.id
    """))

  /** Exact duplicated-substring spans (Lee et al. 2021) over the raw
    * documents table — the natural cross-document repetition in the
    * corpus is the test load: duplicated 13-grams are flagged corpus-wide
    * and merged into maximal per-document spans
    * ([[graft.operators.Dedup.duplicateSpans]]). The oracle rebuilds the
    * positional grams (aligned unnest + generate_subscripts), the same
    * 60-bit md5 gram hash, the frequency filter, and the gaps-and-islands
    * merge — a wrong gram position, off-by-one span bound, or island
    * break at the wrong gap fails the hash. */
  val q80SubstringDedup = QueryDef(
    "q80_substring_dedup",
    (s, d) => Dedup.duplicateSpans(
        Tables.documents(s, d), col("text"), col("doc_id"))
      .orderBy("doc_id", "span_start"),
    Some("""
      WITH toks AS (
        SELECT doc_id, list_filter(string_split(text, ' '), w -> len(w) > 0) AS ws
        FROM documents),
      gl AS (
        SELECT doc_id,
               list_transform(range(1, greatest(len(ws) - 13 + 2, 1)),
                 i -> array_to_string(ws[i : i + 12], ' ')) AS gs
        FROM toks),
      grams AS (
        SELECT doc_id, generate_subscripts(gs, 1) - 1 AS pos,
               ('0x' || substr(md5(unnest(gs)), 1, 15))::BIGINT AS gram_h
        FROM gl),
      dup AS (
        SELECT gram_h FROM grams GROUP BY gram_h HAVING count(*) >= 2),
      flagged AS (
        SELECT g.doc_id, g.pos FROM grams g JOIN dup USING (gram_h)),
      brk AS (
        SELECT doc_id, pos,
               CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 13
                    THEN 0 ELSE 1 END AS brk
        FROM flagged),
      isl AS (
        SELECT doc_id, pos,
               sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
                              ROWS UNBOUNDED PRECEDING) AS island
        FROM brk)
      SELECT doc_id, min(pos)::BIGINT AS span_start,
             (max(pos) + 13)::BIGINT AS span_end, count(*)::BIGINT AS n_grams
      FROM isl GROUP BY doc_id, island
      ORDER BY doc_id, span_start
    """))

  /** The cut half of Lee et al. substring dedup
    * ([[graft.operators.Dedup.cutDuplicateSpans]]): every duplicated
    * 13-gram keeps its corpus-wide first occurrence, later occurrences
    * are cut and the survivors reassemble in order. Span arithmetic is
    * integer-exact, so the oracle replays it verbatim: rank occurrences
    * per gram by (doc_id, pos), expand later occurrences into covered
    * token positions, anti-join the token stream, rebuild with an
    * ordered list agg — one misplaced cut boundary or a reassembly
    * off-by-one fails the hash on clean_text. */
  val q80bSpanCut = QueryDef(
    "q80b_span_cut",
    (s, d) => Dedup.cutDuplicateSpans(
        Tables.documents(s, d), col("text"), col("doc_id"))
      .orderBy("doc_id"),
    Some("""
      WITH toks AS (
        SELECT doc_id, list_filter(string_split(text, ' '), w -> len(w) > 0) AS ws
        FROM documents),
      gl AS (
        SELECT doc_id,
               list_transform(range(1, greatest(len(ws) - 13 + 2, 1)),
                 i -> array_to_string(ws[i : i + 12], ' ')) AS gs
        FROM toks),
      grams AS (
        SELECT doc_id, generate_subscripts(gs, 1) - 1 AS pos,
               ('0x' || substr(md5(unnest(gs)), 1, 15))::BIGINT AS gram_h
        FROM gl),
      ranked AS (
        SELECT doc_id, pos,
               row_number() OVER (PARTITION BY gram_h ORDER BY doc_id, pos) AS rn,
               count(*) OVER (PARTITION BY gram_h) AS n_occ
        FROM grams),
      cutpos AS (
        SELECT DISTINCT doc_id, cpos FROM (
          SELECT doc_id, unnest(range(pos, pos + 13)) AS cpos
          FROM ranked WHERE n_occ >= 2 AND rn > 1)),
      ncut AS (
        SELECT doc_id, count(*) AS n_cut_grams
        FROM ranked WHERE n_occ >= 2 AND rn > 1 GROUP BY doc_id),
      tok_rows AS (
        SELECT doc_id, generate_subscripts(ws, 1) - 1 AS tpos, unnest(ws) AS w
        FROM toks),
      kept AS (
        SELECT t.doc_id,
               array_to_string(list(t.w ORDER BY t.tpos), ' ') AS clean_text
        FROM tok_rows t LEFT JOIN cutpos c
          ON t.doc_id = c.doc_id AND t.tpos = c.cpos
        WHERE c.cpos IS NULL
        GROUP BY t.doc_id)
      SELECT d.doc_id,
             coalesce(k.clean_text, '') AS clean_text,
             coalesce(n.n_cut_grams, 0)::BIGINT AS n_cut_grams
      FROM documents d
      LEFT JOIN kept k ON d.doc_id = k.doc_id
      LEFT JOIN ncut n ON d.doc_id = n.doc_id
      ORDER BY d.doc_id
    """))

  /** Incremental cross-version dedup — the daily crawl shape: a standing
    * fingerprint INDEX (yesterday's corpus, 16 bytes/doc, never re-read
    * as text) plus today's batch containing (a) re-crawls of indexed
    * docs (whitespace-perturbed, same fingerprint), (b) within-batch
    * duplicate pairs, and (c) genuinely new docs. Survivors = keep-first
    * within the batch, then anti-join against the index
    * ([[graft.operators.Dedup.incrementalExactDedup]]). The batch here
    * derives deterministically from documents: doc_id%3==0 re-crawls an
    * indexed doc (dies), %3==1 appears twice (one survives), %3==2 is
    * new (survives). */
  val q100IncrementalDedup = QueryDef(
    "q100_incremental_dedup",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val index = docs.select(
        graft.functions.TextFunctions.fingerprint(col("text")).as("fp"))
      val recrawl = docs.filter(col("doc_id") % 3 === 0).select(
        (col("doc_id") + 500000).as("doc_id"),
        regexp_replace(col("text"), " ", "  ").as("text"))
      val twice = docs.filter(col("doc_id") % 3 === 1).select(
        col("doc_id"), concat(col("text"), lit(" fresh")).as("text"))
      val twiceB = twice.select((col("doc_id") + 600000).as("doc_id"), col("text"))
      val fresh = docs.filter(col("doc_id") % 3 === 2).select(
        (col("doc_id") + 700000).as("doc_id"),
        concat(col("text"), lit(" novel")).as("text"))
      val batch = recrawl.unionByName(twice).unionByName(twiceB).unionByName(fresh)
      Dedup.incrementalExactDedup(index, batch, col("text"), col("doc_id"))
        .select(col("doc_id"), col("fp"))
        .orderBy("doc_id")
    },
    Some("""
      WITH index_fp AS (
        SELECT md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fp
        FROM documents),
      batch AS (
        SELECT doc_id + 500000 AS doc_id, replace(text, ' ', '  ') AS text
        FROM documents WHERE doc_id % 3 = 0
        UNION ALL
        SELECT doc_id, text || ' fresh' FROM documents WHERE doc_id % 3 = 1
        UNION ALL
        SELECT doc_id + 600000, text || ' fresh' FROM documents WHERE doc_id % 3 = 1
        UNION ALL
        SELECT doc_id + 700000, text || ' novel' FROM documents WHERE doc_id % 3 = 2),
      keyed AS (
        SELECT doc_id, md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fp
        FROM batch),
      firsts AS (
        SELECT doc_id, fp FROM keyed
        QUALIFY row_number() OVER (PARTITION BY fp ORDER BY doc_id) = 1)
      SELECT doc_id, fp FROM firsts
      WHERE fp NOT IN (SELECT fp FROM index_fp)
      ORDER BY doc_id
    """))

  /** Fuzzy-match verification: LSH candidate pairs (the q23 generator)
    * verified by BOUNDED edit distance — the entity-resolution /
    * fuzzy-dedup shape where token-level Jaccard is too coarse (q24 is
    * the Jaccard leg). The verify runs the codegen
    * [[graft.expressions.BoundedLevenshteinExpr]] kernel: an
    * Ukkonen-banded O(k·n) DP over java Strings with early bail-out
    * (-1 past the band). Both Spark built-in forms measured ~1 ms/pair
    * on this corpus's 300-char docs (the 2-arg full DP AND the
    * thresholded 3-arg variant — UTF8String cell access dominates);
    * the kernel is ~20× cheaper, and at 100 TB bounded-band verify is
    * the only viable form. The length-difference prefilter
    * (|len_a-len_b| > k ⇒ dist > k) prunes before even the band runs.
    * DuckDB has no thresholded variant, so the oracle states the
    * equivalent unbounded-distance filter — equal BY CONSTRUCTION
    * because the kernel returns the exact distance whenever ≤ k
    * (pinned against Spark's levenshtein in BoundedLevenshteinSpec). */
  val q117FuzzyVerify = QueryDef(
    "q117_fuzzy_verify",
    (s, d) => {
      val maxDist = 60
      // exact keep-first dedup FIRST: on a dup-dense corpus the LSH
      // bucket sizes — and the candidate-pair volume — grow with the
      // SQUARE of the exact-duplicate group size, so the standard
      // pipeline removes byte-identical (post-normalization) copies
      // before near-dup candidates are generated. The 10x soak corpus
      // (5 exact copies/doc) runs 105 s without this stage.
      val corpus = graft.operators.Sampling.quotaPerGroup(
          corpusNear(s, d).withColumn("fp",
            graft.functions.TextFunctions.fingerprint(col("text"))),
          "fp", 1, col("doc_id").asc)
        .drop("fp")
      val bands = Dedup.minhashBands(corpus, col("text"), col("doc_id"))
      // the verify stage is CPU-bound at ~KB of input (candidate-pair
      // ids), so AQE's byte-proxy coalescing runs the banded DP on 1-2
      // cores even under the 64k floor; an EXPLICIT partition count pins
      // the exchange open (guide §2.2 — per-pair cost is ~0.2 ms, so one
      // partition per core stays right up to millions of pairs per core),
      // and broadcasting the text sides keeps the verify map-side with no
      // further exchange to re-coalesce
      // key order (id_b, id_a) ON PURPOSE: the pair list's own distinct
      // already partitions by (id_a, id_b), so a same-keyed repartition
      // is removed as a redundant exchange and the DP inherits the
      // AQE-coalesced 2-task read; the swapped order is kept and, being
      // REPARTITION_BY_NUM, never coalesced
      val pairs = Dedup.lshCandidatePairs(bands)
        .repartition(s.sparkContext.defaultParallelism, col("id_b"), col("id_a"))
      // broadcast of the text sides is SIZE-GATED, not unconditional:
      // corpus text is the biggest thing in the system at scale, and an
      // unconditional hint is a driver/executor OOM (8 GB broadcast hard
      // cap), not a plan fallback. Under the gate (optimizer size
      // estimate ≤ graft.broadcastTextMaxBytes, default 64 MB — several
      // times the auto threshold because the estimate is known-inflated
      // for derived text frames, and ~11 MB real at sf0.1) the verify
      // keeps its measured BroadcastHashJoin shape; over it the hint is
      // withheld and the planner shuffle-joins — the REPARTITION_BY_NUM
      // exchange above keeps the DP parallel either way.
      val bcastMax = BigInt(s.conf.get(
        "graft.broadcastTextMaxBytes", (64L << 20).toString))
      def gated(df: org.apache.spark.sql.DataFrame) =
        if (df.queryExecution.optimizedPlan.stats.sizeInBytes <= bcastMax)
          broadcast(df) else df
      val ta = gated(
        corpus.select(col("doc_id").as("id_a"), col("text").as("text_a")))
      val tb = gated(
        corpus.select(col("doc_id").as("id_b"), col("text").as("text_b")))
      import org.apache.spark.sql.graft.ColumnBridge.{column, expression}
      pairs.join(ta, "id_a").join(tb, "id_b")
        // cheap length prefilter BEFORE the banded DP
        .filter(abs(length(col("text_a")) - length(col("text_b"))) <= maxDist)
        .withColumn("dist", column(graft.expressions.BoundedLevenshteinExpr(
          expression(col("text_a")), expression(col("text_b")), maxDist)))
        .filter(col("dist") >= 0) // kernel returns -1 past the band
        .select(col("id_a"), col("id_b"), col("dist"))
        .orderBy("id_a", "id_b")
    },
    Some(s"""
      WITH $corpusNearSql,
      cdedup AS (
        SELECT doc_id, text FROM corpus
        QUALIFY row_number() OVER (
          PARTITION BY md5(regexp_replace(lower(text), '\\s+', ' ', 'g'))
          ORDER BY doc_id) = 1),
      toks AS (
        SELECT doc_id, list_filter(string_split(text, ' '), w -> len(w) > 0) AS words
        FROM cdedup),
      sh AS (
        SELECT doc_id,
          list_transform(range(1, len(words) - 1),
            i -> concat_ws(' ', words[i], words[i+1], words[i+2])) AS s
        FROM toks WHERE len(words) >= 3),
      hs AS (
        SELECT doc_id,
          list_transform(s, x -> ('0x' || substr(md5(x), 1, 15))::BIGINT) AS h
        FROM sh),
      bands AS (
        SELECT doc_id, b.band,
          list_min(list_transform(h, v ->
            ((v % 2147483647) * (37 + 61*(b.band*2)) + (101 + 31*(b.band*2))) % 2147483647))
            * 2147483647 +
          list_min(list_transform(h, v ->
            ((v % 2147483647) * (37 + 61*(b.band*2+1)) + (101 + 31*(b.band*2+1))) % 2147483647))
            AS band_hash
        FROM hs CROSS JOIN (SELECT unnest(range(4)) AS band) b),
      pairs AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bands a
        JOIN bands b ON a.band = b.band AND a.band_hash = b.band_hash
                    AND a.doc_id < b.doc_id)
      SELECT p.id_a, p.id_b, levenshtein(ca.text, cb.text)::INT AS dist
      FROM pairs p
      JOIN cdedup ca ON ca.doc_id = p.id_a
      JOIN cdedup cb ON cb.doc_id = p.id_b
      WHERE abs(len(ca.text) - len(cb.text)) <= 60
        AND levenshtein(ca.text, cb.text) <= 60
      ORDER BY id_a, id_b
    """))

  val all: Seq[QueryDef] = Seq(
    q100IncrementalDedup, q117FuzzyVerify,
    q22ExactDedup, q23MinhashLsh, q24JaccardVerify, q25SimhashHamming,
    q26EmbedNearDup, q26bEmbedNearDupIvf, q26cEmbedNearDupIvfIndexed, q64SimhashNearDup,
    q131SplitLeakage, q131bLeakageRemediation, q132NearDupGuard,
    q132bNearDupGuardDeadLetter,
    q88NearDupClusters, q66Decontaminate,
    q67DecontaminateBloom, q77SemanticDedup, q80SubstringDedup, q80bSpanCut)
}
