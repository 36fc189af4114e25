package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge.{column, expression}
import graft.expressions.{DistinctShinglesExpr, MinhashBandsExpr, SimhashBitsExpr}
import graft.functions.TextFunctions._

/** Corpus deduplication operators for the 100 TB training-data pipeline.
  *
  * Scale design:
  *  - exact dedup is a single hash-shuffle on the fingerprint (map-side
  *    partial agg collapses duplicates before the exchange);
  *  - MinHash-LSH replaces the O(n²) pair space with a shuffle on
  *    (band, bandHash): only documents colliding in a band ever meet, so
  *    the join cost is Σ bucket² over near-dup buckets, not n²;
  *  - verification (exact shingle Jaccard) runs only on candidate pairs;
  *  - SimHash emits one fingerprint per doc; near-dup lookup is then a
  *    band-prefix self-join like MinHash.
  *
  * All paths are pure `functions._` column composition (codegen'd, no UDFs).
  */
object Dedup {

  /** Exact duplicate groups keyed by normalized-text fingerprint.
    * Returns one row per group with >1 member: (fp, rep_id = smallest id,
    * n_dups). Ref analog: cache upsert dedup-by-key,
    * omim_txt_parser.py:575-585. */
  def exactGroups(df: DataFrame, text: Column, id: Column): DataFrame =
    df.groupBy(fingerprint(text).as("fp"))
      .agg(min(id).as("rep_id"), count(lit(1)).as("n_dups"))
      .filter(col("n_dups") > 1)

  /** Incremental exact dedup: keep the batch rows that survive (a)
    * keep-first within the batch (smallest `ord` per fingerprint) and
    * (b) an anti-join against the standing fingerprint index — the daily
    * shape of a crawl pipeline, where yesterday's corpus is an index of
    * fingerprints, never re-read as documents. `index` needs only an
    * `fp` column, so at 100 TB it is the skinny fingerprint store
    * (16 bytes/doc), not the corpus; both the within-batch quota
    * (WindowGroupLimit partial top-k) and the anti-join shuffle on fp.
    * Order of (a)/(b) is observable only for batch groups whose
    * fingerprint is already indexed — all of those die in (b) either
    * way. */
  def incrementalExactDedup(index: DataFrame, batch: DataFrame,
                            text: Column, ord: Column): DataFrame = {
    val keyed = batch.withColumn("fp", fingerprint(text))
    val firsts = Sampling.quotaPerGroup(keyed, "fp", 1, ord.asc)
    firsts.join(index.select(col("fp")), Seq("fp"), "left_anti")
  }

  /** Per-document banded MinHash signature rows: (id, band, band_hash).
    * `numBands * rowsPerBand` affine hash permutations over ONE md5 pass
    * per shingle (TextFunctions.shingleHash — the md5 is the dominant cost,
    * so permutations are near-free). Documents shorter than `shingleN`
    * words are dropped (no signature). */
  def minhashBands(df: DataFrame, text: Column, id: Column,
                   shingleN: Int = 3, numBands: Int = 4,
                   rowsPerBand: Int = 2): DataFrame = {
    if (rowsPerBand == 2)
      // hot path: one fused codegen kernel per row (the kernel-side
      // filter(size>0)-then-explode shape is safe: codegen CSE collapses
      // the pushed predicate's re-substituted copy — MinhashFilterProbe)
      df.select(id.as("id"),
          column(MinhashBandsExpr(expression(text), shingleN, numBands)).as("bands"))
        .filter(size(col("bands")) > 0)
        .select(col("id"), posexplode(col("bands")).as(Seq("band", "band_hash")))
    else
      // generic path: portable column composition. Both round-11 plan
      // traps apply here and are avoided structurally: (a) `__ws`/`__h`
      // are BOUND to named columns before any per-element lambda
      // consumes them (shingles()' CALL CONTRACT — nested, the lambda
      // re-tokenizes per shingle and the numBands bandHashInt copies
      // fan the whole tokens→md5 pipeline into one projection);
      // (b) the too-short-doc cut is the CHEAP predicate size(__ws)
      // BEFORE the shingle projection, so predicate pushdown has no
      // expensive expression to re-substitute.
      df.select(id.as("id"), tokens(text).as("__ws"))
        .filter(size(col("__ws")) >= shingleN)
        .select(col("id"),
          shingleHash(shingles(col("__ws"), shingleN)).as("__h"))
        .select(col("id"),
          array((0 until numBands).map(b =>
            bandHashInt(col("__h"), b, rowsPerBand)): _*).as("bands"))
        .select(col("id"), posexplode(col("bands")).as(Seq("band", "band_hash")))
  }

  /** LSH candidate pairs: ids colliding on at least one band, id_a < id_b.
    * The self-join shuffles both sides on (band, band_hash) — the scalable
    * alternative to an all-pairs cross join. */
  def lshCandidatePairs(bands: DataFrame): DataFrame = {
    val a = bands.select(col("band"), col("band_hash"), col("id").as("id_a"))
    val b = bands.select(col("band").as("band_b"),
      col("band_hash").as("band_hash_b"), col("id").as("id_b"))
    a.join(b, col("band") === col("band_b") &&
        col("band_hash") === col("band_hash_b") && col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
  }

  /** Exact n-gram Jaccard over candidate pairs (the verify stage after
    * LSH): (id_a, id_b, n_inter, n_a, n_b, jaccard). Cost is bounded by
    * candidate volume, never n².
    *
    * Shape: each doc's DISTINCT shingle set is computed once per side,
    * hashed per element to the cross-engine 60-bit md5 prefix (8-byte
    * longs instead of ~n·24-byte strings — the arrays ride two shuffles),
    * joined to the pair list by id, and intersected per pair with
    * `array_intersect` — map-only O(|a|+|b|) per pair, no re-aggregation.
    * The alternative (explode shingles, equi-join on (id, shingle),
    * re-group by pair) shuffles Σ_pairs |shingles| skinny rows and pays a
    * wide aggregation; on the sf1 soak's 1.3M dup-dense candidates that
    * was 32 s vs 13 s for this form. The hash is shared with the oracle
    * (`('0x'||substr(md5(g),1,15))::BIGINT`), so under the astronomically
    * unlikely 60-bit collision both engines still agree exactly; set
    * SIZES count distinct shingles (pre-hash), as before. */
  def jaccardPairs(df: DataFrame, text: Column, id: Column,
                   pairs: DataFrame, shingleN: Int = 3): DataFrame = {
    val sh = df.select(id.as("sid"),
      shingleHash(column(DistinctShinglesExpr(expression(text), shingleN))).as("arr"))
    pairs
      .join(sh.select(col("sid").as("id_a"), col("arr").as("arr_a")), "id_a")
      .join(sh.select(col("sid").as("id_b"), col("arr").as("arr_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        size(array_intersect(col("arr_a"), col("arr_b"))).cast("long").as("n_inter"),
        size(col("arr_a")).cast("long").as("n_a"),
        size(col("arr_b")).cast("long").as("n_b"))
      // a pair where BOTH docs have zero shingles (shorter than shingleN
      // words) has no defined Jaccard (0/0 → null); drop it, matching the
      // exploded-join formulation this replaced
      .filter(col("n_a") + col("n_b") > 0)
      .withColumn("jaccard",
        col("n_inter") / (col("n_a") + col("n_b") - col("n_inter")))
  }

  /** Connected components over an undirected pair edge list (id_a, id_b)
    * by iterative min-label propagation: each node adopts the smallest
    * label among itself and its neighbors until fixpoint. Iterations are
    * O(diameter) — near-dup clusters are shallow (pairs share a common
    * near-copy), so this converges in a few rounds; `maxIter` bounds
    * pathological chains. Returns (id, component) where component is the
    * smallest id in the cluster. Lineage is cut every round through
    * [[Barrier.cut]] (iterative-plan blowup is the classic failure mode
    * at scale), so `graft.barrier.checkpointDir` makes the loop durable.
    * Storage note for the durable path: each round snapshots the LABELS
    * frame — skinny (id, comp) pairs, one per node, so ≤ maxIter small
    * snapshots plus one edge snapshot, bounded and tiny next to the
    * corpus — but Spark does not delete them unless
    * `spark.cleaner.referenceTracking.cleanCheckpoints=true` (GC-driven)
    * or the caller clears the directory after consuming the result; set
    * one of the two on long-running clusters. */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    val edges = Barrier.cut(pairs.select(col("id_a").as("a"), col("id_b").as("b"))
      .unionByName(pairs.select(col("id_b").as("a"), col("id_a").as("b")))
      .distinct())
    var labels = edges.select(col("a").as("id")).distinct()
      .withColumn("comp", col("id"))
    var changed = 1L
    var iter = 0
    // Two propagation rounds per cut+count: each round's frame feeds the
    // next ONCE (linear chain, so the lazy batch stays a bounded-depth
    // plan — the pageRank cadence argument), and convergence checked on
    // the BATCH'S LAST round is still exact (a round with zero changes
    // is a fixpoint; at worst one no-op round runs before the check
    // sees it). Halves the loop's driver actions — the dominant cost on
    // skinny label frames, where a round is job overhead, not data.
    val cutEvery = 2
    while (changed > 0 && iter < maxIter) {
      val k = math.min(cutEvery, maxIter - iter)
      var updated: DataFrame = null
      var cur = labels
      (1 to k).foreach { _ =>
        val neighborMin = edges
          .join(cur, edges("b") === cur("id"))
          .groupBy(col("a").as("id2")).agg(min(col("comp")).as("n_comp"))
        updated = cur.join(neighborMin, cur("id") === col("id2"), "left")
          .select(col("id"),
            least(col("comp"), coalesce(col("n_comp"), col("comp"))).as("comp"),
            (col("n_comp") < col("comp")).as("chg"))
        cur = updated.select("id", "comp")
      }
      // convergence rides the cut's materialization job as an observed
      // metric (the q127b seed-gather pattern) instead of a separate
      // count job per batch — the loop is job-count-bound on skinny
      // label frames. Identical value: sum(when(chg, 1)) over the batch
      // ≡ filter(chg).count() (null chg → 0, exactly what the filter
      // dropped). Bounded wait + count fallback so a metrics regression
      // can never hang or change the loop's decisions.
      val obs = org.apache.spark.sql.Observation()
      val materialized = Barrier.cut(updated.observe(obs,
        coalesce(sum(when(col("chg"), 1L).otherwise(0L)), lit(0L)).as("n_chg")))
      changed = Barrier.observed(obs)(_.getLong(0))(
        materialized.filter(col("chg")).count())
      labels = materialized.select("id", "comp")
      iter += k
    }
    labels
  }

  /** Exploded per-doc distinct-gram rows (id, 60-bit gram hash) — the
    * ONE definition of gram hashing every decontamination path shares,
    * so the exact and bloom-prefiltered forms can't drift. */
  private def gramRows(df: DataFrame, text: Column, id: Column,
                       idAlias: String, gramAlias: String,
                       shingleN: Int): DataFrame =
    df.select(id.as(idAlias),
      explode(shingleHash(
        column(DistinctShinglesExpr(expression(text), shingleN)))).as(gramAlias))

  /** Exact duplicated-substring detection, the span form of Lee et al.
    * 2021 ("Deduplicating Training Data Makes Language Models Better",
    * arXiv:2107.06499): every run of ≥ `spanTokens` consecutive tokens
    * that occurs at least `minOccur` times ANYWHERE in the corpus is
    * reported as a maximal per-document span. Where the paper builds a
    * corpus-wide suffix array, the shuffle-native equivalent is
    * positional L-gram fingerprints: a duplicated substring of length
    * m ≥ L duplicates all m−L+1 of its L-grams, so flagging duplicated
    * L-grams and merging runs of flagged start positions (gap ≤ L — a
    * larger gap means undoubled tokens between them) reconstructs
    * exactly the maximal duplicated regions, with no suffix array and no
    * global order.
    *
    * Output: one row per maximal span — (doc_id, span_start, span_end)
    * in 0-based token indices (end exclusive) plus the flagged-gram
    * count. Callers cut the spans out (as [[dropRepeatedSpans]] does for
    * fixed blocks) or drop the documents.
    *
    * Scale: one shuffle on the 60-bit gram hash for the frequency count
    * (map-side partial agg), an equi-join back on the same key (the
    * duplicated-gram side is the post-filter sliver — AQE broadcasts it
    * when small), and a PER-DOCUMENT window for the island merge — no
    * global window, no pair space, no driver state. */
  def duplicateSpans(docs: DataFrame, text: Column, id: Column,
                     spanTokens: Int = 13, minOccur: Long = 2): DataFrame = {
    require(spanTokens > 0, "spanTokens must be positive")
    import org.apache.spark.sql.expressions.Window
    // positional grams via the fused kernel — the transform-based
    // shingles() column form re-tokenizes per element under the HOF
    // interpreter (measured 40× slower end-to-end on this plan)
    val grams = docs.select(id.as("doc_id"),
      posexplode(shingleHash(
        column(graft.expressions.OrderedShinglesExpr(expression(text), spanTokens))))
        .as(Seq("pos", "gram_h")))
    val wg = Window.partitionBy("gram_h")
    val w = Window.partitionBy("doc_id").orderBy("pos")
    grams
      .withColumn("n_occ", count(lit(1)).over(wg))
      .filter(col("n_occ") >= minOccur)
      .drop("n_occ")
      .withColumn("brk",
        when(col("pos") - lag("pos", 1).over(w) <= spanTokens, 0L).otherwise(1L))
      .withColumn("island",
        sum("brk").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("doc_id", "island")
      .agg(min("pos").cast("long").as("span_start"),
        (max("pos") + spanTokens).cast("long").as("span_end"),
        count(lit(1)).as("n_grams"))
      .select("doc_id", "span_start", "span_end", "n_grams")
  }

  /** The CUT half of Lee et al. 2021 §3 substring dedup: remove every
    * duplicated span occurrence EXCEPT the corpus-wide first, with exact
    * ordered reassembly of the surviving tokens. Occurrence granularity
    * is the L-gram: each duplicated gram's first occurrence (smallest
    * (doc_id, pos)) survives; every later occurrence becomes a cut
    * start, and a document's cut region is ∪[pos, pos+L) over its cut
    * starts — exactly the islands [[duplicateSpans]] reports, minus the
    * one first occurrence. Re-running [[duplicateSpans]] on the output
    * at the same (spanTokens, minOccur) finds nothing (each gram
    * survives at most once; cuts can also destroy a first occurrence
    * that overlaps another gram's later one — Lee et al. accept the
    * same over-cut).
    *
    * Output: (doc_id, clean_text, n_cut_grams) for EVERY input document;
    * clean_text is whitespace-normalized (single-space joined) even when
    * nothing was cut. Scale shape: the [[duplicateSpans]] gram count
    * shuffle plus one min-struct agg, a join-back on the gram hash, a
    * per-doc collect of cut starts (bounded by doc length), and a LEFT
    * join of the corpus against the flagged sliver (AQE broadcasts it
    * when small); the reassembly itself is the O(tokens + cuts)
    * [[graft.expressions.CutSpansExpr]] codegen kernel, map-only. */
  def cutDuplicateSpans(docs: DataFrame, text: Column, id: Column,
                        spanTokens: Int = 13, minOccur: Long = 2): DataFrame = {
    require(spanTokens > 0, "spanTokens must be positive")
    val grams = docs.select(id.as("doc_id"),
      posexplode(shingleHash(
        column(graft.expressions.OrderedShinglesExpr(expression(text), spanTokens))))
        .as(Seq("pos", "gram_h")))
    // occurrence count and corpus-wide first occurrence as PER-GRAM
    // window aggregates instead of an aggregate + join-back on gram_h:
    // the gram frame (the expensive fused-kernel tokenize+hash pass) is
    // built ONCE and crosses the gram_h exchange once, where the join
    // form re-built it for the stream side (guide §2.4; the
    // duplicateSpans rationale — identical rows by construction)
    import org.apache.spark.sql.expressions.Window
    val wg = Window.partitionBy("gram_h")
    val cuts = grams
      .withColumn("n_occ", count(lit(1)).over(wg))
      .withColumn("__first", min(struct(col("doc_id"), col("pos"))).over(wg))
      .filter(col("n_occ") >= minOccur)
      .filter(col("doc_id") =!= col("__first.doc_id") ||
        col("pos") =!= col("__first.pos"))
      .groupBy("doc_id")
      .agg(sort_array(collect_list(col("pos"))).as("__cuts"))
    docs.select(id.as("doc_id"), text.as("__text"))
      .join(cuts, Seq("doc_id"), "left")
      .select(col("doc_id"),
        column(graft.expressions.CutSpansExpr(
          expression(col("__text")),
          expression(coalesce(col("__cuts"), array().cast("array<int>"))),
          spanTokens)).as("clean_text"),
        coalesce(size(col("__cuts")), lit(0)).cast("long").as("n_cut_grams"))
  }

  /** A Bloom filter over any LONG hash column (bits per the standard
    * -n·ln(p)/ln(2)² formula) — the builder behind [[benchGramBloom]].
    * Returns null for an empty input. */
  def hashBloom(df: DataFrame, c: Column, expectedItems: Long,
                fpp: Double = 0.01): Array[Byte] = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    val numBits = math.ceil(
      -expectedItems * math.log(fpp) / (math.log(2) * math.log(2))).toLong
    df.select(column(new BloomFilterAggregate(
        XxHash64(Seq(expression(c)), 42L),
        Literal(expectedItems), Literal(numBits)).toAggregateExpression()).as("bf"))
      .head().getAs[Array[Byte]]("bf")
  }

  /** Benchmark decontamination — the standard LLM-pipeline hygiene step:
    * flag every corpus document sharing at least one word `shingleN`-gram
    * (default 13, the GPT-3/PaLM convention) with a benchmark/eval set,
    * so eval questions that leaked into the training corpus can be
    * dropped before training.
    *
    * Returns one row per CONTAMINATED corpus doc: (doc_id,
    * n_shared_grams = distinct benchmark n-grams it contains,
    * n_bench_docs = distinct benchmark docs it collides with). Clean docs
    * don't appear (anti-join against this output to keep them).
    *
    * Scale shape: each side computes its per-doc DISTINCT shingle set
    * map-side (one codegen kernel pass, no shuffle), hashes each gram to
    * the cross-engine 60-bit md5 prefix, and explodes; the only shuffle
    * is the equi-join ON THE GRAM HASH — and when the benchmark side is
    * broadcast-sized (the usual case: eval sets are tiny next to a
    * 100 TB corpus) Catalyst broadcasts it and the corpus side never
    * shuffles at all (PlanSpec pins this). Cost is linear in corpus
    * token volume either way. */
  def decontaminate(corpus: DataFrame, corpusText: Column, corpusId: Column,
                    bench: DataFrame, benchText: Column, benchId: Column,
                    shingleN: Int = 13): DataFrame = {
    val cg = gramRows(corpus, corpusText, corpusId, "doc_id", "gram_h", shingleN)
    val bg = gramRows(bench, benchText, benchId, "bench_id", "bgram_h", shingleN)
    cg.join(bg, col("gram_h") === col("bgram_h"))
      .groupBy("doc_id")
      .agg(countDistinct(col("gram_h")).as("n_shared_grams"),
        countDistinct(col("bench_id")).as("n_bench_docs"))
  }

  /** [[decontaminate]] with a Bloom prefilter — the form that survives an
    * eval set too large to broadcast. The benchmark grams aggregate into
    * ONE Bloom filter (Spark's own `BloomFilterAggregate`, the expression
    * behind Catalyst's runtime filters — bits, not a hash table of longs,
    * so it stays driver/broadcast-sized long after the join build side
    * wouldn't), every corpus gram row is pruned MAP-SIDE by
    * `might_contain` before any join, and the surviving sliver — true
    * matches plus the fpp — is exact-verified by the same gram equi-join,
    * so the output is row-identical to [[decontaminate]] (q67 reuses
    * q66's oracle verbatim). At 100 TB the shuffle/probe volume drops
    * from |corpus grams| to ≈ contamination rate + fpp.
    *
    * `expectedGrams` sizes the filter (DISTINCT benchmark grams; an
    * overestimate just widens the bits); `fpp` trades filter size against
    * wasted exact-verification. */
  def decontaminateBloom(corpus: DataFrame, corpusText: Column, corpusId: Column,
                         bench: DataFrame, benchText: Column, benchId: Column,
                         shingleN: Int = 13, expectedGrams: Long = 1000000L,
                         fpp: Double = 0.01): DataFrame = {
    val bg = gramRows(bench, benchText, benchId, "bench_id", "bgram_h", shingleN)
    val bloom = benchGramBloom(bench, benchText, shingleN, expectedGrams, fpp)
    val cg = gramRows(corpus, corpusText, corpusId, "doc_id", "gram_h", shingleN)
      .filter(bloomMightContain(bloom)(col("gram_h")))
    cg.join(bg, col("gram_h") === col("bgram_h"))
      .groupBy("doc_id")
      .agg(countDistinct(col("gram_h")).as("n_shared_grams"),
        countDistinct(col("bench_id")).as("n_bench_docs"))
  }

  /** Build the benchmark-gram Bloom filter once (driver-held bytes;
    * broadcast-sized — MBs for millions of grams at 1% fpp) — the input
    * to [[bloomMightContain]] in [[decontaminateBloom]]. */
  def benchGramBloom(bench: DataFrame, benchText: Column, shingleN: Int = 13,
                     expectedGrams: Long = 1000000L,
                     fpp: Double = 0.01): Array[Byte] =
    hashBloom(gramRows(bench, benchText, lit(0L), "__b", "bgram_h", shingleN),
      col("bgram_h"), expectedGrams, fpp)

  /** Membership predicate over a built gram bloom (codegen'd
    * `might_contain`, the same expression Catalyst runtime filters use). */
  def bloomMightContain(bloom: Array[Byte])(c: Column): Column = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal, XxHash64}
    import org.apache.spark.sql.types.BinaryType
    column(BloomFilterMightContain(
      Literal(bloom, BinaryType), XxHash64(Seq(expression(c)), 42L)))
  }

  /** SemDeDup-style semantic deduplication over an embedding column —
    * the composition of the engine's own primitives (each individually
    * oracle-gated): bucket the corpus by nearest centroid
    * ([[Similarity.ivfRangeSearch]] with the corpus as its own probe
    * set), emit intra-bucket pairs with cosine ≥ `minCos`, cluster the
    * pair graph ([[connectedComponents]]), and keep one representative
    * (smallest id) per cluster plus every unpaired document. Recipe per
    * Abbas et al., "SemDeDup: Data-efficient learning at web-scale
    * through semantic deduplication" (arXiv:2303.09540): embeddings →
    * k-means buckets → intra-bucket cosine pruning to one exemplar.
    *
    * Pass [[Similarity.kmeansTrain]]-trained centroids for real recall
    * (SimilaritySpec pins the trained-vs-seed gap); pair volume is
    * Σ bucket², never n², and every stage shuffles on the cluster id or
    * the pair key — the 100 TB shape. `corpus`: (id, e); `centroids`:
    * (c_id, c). Returns surviving (id, cluster) where cluster is the
    * kept representative's component label (its own id for unpaired
    * rows). */
  def semanticDedup(corpus: DataFrame, centroids: DataFrame, minCos: Double,
                    nprobe: Int = 1, maxIter: Int = 20): DataFrame = {
    val probes = corpus.select(col("id").as("probe_id"), col("e").as("p"))
    val pairs = Similarity.ivfRangeSearch(corpus, centroids, probes, minCos, nprobe)
      .filter(col("probe_id") < col("id")) // drop self-pairs; one direction
      .select(col("probe_id").as("id_a"), col("id").as("id_b"))
    val comps = connectedComponents(pairs, maxIter)
    corpus.join(comps, Seq("id"), "left")
      .filter(col("comp").isNull || col("comp") === col("id"))
      .select(col("id"), coalesce(col("comp"), col("id")).as("cluster"))
  }

  /** Engine-fast simhash: 64-bit long fingerprint via the codegen kernel
    * (one md5 per token, all 64 bit-votes in one JVM loop — the earlier
    * 64-HOF-aggregates form was interpreted and ~50× slower). Not
    * oracle-portable as a long; covered by hamming-property ScalaTests. */
  def simhash64(df: DataFrame, text: Column, id: Column): DataFrame =
    df.select(id.as("id"),
      column(graft.expressions.Simhash64Expr(expression(text))).as("simhash64"))

  /** SimHash banded candidate pairs — the LSH-shaped near-dup join for
    * the simhash family: the `bits`-length portable fingerprint is split
    * into `bands` equal chunks, and two docs become a candidate iff some
    * chunk matches EXACTLY, so the join shuffles on (band, chunk-value)
    * and costs Σ bucket², never n². Pigeonhole guarantee: a pair at
    * hamming ≤ bands-1 cannot differ in every band, so recall is total up
    * to that radius (the emitted exact `hamming` lets callers cut at any
    * tighter threshold). Returns (id_a, id_b, hamming), id_a < id_b,
    * each pair once.
    *
    * Parameter note from measurement: simhash bits over natural-language
    * text are strongly correlated (common tokens dominate the votes), so
    * 16-bit bands bucket heavily — 755k candidate pairs over a 10k-doc
    * corpus, max bucket 554. Default to the full 128-bit md5 vote space
    * in 32-bit bands: same hamming-3 recall guarantee, collisions only
    * for genuinely similar text. Per-pair hamming is Σ bit_count(xor)
    * over the band chunks carried as longs — codegen'd integer ops, not
    * a per-bit string loop. */
  /** Bit-string simhash fingerprints in the banded-join input shape —
    * (sid, fp) via the codegen SimhashBitsExpr kernel — for callers that
    * feed [[bandedHammingPairs]] / [[nearDupClusters]] directly. */
  def simhashFps(df: DataFrame, text: Column, id: Column,
                 bits: Int = 128): DataFrame =
    df.select(id.as("sid"),
      column(SimhashBitsExpr(expression(text), bits)).as("fp"))

  def simhashCandidatePairs(df: DataFrame, text: Column, id: Column,
                            bits: Int = 128, bands: Int = 4): DataFrame =
    bandedHammingPairs(simhashFps(df, text, id, bits), bits, bands)

  /** The banded hamming join over ANY precomputed bit-string fingerprint
    * column — the generalization shared by text simhash
    * ([[simhashCandidatePairs]]) and image dHash
    * ([[graft.multimodal.Multimodal.dhash]]): `fps` carries (sid, fp)
    * where fp is a `bits`-char '0'/'1' string; same bucketed shuffle
    * shape, same pigeonhole recall (total up to hamming ≤ bands-1), same
    * (id_a, id_b, hamming) output. */
  def bandedHammingPairs(fps: DataFrame, bits: Int, bands: Int): DataFrame =
    bandedHammingPairsBy(fps, Nil, bits, bands)

  /** [[bandedHammingPairs]] partitioned by extra equality keys: pairs
    * form only WITHIN a key group (video frame index, source bucket, …)
    * — the keys simply join the (band, chunk) shuffle key, so the
    * bucketing gets finer, never coarser. Output: keys ++
    * (id_a, id_b, hamming).
    *
    * Hot-bucket hardening: the self-join runs at the
    * identical-fingerprint REPRESENTATIVE level
    * ([[bandedHammingPairsGuarded]]) and the member-level pair list is
    * re-expanded afterwards, so n byte-identical fingerprints cost one
    * row in every band bucket instead of n (the candidate volume before
    * `distinct()` is groups², not members² × bands). The OUTPUT is still
    * inherently quadratic per identical group (n members pair n·(n-1)/2
    * ways at hamming 0 — that is this method's contract); a pipeline
    * that only needs clusters should use [[nearDupClusters]], whose
    * re-expansion is linear. Key names are aliased to reserved internal
    * names before any working column is built, so user keys can never
    * collide with band/bv/__c under Spark's case-insensitive resolution;
    * names that would collide with the OUTPUT columns are rejected. */
  def bandedHammingPairsBy(fps: DataFrame, keys: Seq[String],
                           bits: Int, bands: Int): DataFrame = {
    requireSafeKeys(keys)
    // work entirely under reserved aliases; restore names at the end
    val ik = keys.indices.map(i => s"__k$i")
    val in = fps.select(col("sid") +: col("fp") +:
      keys.zip(ik).map { case (k, a) => col(k).as(a) }: _*)
    val g = bandedHammingPairsGuarded(in, ik, bits, bands, maxBucket = 0)
    // expansion rides multiMembers (members of >1-member groups ONLY,
    // broadcast-small whenever identical dups are a sliver of the
    // corpus) with LEFT joins — a rep with no multi row is its group's
    // only member, so its sid is itself. Joining full membership here
    // instead would sort-merge two corpus-sized frames to re-discover
    // mostly-singleton groups.
    val m = g.multiMembers
    val ma = m.select(ik.map(col) :+ col("rep").as("id_a") :+
      col("sid").as("__sa"): _*)
    val mb = m.select(ik.map(col) :+ col("rep").as("id_b") :+
      col("sid").as("__sb"): _*)
    // cross-group pairs: every member of rep_a against every member of
    // rep_b (hamming is a group-level constant — members share the exact
    // fingerprint); output ordering restored with least/greatest because
    // member ids interleave across groups even though rep_a < rep_b
    val cross = g.pairs
      .join(ma, (ik :+ "id_a").toSeq, "left")
      .join(mb, (ik :+ "id_b").toSeq, "left")
      .select(ik.map(col) ++ Seq(
        least(coalesce(col("__sa"), col("id_a")),
          coalesce(col("__sb"), col("id_b"))).as("id_a"),
        greatest(coalesce(col("__sa"), col("id_a")),
          coalesce(col("__sb"), col("id_b"))).as("id_b"),
        col("hamming")): _*)
    // intra-group pairs: identical fingerprints, hamming 0
    val i2 = m.select(ik.map(k => col(k).as(s"${k}_b")) :+
      col("rep").as("__repb") :+ col("sid").as("id_b"): _*)
    val icond = (ik.map(k => col(k) === col(s"${k}_b")) :+
      (col("rep") === col("__repb")) :+ (col("sid") < col("id_b"))).reduce(_ && _)
    val intra = m.join(i2, icond)
      .select(ik.map(col) ++ Seq(col("sid").as("id_a"), col("id_b"),
        lit(0L).as("hamming")): _*)
    cross.unionByName(intra)
      .select(keys.zip(ik).map { case (k, a) => col(a).as(k) } ++
        Seq(col("id_a"), col("id_b"), col("hamming")): _*)
  }

  /** Chunk-long encode a frame's `fp` bit-string into `bands` per-band
    * longs and explode to one row per (band, bv) — the ONE banding
    * shape shared by the batch kernel ([[bandedHammingPairsGuarded]])
    * and the streaming near-dup guard
    * ([[graft.streaming.CorpusStreams.nearDupGuard]]), whose
    * spec-pinned stream≡batch equivalence would silently break if the
    * two encoded differently. `keep` columns ride along (must not
    * include `fp`); chunk columns are named s"$pre$i" and stay in the
    * output for per-pair hamming/canonical-band math. */
  private[graft] def bandExplode(fps: DataFrame, keep: Seq[String],
                                 pre: String, bits: Int,
                                 bands: Int): DataFrame = {
    require(bits % bands == 0, s"bits=$bits not divisible by bands=$bands")
    val w = bits / bands
    require(w <= 62, s"band chunk of $w bits exceeds a signed long")
    val chunks = (0 until bands).map(i =>
      conv(substring(col("fp"), i * w + 1, w), 2, 10).cast("long").as(s"$pre$i"))
    fps.select(keep.map(col) ++ chunks: _*)
      .select(keep.map(col) ++ (0 until bands).map(i => col(s"$pre$i")) :+
        explode(array((0 until bands).map(i =>
          struct(lit(i).as("band"), col(s"$pre$i").as("bv"))): _*)).as("hb"): _*)
      .select(keep.map(col) ++ (0 until bands).map(i => col(s"$pre$i")) :+
        col("hb.band").as("band") :+ col("hb.bv").as("bv"): _*)
  }

  /** Result of [[bandedHammingPairsGuarded]]:
    *  - `pairs` — keys ++ (id_a, id_b, hamming), candidate pairs at the
    *    identical-fingerprint REPRESENTATIVE level (one per distinct
    *    (keys, fp) group, the group's smallest sid);
    *  - `membership` — keys ++ (sid, rep), every input row's
    *    representative (re-expand members into a rep's cluster with one
    *    linear join, never a quadratic pair list);
    *  - `multiMembers` — the subset of `membership` whose groups have
    *    more than one member. On a mostly-distinct corpus this is a
    *    sliver (AQE broadcasts joins against it); when it is NOT a
    *    sliver the rep frame shrank by the same factor — never both big;
    *  - `droppedBuckets` — keys ++ (band, bv, n_reps), the hot buckets
    *    the `maxBucket` cap excluded from pairing (empty when uncapped).
    *    Lazily computed: `count()` it for drop accounting. */
  final case class GuardedBandedPairs(pairs: DataFrame, membership: DataFrame,
                                      multiMembers: DataFrame,
                                      droppedBuckets: DataFrame)

  /** The scale-hardened core of the banded hamming family. Two guards on
    * top of the plain banded self-join, both aimed at real web corpora
    * (millions of byte-identical boilerplate images/pages whose identical
    * fingerprints would otherwise meet in EVERY band bucket):
    *
    *  1. identical-fingerprint pre-grouping — one partial-agg shuffle
    *     collapses each distinct (keys, fp) to its smallest sid before
    *     the join, so a group of n identical fingerprints contributes 1
    *     row per bucket, not n (candidate volume Σ bucket² over
    *     DISTINCT fingerprints, with map-side combine absorbing the
    *     skew that a window over fp could not);
    *  2. an optional per-(keys, band, chunk-value) bucket cap — buckets
    *     with more than `maxBucket` distinct fingerprints are excluded
    *     from pairing and REPORTED in `droppedBuckets` (a bucket that
    *     hot is dominated by a shared boilerplate band; pairs whose
    *     other bands match still form). `maxBucket = 0` disables the
    *     cap. Pigeonhole recall (total up to hamming ≤ bands-1) holds
    *     exactly when no bucket is dropped; with drops it degrades only
    *     for pairs ALL of whose matching bands were dropped — the
    *     returned frame makes that loss observable instead of silent.
    *
    * Input contract: `fps` carries (sid, fp) plus `keys`; fp is a
    * `bits`-char '0'/'1' string. Key names are aliased internally (so
    * they cannot collide with working columns) and must not collide
    * with the output columns (sid/fp/rep/id_a/id_b/hamming/band/bv/
    * n_reps, case-insensitive — Spark resolution is case-insensitive). */
  def bandedHammingPairsGuarded(fps: DataFrame, keys: Seq[String], bits: Int,
                                bands: Int, maxBucket: Int = 0,
                                memberCap: Int = 4096): GuardedBandedPairs = {
    require(bits % bands == 0, s"bits=$bits not divisible by bands=$bands")
    val w = bits / bands
    require(w <= 62, s"band chunk of $w bits exceeds a signed long")
    requireSafeKeys(keys)
    import org.apache.spark.sql.graft.ColumnBridge.{column, expression}
    val ik = keys.indices.map(i => s"__k$i")
    val in = fps.select(col("sid") +: col("fp") +:
      keys.zip(ik).map { case (k, a) => col(k).as(a) }: _*)
    // ONE aggregation pass carries everything the guard needs: the
    // representative (min sid), the exact group size, and — via the
    // bounded collect, whose buffer is O(memberCap) however large the
    // group — the group's MEMBERS. The aggregate is then EAGERLY
    // localCheckpoint-ed: every consumer branch (rep-level banded join,
    // membership explode, overflow detection) reads the materialized
    // frame, so the upstream pipeline that produced the fingerprints
    // (decode + hash — usually the expensive part) is evaluated exactly
    // once no matter how many branches the caller executes. (Exchange
    // reuse cannot guarantee this: Catalyst's column pruning specializes
    // the aggregate per branch, and AQE does NOT skip the probe side of
    // a broadcast join even when the build side materializes empty —
    // measured, not assumed.) localCheckpoint persists the distinct-fp
    // frame MEMORY_AND_DISK and truncates lineage — the connected-
    // components convention already used for iterative consumers; on
    // executor loss the operator recomputes from the caller's plan.
    val memberCol = column(graft.expressions.BoundedCollectList(
      expression(col("sid")), memberCap).toAggregateExpression())
    val reps0 = Barrier.cut(
      in.groupBy((ik :+ "fp").map(col): _*)
        .agg(min("sid").as("sid"), count(lit(1)).as("__n"),
          memberCol.as("__sids")))
    val reps = reps0.drop("__n", "__sids")
    val outKeys = keys.zip(ik).map { case (k, a) => col(a).as(k) }
    // groups the bounded collect kept whole (≤ cap members, i.e. every
    // non-adversarial group): membership by explode, zero extra passes
    val inCap = reps0.filter(col("__n") <= memberCap)
      .select(ik.map(col) ++ Seq(col("sid").as("rep"),
        explode(col("__sids")).as("sid")): _*)
    // overflowed groups (> cap identical members — mega-boilerplate):
    // recover their membership with one broadcast-filter pass over the
    // input — the ONLY place the upstream is ever re-evaluated, and the
    // branch is built only when overflow actually exists (a driver-side
    // filter on the already-materialized aggregate, costing no extra
    // upstream pass).
    val overflow = reps0.filter(col("__n") > memberCap)
      .select(ik.map(k => col(k).as(s"__o$k")) ++
        Seq(col("fp").as("__ofp"), col("sid").as("rep")): _*)
    val fromOverflow =
      if (overflow.isEmpty) inCap.filter(lit(false))
        .select(ik.map(col) ++ Seq(col("rep"), col("sid")): _*)
      else {
        // null-SAFE equality on fp (and keys): a null-fp group — every
        // undecodable input shares it — over the cap would silently lose
        // all its members under a plain equi-join, breaking membership's
        // every-input-row contract. Checkpoint like reps0: both
        // membership and multiMembers read this frame, and the one
        // legitimate extra upstream pass must stay exactly one.
        val cond = (ik.map(k => col(k) <=> col(s"__o$k")) :+
          (col("fp") <=> col("__ofp"))).reduce(_ && _)
        Barrier.cut(in.join(broadcast(overflow), cond)
          .select(ik.map(col) ++ Seq(col("rep"), col("sid")): _*))
      }
    val membership = inCap.unionByName(fromOverflow)
      .select(outKeys ++ Seq(col("sid"), col("rep")): _*)
    // members of >1-member identical groups only: the small side the
    // pair re-expansion joins against (broadcast whenever identical dups
    // are a sliver; when they dominate instead, the rep frame shrank by
    // the same factor — never both big)
    val multiSmall = reps0.filter(col("__n") > 1 && col("__n") <= memberCap)
      .select(ik.map(col) ++ Seq(col("sid").as("rep"),
        explode(col("__sids")).as("sid")): _*)
    val multiMembers = multiSmall.unionByName(fromOverflow)
      .select(outKeys ++ Seq(col("sid"), col("rep")): _*)
    val banded0 = bandExplode(reps, "sid" +: ik, "__c", bits, bands)
    val bucketKey = ik :+ "band" :+ "bv"
    val bucketSizes = banded0.groupBy(bucketKey.map(col): _*)
      .agg(count(lit(1)).as("n_reps"))
    val (banded, dropped) =
      if (maxBucket > 0) {
        val hot = bucketSizes.filter(col("n_reps") > maxBucket)
        // hot is tiny (buckets over cap) — AQE broadcasts the anti-join
        (banded0.join(hot.select(bucketKey.map(col): _*), bucketKey.toSeq,
          "left_anti"), hot)
      } else (banded0, bucketSizes.filter(lit(false)))
    val l = banded.select(col("sid").as("id_a") +: (ik.map(col) ++
      (0 until bands).map(i => col(s"__c$i").as(s"__a$i")) :+
      col("band") :+ col("bv")): _*)
    val r = banded.select(col("sid").as("id_b") +:
      (ik.map(k => col(k).as(s"${k}_b")) ++
        (0 until bands).map(i => col(s"__c$i").as(s"__b$i")) :+
        col("band").as("band_b") :+ col("bv").as("bv_b")): _*)
    val cond = (ik.map(k => col(k) === col(s"${k}_b")) :+
      (col("band") === col("band_b")) :+ (col("bv") === col("bv_b")) :+
      (col("id_a") < col("id_b"))).reduce(_ && _)
    val pairs = l.join(r, cond)
      .select(ik.map(col) ++ Seq(col("id_a"), col("id_b")) ++
        (0 until bands).flatMap(i => Seq(col(s"__a$i"), col(s"__b$i"))): _*)
      .distinct()
      .withColumn("hamming",
        (0 until bands).map(i => bit_count(col(s"__a$i").bitwiseXOR(col(s"__b$i"))).cast("long"))
          .reduce(_ + _))
      .select(keys.zip(ik).map { case (k, a) => col(a).as(k) } ++
        Seq(col("id_a"), col("id_b"), col("hamming")): _*)
    val droppedOut = dropped.select(
      keys.zip(ik).map { case (k, a) => col(a).as(k) } ++
        Seq(col("band"), col("bv"), col("n_reps")): _*)
    GuardedBandedPairs(pairs, membership, multiMembers, droppedOut)
  }

  /** Guarded near-dup CLUSTERING — the shape a 100 TB pipeline should
    * consume: capped representative-level banded join
    * ([[bandedHammingPairsGuarded]]), connected components over rep
    * pairs at hamming ≤ `maxHamming`, then LINEAR re-expansion of every
    * member into its representative's cluster. A million byte-identical
    * thumbnails cost one representative in the join and a million
    * (sid, cluster) output rows — never the 5·10¹¹ member pairs the
    * pair-list contract implies. Returns (sid, cluster) covering every
    * input row; cluster is the smallest sid in the near-dup cluster
    * (rep = min sid per identical group, component label = min rep).
    * Callers needing drop accounting for the bucket cap use
    * [[bandedHammingPairsGuarded]] directly. */
  def nearDupClusters(fps: DataFrame, bits: Int, bands: Int, maxHamming: Int,
                      maxBucket: Int = 1 << 12, maxIter: Int = 20): DataFrame = {
    val g = bandedHammingPairsGuarded(fps, Nil, bits, bands, maxBucket)
    val near = g.pairs.filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b")
    val comps = connectedComponents(near, maxIter)
    g.membership.join(comps, g.membership("rep") === comps("id"), "left")
      .select(col("sid"), coalesce(col("comp"), col("rep")).as("cluster"))
  }

  /** Output/working-name collision guard shared by the banded-join
    * family: user keys ride under reserved `__k` aliases internally, but
    * names that collide with the OUTPUT columns would still be ambiguous
    * for the caller — reject them loudly (resolution is case-insensitive). */
  private def requireSafeKeys(keys: Seq[String]): Unit = {
    val reserved =
      Set("sid", "fp", "rep", "id_a", "id_b", "hamming", "band", "bv", "n_reps")
    val bad = keys.filter(k => reserved.contains(k.toLowerCase))
    require(bad.isEmpty,
      s"banded-join key name(s) ${bad.mkString(", ")} collide with reserved " +
        s"output columns (${reserved.toSeq.sorted.mkString(", ")})")
  }
}
