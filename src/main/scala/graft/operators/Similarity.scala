package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions._

/** Approximate-nearest-neighbor search over embedding columns, the whole
  * scale ladder:
  *  - [[bruteForceTopK]]: the exact baseline and the oracle every rung's
  *    recall is measured against ([[recallAtK]]);
  *  - [[lshTopK]]: hyperplane LSH, no training;
  *  - [[ivfTopK]] / [[ivfRangeSearch]]: inverted file — a probe scans only
  *    its `nprobe` nearest cells ([[kmeansTrain]] trains the cells);
  *  - [[pqTopK]] and [[ivfPqTopK]]: product-quantized codes scored by
  *    asymmetric distance (ADC) — m code bytes per vector, not d doubles;
  *  - each IVF rung persisted as a bucketed index ([[writeIvfIndex]],
  *    [[writeIvfPqIndex]]) and probed pruned ([[ivfTopKIndexed]],
  *    [[ivfRangeSearchIndexed]], [[ivfPqTopKIndexed]]), in bulk
  *    ([[ivfTopKBulk]], [[ivfPqTopKBulk]]) or with an exact re-rank
  *    ([[ivfPqTopKRerankIndexed]]); appends, deletes and compaction keep
  *    the index live;
  *  - shortlist re-rankers over any rung: [[postFilterTopK]],
  *    [[excludePairsTopK]] and reciprocal-rank fusion ([[rrfFuseByProbe]]).
  *
  * Every top-k operator is three parts. A candidate source yields
  * (probe, candidate) pairs: the corpus itself, the in-memory IVF join
  * ([[ivfCandidates]]), a persisted index pruned to the probes' cells
  * ([[prunedIndex]]), or a bulk index join ([[bulkCandidates]]). A scorer
  * adds one column: exact cosine ([[cosine]]) or ADC ([[adcResidScore]]
  * over [[adcTables]]). One tail ranks: [[rankTopK]] over the single
  * per-key window [[topPerKey]], which also picks each vector's nearest
  * cells.
  *
  * Every input side is unit-normalized ONCE map-side (O(rows·d)), so each
  * pair comparison is a single codegen'd dot product
  * ([[graft.expressions.DotProduct]]) — the O(pairs·d) term carries no
  * norm recomputation. No UDFs anywhere.
  */
object Similarity {

  /** (cols…, unit vector of `vec` as `out`): one normalization pass. */
  private def unitized(df: DataFrame, vec: String, out: String): DataFrame =
    df.withColumn(out, unit(col(vec))).drop(vec)

  /** The one per-key top-n window: rows numbered within each `key` by
    * (`score` desc, `tie` asc) into `rankCol`, those numbered ≤ `n`
    * kept. Result tails and nearest-cell picks all rank here. */
  private def topPerKey(df: DataFrame, key: String, score: String,
                        tie: String, n: Int, rankCol: String): DataFrame =
    df.withColumn(rankCol, row_number().over(
        Window.partitionBy(key).orderBy(col(score).desc, col(tie))))
      .filter(col(rankCol) <= n)

  /** The tail of every top-k operator: the `k` best rows per probe by
    * (`score` desc, id), as (probe_id, rank, id, score). */
  private def rankTopK(df: DataFrame, score: String, k: Int): DataFrame =
    topPerKey(df, "probe_id", score, "id", k, "rank")
      .select(col("probe_id"), col("rank"), col("id"), col(score))

  /** Exact-cosine scorer: unit probe `up` · unit candidate `ue`. */
  private def cosine: Column = dot(col("up"), col("ue"))

  /** Exact top-k by cosine. `corpus`: (id, e); `probes`: (probe_id, p).
    * Deterministic tie-break on ascending corpus id. */
  def bruteForceTopK(corpus: DataFrame, probes: DataFrame, k: Int): DataFrame =
    rankTopK(unitized(corpus, "e", "ue")
      .join(broadcast(unitized(probes, "p", "up")))
      .filter(col("id") =!= col("probe_id"))
      .withColumn("cos", cosine), "cos", k)

  /** Recall@k of an approximate kNN result against the exact baseline —
    * the EVALUATE leg of the index lifecycle (the number every ANN
    * deployment tunes nprobe/bands/m against; SimilaritySpec's quality
    * pins use the same definition). Both frames carry at least
    * (probe_id, id) — the top-k of the same probe set from the index
    * under test and from [[bruteForceTopK]]. Per probe:
    * |approx ∩ exact| / min(k, |exact|) — the standard recall@k
    * denominator, so a baseline that legitimately carries fewer than k
    * neighbors (a corpus smaller than k+1, a range-limited ground
    * truth) scores a perfect index 1.0 instead of |exact|/k. Probes the
    * index missed entirely keep recall 0 via a left join from the
    * exact side's probe list.
    *
    * Scale shape: evaluation always runs on a probe SAMPLE (the exact
    * side is O(|sample|·n) by construction — that cost is the
    * baseline's, not this operator's). Both inputs here are
    * |sample|·k rows, so the semi join on (probe_id, id) and the
    * per-probe count are metadata-cheap at any corpus size. */
  def recallAtK(approx: DataFrame, exact: DataFrame, k: Int): DataFrame = {
    require(k >= 1, "recallAtK needs k >= 1")
    // the metric is over (probe_id, id) SETS: a duplicated row (an
    // upstream fan-out join artifact) collapses instead of
    // double-counting a hit, and the oversize guard below then measures
    // DISTINCT candidates per probe — the quantity the top-k contract
    // actually bounds
    val ap = approx.select(col("probe_id"), col("id")).distinct()
    val ex = exact.select(col("probe_id"), col("id")).distinct()
    val hits = ex.join(ap, Seq("probe_id", "id"), "left_semi")
      .groupBy("probe_id").agg(count(lit(1)).as("n_hit"))
    // GUARD (execution-time, riding the metric's own sample·k row scale):
    // each side must be a genuine top-k frame. An oversized side silently
    // redefines the metric — exact > k per probe lets n_hit exceed k
    // (recall > 1), approx > k per probe turns the number into "exact
    // top-k found anywhere in a larger list" — so the recall column
    // itself raises when either per-probe count exceeds k. Probes the
    // exact side doesn't carry stay out of the metric, as before — but
    // the top-k contract is checked over the WHOLE approx frame, not
    // just the probes the exact side happens to carry: a 1-row global
    // max over the approx per-probe counts (metadata-cheap, sample·k
    // input rows) rides every output row via a broadcast cross join, so
    // an oversized approx-only probe fails too instead of slipping the
    // per-row check. Residual edge, by construction: the guard columns
    // evaluate once per OUTPUT row, so an entirely empty exact side
    // (zero output rows — nothing to mis-measure) raises nothing.
    val exN = ex.groupBy("probe_id").agg(count(lit(1)).as("__n_ex"))
    val apN = ap.groupBy("probe_id").agg(count(lit(1)).as("__n_ap"))
    // one struct max so the reported (count, probe) pair is the SAME
    // winning row — two independent maxes could pair the max count with
    // a different oversized probe's id in the error message
    val apMax = apN
      .agg(max(struct(col("__n_ap"), col("probe_id"))).as("__w"))
      .select(col("__w.__n_ap").as("__max_ap"),
        col("__w.probe_id").as("__max_ap_probe"))
    val nHit = coalesce(col("n_hit"), lit(0L))
    val guardedRecall =
      when(col("__n_ex") > k || coalesce(col("__n_ap"), lit(0L)) > k,
        raise_error(format_string(
          s"recallAtK: more than k=$k rows for probe %s (exact %s, approx %s)",
          col("probe_id").cast("string"), col("__n_ex").cast("string"),
          coalesce(col("__n_ap"), lit(0L)).cast("string"))).cast("double"))
        .when(coalesce(col("__max_ap"), lit(0L)) > k,
          raise_error(format_string(
            s"recallAtK: approx frame is not a top-$k frame — probe %s " +
              s"carries %s rows (> k=$k); a probe outside the exact side's " +
              "list would otherwise be silently ignored by the metric",
            col("__max_ap_probe").cast("string"),
            col("__max_ap").cast("string"))).cast("double"))
        .otherwise(round(
          nHit / least(lit(k.toLong), col("__n_ex")).cast("double"), 6))
    exN.join(hits, Seq("probe_id"), "left")
      .join(apN, Seq("probe_id"), "left")
      .crossJoin(broadcast(apMax))
      .select(col("probe_id"), nHit.as("n_hit"), guardedRecall.as("recall"))
  }

  /** POST-FILTER top-k — filtered vector search when the predicate lives
    * on metadata the index does NOT carry (an external allow-list: a
    * permissions table, a freshness snapshot, a per-request tenant set).
    * `shortlist` is an OVER-FETCHED retrieval frame (probe_id, rank, id,
    * cos) from any path in the family ([[ivfTopK]], [[ivfTopKIndexed]],
    * [[ivfPqTopKRerankIndexed]]) fetched at some R ≥ k (q133c uses
    * R = 3k); survivors of the `allowed`-ids filter re-rank and the
    * top-k emit.
    *
    * This is the standard recall trade the over-fetch dial prices: a
    * probe whose shortlist holds fewer than k allowed ids comes back
    * SHORT (the candidates were spent on filtered-out rows) — recall
    * decays with predicate selectivity, which is exactly why a
    * FREQUENTLY-filtered column belongs in the index as payload
    * ([[writeIvfIndex]]) where [[ivfTopKIndexed]]'s `indexFilter` ranks
    * over matching rows only. q133d gates the comparison; the shortfall
    * is observable per-probe (rows < k), not silently padded.
    *
    * Scale shape: `allowed` can be corpus-sized — it STREAMS through one
    * broadcast-hash join against the shortlist (|probes|·overfetch rows,
    * broadcast-sized by the probe-batch convention) and never shuffles;
    * the re-rank window moves only surviving shortlist rows. `allowed`
    * must be id-unique (it is a set; a duplicated id would fan out
    * shortlist rows and corrupt ranks). */
  def postFilterTopK(shortlist: DataFrame, allowed: DataFrame,
                     k: Int): DataFrame =
    rankTopK(allowed.select(col("id"))
      .join(broadcast(shortlist.select("probe_id", "id", "cos")), "id"), "cos", k)

  /** PER-PROBE EXCLUSION over an over-fetched shortlist — the external
    * twin of [[ivfTopKIndexed]]'s `pairFilter` for sets the index does
    * NOT carry and that vary per probe (the canonical serve case:
    * "exclude the docs this user already saw"). `exclude`: (probe_id,
    * id) pairs — a seen-log, an impression history, a per-request
    * blocklist; surviving shortlist rows re-rank and the top-k emit.
    * Short probes come back short ([[postFilterTopK]]'s honest
    * contract — the over-fetch dial prices the recall trade the same
    * way).
    *
    * Scale shape: the exclusion log can be CORPUS-scale × users — it
    * must never shuffle on a serve call. Two broadcast joins arrange
    * that: (1) the log SEMI-joins the broadcast shortlist pairs, so
    * only exclusions that could matter survive (≤ |probes|·R rows —
    * the log streams through map-side); (2) the shortlist ANTI-joins
    * that tiny broadcast intersection. Spark's left-anti builds on the
    * right side only, so anti-joining the raw log directly would
    * broadcast (or shuffle) the LOG — the semi-first composition is
    * what keeps the big side streaming. FilteredAnnSpec pins the
    * semantics and the no-log-Exchange plan shape.
    *
    * The shortlist executes ONCE: it feeds BOTH exclusion joins, with
    * DIFFERENT projections (pairs into the semi build side, the full
    * frame into the anti's probe side), so ReuseExchange cannot dedupe
    * the two consumers — referenced lazily, a full IVF window+join
    * ranking would run twice per serve call. It is |probes|·R rows,
    * broadcast-sized by contract, so it collects to a local frame (the
    * [[prunedIndex]] convention) — which makes this operator
    * EAGER: the shortlist lineage runs at call time, like every
    * indexed probe path. The contract is GUARDED: the collect is
    * bounded by `graft.ann.maxShortlistRows` (default 2M — ~hundreds
    * of MB of driver rows) and raises past it naming the bound, so a
    * caller passing an unbounded frame gets an actionable error, not
    * a silent driver OOM (FilteredAnnSpec pins the raise). */
  def excludePairsTopK(shortlist: DataFrame, exclude: DataFrame,
                       k: Int): DataFrame = {
    val sl0 = shortlist.select("probe_id", "id", "cos")
    // limit(bound + 1) rides the single execution: under the bound it
    // returns every row; at bound + 1 the extra row is proof enough to
    // raise without materializing the rest of a runaway frame
    val bound = sl0.sparkSession.conf
      .get("graft.ann.maxShortlistRows", "2000000").toLong
    require(bound >= 1,
      s"excludePairsTopK: graft.ann.maxShortlistRows is $bound — the " +
        "driver-comfort bound on the shortlist collect must be >= 1")
    val capped = (bound.min(Int.MaxValue - 2L) + 1L).toInt
    val rows = sl0.limit(capped).collect()
    require(rows.length < capped,
      s"excludePairsTopK: shortlist reached $capped rows, past the " +
        s"driver-comfort bound of $bound (graft.ann.maxShortlistRows) — " +
        "the contract is |probes|·R rows (one probe batch's over-fetched " +
        "candidates), collected once to the driver to avoid re-executing " +
        "the ranking lineage; shrink the probe batch / over-fetch, or " +
        "raise the bound knowingly")
    val sl = sl0.sparkSession.createDataFrame(
      java.util.Arrays.asList(rows: _*), sl0.schema)
    // the semi preserves every matching LOG row, and a real seen-log
    // repeats impressions of the same (probe, id) pair — distinct()
    // restores the documented ≤ |probes|·R bound on the broadcast
    // build side (an anti join is duplicate-insensitive semantically;
    // this is about broadcast SIZE). The distinct shuffles only the
    // intersection, never the log.
    val hits = exclude.select(col("probe_id"), col("id"))
      .join(broadcast(sl.select("probe_id", "id")),
        Seq("probe_id", "id"), "left_semi")
      .distinct()
    rankTopK(sl.join(broadcast(hits), Seq("probe_id", "id"), "left_anti"), "cos", k)
  }

  /** RECIPROCAL-RANK FUSION (Cormack/Clarke/Buettcher '09) — the
    * standard hybrid-retrieval combiner: each leg is a ranked list
    * (id, rank) from an independent retrieval mode (BM25 lexical, ANN
    * vector, recency, …), and a document's fused score is
    * Σ_legs 1/(c + rank). Rank-based (no per-leg score normalization
    * problem — BM25 logs and cosines never share a scale), and c = 60
    * is the paper's dampening constant: rank-1-in-one-leg cannot crush
    * consistent mid-ranks across legs.
    *
    * Determinism across engines AND partitionings: the addends are
    * IEEE doubles (identical everywhere) summed as DECIMAL(28,12) —
    * exact, so accumulation order cannot flip a downstream rank tie —
    * then cast back to double. 12 fractional digits is the proven
    * cross-engine conversion width (the q65 kmeans-mean convention:
    * well inside the zone where Spark's shortest-repr-string and
    * DuckDB's exact-binary double→decimal roundings agree), and 8+
    * significant digits on a 1/(c+rank) addend — far below any rank
    * flip. Scale shape: legs are top-R frames (bounded by their own
    * retrieval), so the union/groupBy moves |legs|·R rows —
    * metadata-cheap; ties break on ascending id.
    *
    * GUARD (execution-time, riding the fuse's own row scale): each leg
    * must carry ONE row per id — a duplicated id would silently
    * double-count its reciprocal, quietly re-weighting that leg. The
    * worst per-(leg, id) multiplicity rides every output row as a
    * 1-row broadcast (the [[recallAtK]] pattern) and raises when > 1.
    * Residual edge, same as recallAtK's: a fuse with zero output rows
    * evaluates no guard — nothing was mis-scored. */
  def rrfFuse(legs: Seq[DataFrame], k: Int, c: Int = 60): DataFrame = {
    require(legs.nonEmpty, "rrfFuse: no ranked legs")
    require(k >= 1, "rrfFuse needs k >= 1")
    val tagged = legs.zipWithIndex
      .map { case (l, i) => l.select(lit(i).as("__leg"), col("id"), col("rank")) }
      .reduce(_ union _)
    // one struct max so the reported (count, leg, id) triple is the same
    // winning row (the recallAtK convention)
    val dupMax = tagged.groupBy("__leg", "id").agg(count(lit(1)).as("__n"))
      .agg(max(struct(col("__n"), col("__leg"), col("id"))).as("__dup"))
      .select(col("__dup.__n").as("__max_n"), col("__dup.__leg").as("__max_leg"),
        col("__dup.id").as("__max_id"))
    val fused = tagged
      .groupBy("id")
      .agg(sum((lit(1.0) / (lit(c) + col("rank"))).cast("decimal(28,12)"))
        .cast("double").as("__rrf0"))
      .crossJoin(broadcast(dupMax))
      .withColumn("rrf",
        when(col("__max_n") > 1, raise_error(format_string(
          "rrfFuse: leg %s carries id %s %s times — each ranked leg must " +
            "be one row per id (a top-R frame)",
          col("__max_leg").cast("string"), col("__max_id").cast("string"),
          col("__max_n").cast("string"))).cast("double"))
        .otherwise(col("__rrf0")))
    // global top-k through the sanctioned bounded-window helper
    // (TakeOrderedAndProject selection; the rank window sees ≤ k rows)
    Windows.topKRank(fused, k, "rank", col("rrf").desc, col("id"))
      .select(col("rank"), col("id"), col("rrf"))
  }

  /** BATCH reciprocal-rank fusion — [[rrfFuse]] keyed per probe, the
    * production serve shape (a batch of queries, each with its own
    * ranked legs, fused in ONE job instead of a driver-side loop over
    * single-query fuses). Each leg carries (probe_id, id, rank): a
    * probe-dependent leg (per-probe ANN top-R) contributes its own
    * ranking per probe; a probe-INDEPENDENT leg (a global popularity /
    * recency / lexical prior) is replicated across the probe batch by
    * the caller before fusing — q135b does exactly that with the BM25
    * prior. Same arithmetic as [[rrfFuse]] row for row (decimal-exact
    * sum, c = 60, ties on ascending id), so fusing a batch equals
    * fusing each probe alone — SimilaritySpec pins the equivalence.
    *
    * The duplicate-id guard generalizes to (leg, probe_id, id): one
    * row per id PER PROBE per leg — the same id ranked by the same leg
    * for two different probes is the normal batch shape and must NOT
    * raise. Scale shape: |probes|·|legs|·R input rows; the fuse groups
    * on (probe_id, id) and the top-k window partitions on probe_id
    * over ≤ |legs|·R rows per probe — metadata-cheap at any corpus
    * size, no unpartitioned window anywhere.
    *
    * `weights`: WEIGHTED RRF (w_i/(c + rank)) — the standard
    * production dial when one leg is a weak prior (a popularity or
    * recency leg that should nudge, not dominate). One positive
    * multiplier per leg, in leg order; empty (default) = classic RRF,
    * all legs at 1.0 — and the 1.0 addend is float-identical to the
    * unweighted form (SimilaritySpec pins the equivalence). Each addend is
    * ONE double division w/(c+rank) — IEEE-identical in any engine —
    * and the decimal-exact accumulation carries unchanged, so the
    * cross-engine determinism contract survives the weight verbatim. */
  def rrfFuseByProbe(legs: Seq[DataFrame], k: Int, c: Int = 60,
                     weights: Seq[Double] = Nil): DataFrame = {
    require(legs.nonEmpty, "rrfFuseByProbe: no ranked legs")
    require(k >= 1, "rrfFuseByProbe needs k >= 1")
    require(weights.isEmpty || weights.length == legs.length,
      s"rrfFuseByProbe: ${weights.length} weights for ${legs.length} legs — " +
        "pass one positive weight per leg (in leg order), or none for " +
        "classic RRF")
    require(weights.forall(_ > 0),
      s"rrfFuseByProbe: non-positive weight in ${weights.mkString("(", ", ", ")")} " +
        "— a zero weight silently erases its leg, a negative one inverts " +
        "it; drop the leg instead")
    val ws = if (weights.isEmpty) Seq.fill(legs.length)(1.0) else weights
    val tagged = legs.zipWithIndex
      .map { case (l, i) =>
        l.select(lit(i).as("__leg"), lit(ws(i)).as("__w"),
          col("probe_id"), col("id"), col("rank"))
      }
      .reduce(_ union _)
    // one struct max so the reported (count, leg, probe, id) quadruple
    // is the same winning row (the rrfFuse/recallAtK convention). The
    // struct alias is "__dup", NOT "__w": "__w" is the per-leg weight
    // column in `tagged`, and although the groupBy above drops it
    // before this frame is consumed, shadowing the name would let a
    // future edit silently mis-bind one for the other
    val dupMax = tagged.groupBy("__leg", "probe_id", "id")
      .agg(count(lit(1)).as("__n"))
      .agg(max(struct(col("__n"), col("__leg"), col("probe_id"), col("id")))
        .as("__dup"))
      .select(col("__dup.__n").as("__max_n"), col("__dup.__leg").as("__max_leg"),
        col("__dup.probe_id").as("__max_probe"), col("__dup.id").as("__max_id"))
    rankTopK(tagged
      .groupBy("probe_id", "id")
      .agg(sum((col("__w") / (lit(c) + col("rank"))).cast("decimal(28,12)"))
        .cast("double").as("__rrf0"))
      .crossJoin(broadcast(dupMax))
      .withColumn("rrf",
        when(col("__max_n") > 1, raise_error(format_string(
          "rrfFuseByProbe: leg %s carries id %s %s times for probe %s — " +
            "each ranked leg must be one row per (probe_id, id)",
          col("__max_leg").cast("string"), col("__max_id").cast("string"),
          col("__max_n").cast("string"), col("__max_probe").cast("string")))
          .cast("double"))
        .otherwise(col("__rrf0"))), "rrf", k)
  }

  /** Assign each unit corpus vector to its nearest centroid (cosine; ties
    * broken by ascending centroid id). Inputs already unit-normalized.
    * `extra`: passthrough columns appended after c_id (payload carry). */
  private def assignUnit(ucorpus: DataFrame, ucent: DataFrame,
                         idCol: String, vecCol: String, keep: Int,
                         extra: Seq[String] = Nil): DataFrame =
    topPerKey(ucorpus.join(broadcast(ucent))
        .withColumn("cos_c", dot(col(vecCol), col("uc"))),
        idCol, "cos_c", "c_id", keep, "rn")
      .select((Seq(idCol, vecCol, "c_id") ++ extra).map(col): _*)

  /** IVF probe side: each unit probe `up` with its `nprobe` nearest unit
    * centroids `ucent` — (probe_id, up, c_id, extra…). */
  private def ivfProbeSide(probes: DataFrame, ucent: DataFrame, nprobe: Int,
                           extra: Seq[String] = Nil): DataFrame =
    assignUnit(unitized(probes, "p", "up"), ucent, "probe_id", "up", nprobe, extra)

  /** In-memory IVF candidate source: the corpus assigned to its nearest
    * cell, joined on the cell to each probe's `nprobe` nearest — (c_id,
    * probe_id, up, id, ue). */
  private def ivfCandidates(corpus: DataFrame, centroids: DataFrame,
                            probes: DataFrame, nprobe: Int): DataFrame = {
    val ucent = unitized(centroids, "c", "uc")
    val assigned = assignUnit(unitized(corpus, "e", "ue"), ucent, "id", "ue", 1)
    ivfProbeSide(probes, ucent, nprobe).join(assigned, "c_id")
  }

  /** Assign each corpus vector to its nearest centroid. `corpus`: (id, e,
    * payload…); `centroids`: (c_id, c). Map-only: centroids are broadcast.
    * `payload` columns of the corpus ride along unchanged after c_id. */
  def ivfAssign(corpus: DataFrame, centroids: DataFrame,
                payload: Seq[String] = Nil): DataFrame =
    assignUnit(unitized(corpus, "e", "ue"), unitized(centroids, "c", "uc"),
      "id", "ue", 1, payload)

  /** Materialize the IVF index: corpus vectors unit-normalized, assigned
    * to their nearest centroid, and written BUCKETED BY the cluster id —
    * the 100 TB layout where a probe reads only its nprobe buckets off
    * disk instead of scanning (or shuffling) the corpus. Stored schema:
    * (id, ue unit vector, c_id, payload…).
    *
    * `payload`: metadata columns of `corpus` (tenant, language, source,
    * license class…) stored IN the index rows. This is what makes
    * FILTERED vector search single-stage: [[ivfTopKIndexed]]'s
    * `indexFilter` on a payload column is pushed into the bucket-pruned
    * parquet scan (`PushedFilters` — FilteredAnnSpec pins it), so a
    * predicate probe ranks over exactly the matching rows and recall is
    * selectivity-independent (the post-filter alternative,
    * [[postFilterTopK]], is for predicates on metadata the index does
    * NOT carry). Payload costs index bytes, not probe time: columnar
    * parquet reads only the filtered columns. */
  def writeIvfIndex(corpus: DataFrame, centroids: DataFrame,
                    table: String, numBuckets: Int,
                    payload: Seq[String] = Nil): Unit = {
    resetIndex(corpus.sparkSession, table)
    Bucketing.writeBucketed(ivfAssign(corpus, centroids, payload), table,
      "c_id", numBuckets, sort = false)
  }

  /** Start a REBUILD from nothing: drop the index table and the side
    * tables of its previous incarnation. Stale tombstones must not
    * suppress rows the new corpus legitimately holds, and an interrupted
    * compaction's staging/backup tables must not linger as orphans under
    * the new incarnation's side names. */
  private def resetIndex(spark: org.apache.spark.sql.SparkSession,
                         table: String): Unit =
    Seq(table, tombstoneTable(table), s"${table}__compact", s"${table}__old")
      .foreach(dropTableAndDir(spark, _))

  /** DROP TABLE plus clearing the warehouse location: a previous JVM's
    * orphaned directory survives the (fresh, in-memory) catalog and
    * blocks CREATE TABLE — index rebuilds must be idempotent across
    * sessions. The cleanup goes through the Hadoop FileSystem API, so
    * it is scheme-aware: on an object-store warehouse (the 100 TB
    * deployment — s3a/abfs/gs) the same one recursive delete applies,
    * instead of a java.nio walk that would silently no-op off the
    * local filesystem and quietly degrade rebuild idempotency to plain
    * DROP TABLE. */
  private[graft] def dropTableAndDir(spark: org.apache.spark.sql.SparkSession,
                                     table: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    val dir = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), table)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(dir)) fs.delete(dir, true)
  }

  /** APPEND new vectors into an existing [[writeIvfIndex]] index — the
    * incremental-maintenance shape of a growing corpus (daily ingest
    * into a billion-vector index): the new batch assigns to the FROZEN
    * centroids (map-only, broadcast) and inserts into the bucketed
    * table. `insertInto` applies the catalog table's bucket spec, so
    * appended rows hash into the same bucket files' numbering and every
    * probe-side guarantee ([[ivfTopKIndexed]]'s bucket pruning, no
    * index-side Exchange) holds over the union unchanged — IvfIndexSpec
    * pins build-half+append-half ≡ build-whole. Centroids must be the
    * index's own (drifted centroids silently mis-bucket): the
    * drift→retrain→rebuild cycle is [[occupancyPsi]] (detect) +
    * [[ivfRetrainFromIndex]] (retrain, no corpus re-scan) +
    * [[writeIvfIndex]] (rebuild) — gated end-to-end as q28e; periodic
    * [[Compaction]] of accumulated small per-append files is the
    * companion maintenance task.
    *
    * STATS KEEP-ALIVE: if the table carried ANALYZE statistics going
    * into the append, the append re-ANALYZEs it afterwards. Spark
    * itself CLEARS catalog stats on any catalog-routed insert (so the
    * "stale analyzed rowCount under-enforces the [[ivfTopKBulk]]
    * guard" failure cannot arise through this path) — but clearing
    * silently DOWNGRADES an analyzed index to the count()-per-probe
    * fallback on its first append; the refresh preserves the job-free
    * guard path the ANALYZE opted into. Detection reads the CATALOG
    * entry's statistics ([[hasCatalogRowCount]] — the
    * [[tombstoneRowCount]] convention), NOT optimizer-plan stats:
    * plan-level rowCount is CBO-gated and a streaming writer's
    * foreachBatch session runs with CBO forced OFF, so plan-read
    * detection silently killed the keep-alive under exactly the
    * continuous-ingest shape that needs it (AnnServeSpec pins the
    * streamed case). Catalog-first detection can only re-ANALYZE MORE
    * often than the plan read would (plan stats derive from the
    * catalog), so [[indexRowCount]]'s guard never loses a count it
    * would have had; a never-analyzed index pays nothing here. Cost:
    * one count-class job per append batch — noise next to the insert,
    * bought back by every guarded probe.
    * (Writers that bypass the catalog entirely — files dropped into
    * the directory — leave stats both stale AND un-cleared on ANY
    * engine: after such an append, REFRESH + re-ANALYZE the table; the
    * guard's 8× drift allowance plus [[indexRowCount]]'s zero-count
    * fallback bound the damage until then.)
    *
    * STREAMING INGEST (the continuously-growing-corpus shape): call
    * this from a `foreachBatch` body — the append is a plain batch
    * insert, so its ORDERING CONTRACT is the micro-batch boundary:
    * rows appended in micro-batch N are visible to any serve call
    * issued after batch N completes (foreachBatch bodies run
    * sequentially), never mid-batch, and the stats keep-alive and
    * positional column check run per batch exactly as in one-shot use.
    * Visibility is automatic through the WRITING session (the insert
    * invalidates its relation cache); a SEPARATE serving session — the
    * production shape, and what foreachBatch's cloned session already
    * makes of the enclosing one — sees the new files after its next
    * `REFRESH TABLE`, standard Spark cross-session semantics (a cached
    * file listing is per-session; refresh once per serve boundary, not
    * per probe). The "never mid-batch" half is SNAPSHOT-AT-LISTING: a
    * serve scan captures the table's file listing when its first job
    * runs and ranks only over those files, so a reader in flight when
    * an append commits sees NONE of the batch — committed files enter
    * only through a later listing. (A reader that LISTS concurrently
    * with the commit is outside the boundary contract — serve at
    * boundaries, as above.) AnnServeSpec pins both halves:
    * serve-after-append parity across a streamed 2-batch ingest
    * against the one-shot build (with the prober on the other side of
    * the session boundary), and the in-flight reader's
    * snapshot-at-listing isolation; ConcurrentServeSpec races a serve
    * loop against live batch appends and audits every answer as the
    * operator's own ranking over base plus whatever committed appends
    * its listing caught (appends never error a reader — files appear
    * atomically at their commit move). */
  def appendIvfIndex(newVectors: DataFrame, centroids: DataFrame,
                     table: String, payload: Seq[String] = Nil): Unit = {
    val spark = newVectors.sparkSession
    val hadStats = hasCatalogRowCount(spark, table)
    // insertInto is POSITIONAL: `payload` must list the same columns in
    // the same order the index was written with, or values land in the
    // wrong stored columns silently — one driver-side name comparison
    // before the write converts that silent corruption into an error
    // (FilteredAnnSpec pins both the happy path and the reject)
    val assigned = ivfAssign(newVectors, centroids, payload)
    requireInsertColumns(spark, table, assigned, "appendIvfIndex")
    assigned.write.mode(SaveMode.Append).insertInto(table)
    if (hadStats)
      spark.sql(s"ANALYZE TABLE `$table` COMPUTE STATISTICS")
  }

  /** Pre-insert schema check for the positional `insertInto` appends:
    * the batch frame's column NAMES must equal the stored table's, in
    * order. Name-for-name equality is the cheapest faithful proxy for
    * "same construction order as the build" — a payload list permuted
    * against the build order produces a differently-ordered frame here
    * and fails loudly instead of writing values into the wrong stored
    * columns. Driver-side catalog read only; no job. */
  private def requireInsertColumns(spark: org.apache.spark.sql.SparkSession,
                                   table: String, batch: DataFrame,
                                   op: String): Unit = {
    val expected = spark.table(table).columns.toSeq
    val got = batch.columns.toSeq
    require(got == expected,
      s"$op: batch columns ${got.mkString("(", ", ", ")")} do not match " +
        s"`$table`'s stored columns ${expected.mkString("(", ", ", ")")} — " +
        "insertInto is positional; pass payload columns in the index's " +
        "build order")
  }

  /** The tombstone side table of an index: `<table>__tombstones`. */
  private def tombstoneTable(table: String): String = s"${table}__tombstones"

  /** DELETE ids from a materialized index ([[writeIvfIndex]] /
    * [[writeIvfPqIndex]]) — the right-to-be-forgotten leg of the index
    * lifecycle. At 100 TB a delete cannot rewrite the bucketed table
    * (that is a full-index job for a handful of rows), so this is
    * MERGE-ON-READ: `ids` (one `id` column) append to a tombstone side
    * table, and every indexed serve path ([[ivfTopKIndexed]],
    * [[ivfTopKBulk]], [[ivfRangeSearchIndexed]], [[ivfPqTopKIndexed]] —
    * all read through [[liveIndexRows]]) anti-joins it BROADCAST
    * (tombstones are deletes-since-last-compaction, bounded small by the
    * maintenance cadence), so a deleted row's top-k slot backfills with
    * the next-best candidate at serve time, not at compaction time.
    * [[compactIvfIndex]] folds tombstones into the table and empties
    * them — run it on the maintenance cadence that bounds the side
    * table ([[Compaction]]'s class).
    *
    * CONTRACT: deletion is by id, and an id stays suppressed until the
    * next compaction even if re-appended (the anti-join cannot tell the
    * old row from a new one). Re-ingesting a previously deleted id =
    * compact first, then append — the same discipline every
    * merge-on-read table format imposes. Deleting ids the index never
    * held is a no-op.
    *
    * Every delete batch re-ANALYZEs the side table (one count-class job
    * over a deletes-since-compaction-sized table — noise next to the
    * write), so [[liveIndexRows]]' tombstone-debt guard reads the count
    * job-free from the CATALOG statistics on every probe — in any
    * session, CBO on or off — instead of paying a count() there. */
  def deleteFromIvfIndex(spark: org.apache.spark.sql.SparkSession,
                         table: String, ids: DataFrame): Unit = {
    val ts = tombstoneTable(table)
    val frame = ids.select(col("id"))
    if (spark.catalog.tableExists(ts))
      frame.write.mode(SaveMode.Append).insertInto(ts)
    else {
      // a previous JVM's orphaned side-table directory (catalog entry
      // gone, files left — the exact hazard dropTableAndDir documents)
      // would fail this first saveAsTable with 'path already exists'
      dropTableAndDir(spark, ts)
      frame.write.format("parquet").saveAsTable(ts)
    }
    // `spark` and `ids` may belong to DIFFERENT sessions — the
    // foreachBatch shape, where the batch frame is bound to the
    // stream's cloned session while the caller holds the serving one.
    // The write above refreshed the WRITING session's relation cache;
    // without this refresh, `spark`'s ANALYZE would count through its
    // own stale cached listing and persist a wrong (old) rowCount into
    // the shared catalog — the debt guard's job-free count would then
    // under-read real debt (AnnServeSpec's streamed-delete test pins
    // the fresh count).
    spark.catalog.refreshTable(ts)
    spark.sql(s"ANALYZE TABLE `$ts` COMPUTE STATISTICS")
  }

  /** Index rows minus tombstones — what every indexed serve path reads.
    * No tombstone table (the common case) reads the table untouched:
    * the existence check is one driver-side catalog call, the plan is
    * byte-identical to the pre-delete one. With tombstones, the
    * anti-join is BROADCAST on the small side and Catalyst pushes the
    * callers' bucket/payload filters below it onto the scan, so bucket
    * pruning and `PushedFilters` survive deletes (FilteredAnnSpec).
    *
    * TOMBSTONE-DEBT GUARD: the broadcast is safe only while the side
    * table stays "deletes since the last compaction, bounded small by
    * the maintenance cadence" — nothing else enforces that contract, so
    * a deployment that deletes continuously and never compacts would
    * grow the side table until the broadcast OOMs or stalls, SILENTLY
    * (the ivfTopKBulk mis-sizing guard's failure class). Every serve
    * read therefore checks the tombstone row count against
    * `graft.ann.maxTombstoneRows` (default 10M rows — ~1 GB hashed,
    * comfortably inside executor broadcast budgets) and raises past it,
    * naming [[compactIvfIndex]] as the debt payment. The count is
    * stats-first via [[tombstoneRowCount]], which reads the CATALOG
    * entry's statistics directly — [[deleteFromIvfIndex]] owns the
    * side table and re-ANALYZEs it on every batch, so the check is
    * job-free in ANY session, including the (default) CBO-off ones
    * where optimizer-plan stats hide rowCount ([[indexRowCount]]'s
    * read, which deliberately pins the predicate the CBO plan itself
    * uses, stays the bulk-guard idiom). Un-analyzed side tables
    * (out-of-band writers) pay one footer-metadata count().
    * [[compactIvfIndex]] itself reads with `guardDebt = false`: the
    * compaction job is the cure and must stay runnable at any debt
    * size. */
  private def liveIndexRows(spark: org.apache.spark.sql.SparkSession,
                            table: String,
                            guardDebt: Boolean = true): DataFrame = {
    val base = spark.table(table)
    val ts = tombstoneTable(table)
    if (spark.catalog.tableExists(ts)) {
      if (guardDebt) {
        val bound = spark.conf.get("graft.ann.maxTombstoneRows", "10000000").toLong
        val nTs = tombstoneRowCount(spark, ts)
        require(nTs <= bound,
          s"liveIndexRows: `$ts` carries $nTs tombstones, past the " +
            s"broadcast-comfort bound of $bound — merge-on-read debt has " +
            s"outgrown the serve path's anti-join; run compactIvfIndex " +
            s"(the maintenance cadence bounds this table) or raise " +
            "graft.ann.maxTombstoneRows knowingly")
      }
      base.join(broadcast(spark.table(ts)), Seq("id"), "left_anti")
    } else base
  }

  /** Tombstone-table row count for the debt guard: the CATALOG entry's
    * ANALYZE statistics when present (zero jobs, no dependency on the
    * optional CBO/planStats confs — unlike optimizer-plan stats, the
    * catalog read is visible in a default session, and
    * [[deleteFromIvfIndex]] refreshes it on every batch), else one
    * count() over the small side table. A stats row count of 0 is
    * trusted here (unlike [[indexRowCount]]'s zero-disarms-the-guard
    * case): zero tombstones can only pass a ≤-bound check, never relax
    * it. Staleness can only come from a writer that bypassed both the
    * delete API and the catalog; the bound is a comfort margin, not an
    * exact budget, so a stats-lag row or two cannot flip the verdict
    * materially. */
  private def tombstoneRowCount(spark: org.apache.spark.sql.SparkSession,
                                ts: String): Long = {
    val meta = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(ts))
    meta.stats.flatMap(_.rowCount).map(_.toLong)
      .getOrElse(spark.table(ts).count())
  }

  /** "Was this table ANALYZE'd?" for the append/compaction stats
    * keep-alives — a CATALOG metadata read (driver-side, no job),
    * deliberately NOT the optimizer-plan read: plan-level rowCount is
    * CBO-gated, and the sessions that run appends are not always the
    * sessions that opted into CBO (a streaming foreachBatch clone runs
    * with CBO forced off), while the catalog entry is the same in
    * every session. */
  private def hasCatalogRowCount(spark: org.apache.spark.sql.SparkSession,
                                 table: String): Boolean =
    spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(table))
      .stats.flatMap(_.rowCount).isDefined

  /** COMPACT a deleted index: rewrite the bucketed table without its
    * tombstoned rows (same bucket count/key, payload columns intact),
    * then drop the tombstone side table — the merge-on-read debt
    * payment, on the same maintenance cadence as [[Compaction]] of
    * append-accumulated small files. Index-kind agnostic: works on
    * [[writeIvfIndex]] vector tables and [[writeIvfPqIndex]] code
    * tables alike (both are c_id-bucketed with an id column; the
    * `_books` side table is untouched — codebooks describe subspaces,
    * not rows). The rewrite stages into `<table>__compact`, then swaps
    * via two catalog RENAMEs (managed-table rename moves the
    * directory): live → `<table>__old`, staging → live, drop `__old`.
    * A failure before the first rename leaves the live index untouched;
    * a crash anywhere INSIDE the swap leaves full data under `__old`
    * and/or `__compact`, and the next [[compactIvfIndex]] call
    * self-heals (restores a live table from the staged copy, then
    * finishes the compaction) — no serve window depends on manual
    * recovery, and the only instant with no table under the live name
    * is the metadata-only gap between the two renames (manual recovery,
    * if ever needed mid-gap: `ALTER TABLE <table>__compact RENAME TO
    * <table>`). Recovery is CATALOG-keyed, so surviving a process
    * crash (vs an in-session failure) requires the persistent
    * metastore any cross-session index deployment already runs — under
    * the default in-memory catalog no table outlives the JVM at all,
    * and the post-crash path is the same [[writeIvfIndex]] rebuild the
    * orphan-directory hygiene everywhere else exists for.
    * Stats keep-alive mirrors [[appendIvfIndex]]: an
    * ANALYZE'd index is re-ANALYZE'd after the swap so the
    * [[ivfTopKBulk]] guard stays job-free. No-op without a tombstone
    * table (after any pending swap recovery).
    *
    * CONCURRENT READERS (the proven contract — ConcurrentServeSpec
    * drives a serve loop through repeated live compactions and audits
    * every outcome): compaction NEVER changes a serve answer — it
    * folds exactly the rows the tombstone anti-join already hides, so
    * pre- and post-compaction answers are the same set — therefore a
    * concurrent serve that succeeds returns THE correct answer, and
    * one that catches the swap instead fails CATCHABLY: an
    * AnalysisException when it resolves inside the metadata-only gap
    * (or its side-table read races the drop), or a
    * FileNotFoundException-caused job failure when its frozen file
    * listing points at the pre-swap directory the swap moved/dropped
    * (java.nio.file.NoSuchFileException when what loses the race is
    * the local filesystem's vectored read reopening a listed file's
    * checksum through NIO).
    * Readers should retry on those two classes — a plain retry
    * succeeds once the swap completes (same answer, by the first
    * property); the retry ships as [[serveWithRetry]] and the
    * classifier as [[isMaintenanceRetryable]], so a fleet and the
    * spec share one definition. ONE SILENT CASE remains (pinned
    * deterministically in
    * the spec): a reader that RESOLVES the live name just before the
    * first rename and runs its file LISTING inside the gap gets an
    * EMPTY listing — Spark's root-path listing swallows the
    * missing-directory FileNotFoundException (HadoopFSUtils
    * .listLeafFiles, regardless of ignoreMissingFiles) — and so an
    * EMPTY result with no error. A fleet serving a known-non-empty
    * index must treat an empty serve answer during maintenance as the
    * same retry signal as the two error classes; deployments whose
    * serve path can do neither should run compaction in a maintenance
    * window — nothing here requires one, but the empty-answer case is
    * why a fleet that cannot retry needs one. */
  def compactIvfIndex(spark: org.apache.spark.sql.SparkSession,
                      table: String): Unit = {
    recoverCompactionSwap(spark, table)
    val ts = tombstoneTable(table)
    if (!spark.catalog.tableExists(ts)) return
    val hadStats = hasCatalogRowCount(spark, table)
    val meta = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(table))
    val numBuckets = meta.bucketSpec.map(_.numBuckets).getOrElse(
      throw new IllegalArgumentException(
        s"compactIvfIndex: `$table` is not bucketed — not an IVF index"))
    val staging = s"${table}__compact"
    val backup = s"${table}__old"
    dropTableAndDir(spark, staging)
    dropTableAndDir(spark, backup)
    // the compaction is the debt payment: read tombstones unguarded so
    // an over-bound side table can still be folded away
    Bucketing.writeBucketed(liveIndexRows(spark, table, guardDebt = false),
      staging, "c_id", numBuckets, sort = false)
    spark.sql(s"ALTER TABLE `$table` RENAME TO `$backup`")
    spark.sql(s"ALTER TABLE `$staging` RENAME TO `$table`")
    dropTableAndDir(spark, backup)
    dropTableAndDir(spark, ts)
    if (hadStats)
      spark.sql(s"ANALYZE TABLE `$table` COMPUTE STATISTICS")
  }

  /** Complete a compaction swap a previous run crashed inside: if
    * nothing answers under the live name, restore it from the staged
    * copy (`__compact` — complete by construction: the swap's renames
    * only start after the staged write commits, and it already folds
    * the tombstones in) or, failing that, the pre-swap backup
    * (`__old`). Leftover side tables and a still-present tombstone
    * table are then cleaned by the normal compaction path that follows
    * — re-running [[compactIvfIndex]] after a crash fully heals. */
  private def recoverCompactionSwap(spark: org.apache.spark.sql.SparkSession,
                                    table: String): Unit =
    if (!spark.catalog.tableExists(table)) {
      val staging = s"${table}__compact"
      val backup = s"${table}__old"
      if (spark.catalog.tableExists(staging))
        spark.sql(s"ALTER TABLE `$staging` RENAME TO `$table`")
      else if (spark.catalog.tableExists(backup))
        spark.sql(s"ALTER TABLE `$backup` RENAME TO `$table`")
    }

  /** The [[compactIvfIndex]] concurrent-reader contract's failure
    * classifier, shipped as API so a serving fleet and the spec share
    * ONE definition of "retry this": true iff the error (or anything
    * in its cause chain) is the resolution-inside-the-gap
    * AnalysisException or the frozen-listing FileNotFoundException
    * (or its NIO form, NoSuchFileException) — the two classes a plain
    * retry resolves once the swap completes. Anything else is a real
    * error the caller must surface. */
  def isMaintenanceRetryable(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(10).exists {
      case _: org.apache.spark.sql.AnalysisException => true
      case _: java.io.FileNotFoundException          => true
      case _: java.nio.file.NoSuchFileException      => true
      case _                                         => false
    }

  /** The retry the [[compactIvfIndex]] contract prescribes, as a
    * combinator: run `body` (a serve call that MATERIALIZES its
    * result — retrying a lazy frame would re-arm the same listing),
    * retrying up to `attempts` total tries with `backoffMs` between
    * them while the failure is [[isMaintenanceRetryable]] — or, for
    * the contract's one silent case, while `retryOnResult` says the
    * answer is the empty-during-gap signature (a fleet serving a
    * known-non-empty index passes `_.isEmpty`). A non-retryable error
    * propagates immediately; exhausting attempts rethrows the last
    * retryable error, or returns the last result when only
    * `retryOnResult` kept it looping (the index may legitimately be
    * empty — the caller asked for retries, not a guarantee). */
  def serveWithRetry[T](body: () => T, attempts: Int = 4,
                        backoffMs: Long = 50,
                        retryOnResult: T => Boolean = (_: T) => false): T = {
    require(attempts >= 1, s"serveWithRetry: attempts must be >= 1, got $attempts")
    var tries = 0
    var out: Option[T] = None
    while (out.isEmpty) {
      tries += 1
      try {
        val v = body()
        if (!retryOnResult(v) || tries >= attempts) out = Some(v)
        else Thread.sleep(backoffMs)
      } catch {
        case e: Throwable if isMaintenanceRetryable(e) && tries < attempts =>
          Thread.sleep(backoffMs)
      }
    }
    out.get
  }

  /** PER-BUCKET HEALTH REPORT of a materialized index — the diagnostic
    * every production index ships an endpoint for, over either index
    * kind ([[writeIvfIndex]] vectors or [[writeIvfPqIndex]] codes):
    * one row per coarse bucket with its stored row count, tombstoned
    * count, and live count. What each column answers:
    *  - `n_rows` skew across buckets → probe-cost skew (a hot bucket
    *    makes every probe touching it pay its share) and the
    *    [[ivfTopKBulk]] cost model's per-bucket share; feed the counts
    *    to [[occupancyPsi]] against a build-time reference to DETECT
    *    drift, retrain/rebuild to fix it (the q28e cycle).
    *  - `n_tombstoned` → merge-on-read debt: serve paths anti-join
    *    this many ids on every probe; schedule [[compactIvfIndex]]
    *    when it grows past the broadcast-comfort bound.
    *  - `n_live` → what a probe actually ranks over; a bucket whose
    *    live count collapsed serves thin answers even though stats
    *    still count its rows.
    * ONE pass over the index (map-side partial counts; the tombstone
    * side is broadcast — the same size class the serve path already
    * assumes), no vector/code bytes read beyond the id and bucket
    * columns (columnar scan prunes the rest). Gated cross-engine as
    * q136 with deletes in place. */
  def indexHealth(spark: org.apache.spark.sql.SparkSession,
                  table: String): DataFrame = {
    val ts = tombstoneTable(table)
    val idx = spark.table(table)
    val marked =
      if (spark.catalog.tableExists(ts))
        idx.join(
          broadcast(spark.table(ts).select("id").distinct()
            .withColumn("__t", lit(1L))),
          Seq("id"), "left_outer")
      else idx.withColumn("__t", lit(null).cast("long"))
    marked.groupBy("c_id")
      .agg(count(lit(1)).as("n_rows"),
        sum(coalesce(col("__t"), lit(0L))).as("n_tombstoned"))
      .withColumn("n_live", col("n_rows") - col("n_tombstoned"))
      .select(col("c_id"), col("n_rows"), col("n_tombstoned"), col("n_live"))
  }

  /** Probe a materialized IVF index ([[writeIvfIndex]]) — result-identical
    * to [[ivfTopK]] on the same corpus/centroids/probes.
    *
    * The probe cluster set is collected driver-side (bounded metadata: at
    * most |centroids| ids, and centroids are broadcast-sized by
    * construction) and pushed as an IN-literal filter on the bucket
    * column, so the scan prunes to the selected buckets
    * (`SelectedBucketsCount` in the plan — spec-pinned) and the join
    * needs no Exchange on the index side.
    *
    * `indexFilter`: FILTERED search — a predicate over the index's
    * stored columns (id, c_id, payload columns the index was written
    * with). Ranking runs over exactly the rows that pass, so top-k
    * backfills from the filtered candidate pool inside the probed
    * buckets (recall vs the filtered ground truth equals the
    * unfiltered path's recall — selectivity-independent, unlike
    * [[postFilterTopK]]), and the predicate lands in the parquet scan's
    * `PushedFilters` under the bucket pruning (FilteredAnnSpec pins
    * both). Deleted ids ([[deleteFromIvfIndex]]) are excluded the same
    * way — before ranking.
    *
    * `probePayload` + `pairFilter`: PER-PROBE predicates — the serve
    * shape `indexFilter` (one predicate for the whole batch) cannot
    * express: hard-negative mining for contrastive training ("top-k
    * nearest with a DIFFERENT label than this probe's"), seen-set
    * exclusion, same-author suppression. `probePayload` names probe
    * frame columns carried through the assignment onto every candidate
    * pair; `pairFilter` may reference them alongside the index's
    * stored columns and runs BEFORE ranking, so top-k backfills from
    * the passing pool (the inline-filter recall property, per probe).
    * Cost shape: the predicate evaluates on the bucket-pruned
    * candidate stream — it cannot push to parquet (it depends on the
    * probe row), but that stream is already |probes|·nprobe·
    * bucket-share rows, and the payload rides the broadcast probe side
    * (metadata-sized by the probe-batch convention). */
  def ivfTopKIndexed(table: String, centroids: DataFrame, probes: DataFrame,
                     k: Int, nprobe: Int,
                     indexFilter: Column = lit(true),
                     probePayload: Seq[String] = Nil,
                     pairFilter: Column = lit(true)): DataFrame = {
    requireNoPayloadClash("ivfTopKIndexed", probePayload,
      Seq(probes.sparkSession.table(table), unitized(centroids, "c", "uc")),
      Seq("up", "cos_c", "rn", "cos", "rank"))
    rankTopK(indexedIvfCandidates(table, centroids, probes, nprobe,
        "ivfTopKIndexed", probePayload, indexFilter)
      .filter(col("id") =!= col("probe_id"))
      .filter(pairFilter)
      .withColumn("cos", cosine), "cos", k)
  }

  /** The one probe-payload guard of the per-probe-filter operators: a
    * payload name equal to a column of a frame the probes are joined
    * with (`joined`) surfaces as a deep ambiguous-reference
    * AnalysisException from inside the join, and one equal to a column
    * the operator writes itself (`generated`) is silently overwritten —
    * fail loudly at the API boundary instead, naming the fix (alias the
    * probe column, the q137 plabel convention). Guarded on nonEmpty so
    * the default path resolves nothing (the probe-side guards keep their
    * contract ordering: empty centroids fail on THEIR require). */
  private def requireNoPayloadClash(op: String, probePayload: Seq[String],
                                    joined: => Seq[DataFrame],
                                    generated: Seq[String]): Unit =
    if (probePayload.nonEmpty) {
      val reserved = (joined.flatMap(_.columns) ++ generated).distinct
      val clash = probePayload.filter(reserved.contains)
      require(clash.isEmpty,
        s"$op: probePayload ${clash.mkString("(", ", ", ")")} collides " +
          s"with a column of the frames it is joined with or one this " +
          s"operator generates ${reserved.mkString("(", ", ", ")")} — alias " +
          "the probe-side column (e.g. label AS plabel) so pairFilter can " +
          "reference both sides unambiguously")
    }

  /** Indexed candidate source: executes the (broadcast-sized by
    * convention) probe side `pb` ONCE — its rows feed both the
    * bucket-pruning IN-literal and, re-wrapped as a local frame, the
    * scoring join, where a lazy frame would run its assignment job twice
    * — and returns that local frame with the live index rows pruned to
    * its cells. An empty assignment is disambiguated on the collect
    * already paid: empty CENTROIDS are an input error (every probe of
    * this index would silently return nothing — fail loudly, the
    * ivfTopKBulk convention); an empty PROBE batch is a valid no-op and
    * flows through — the empty IN-list prunes everything and the result
    * is empty with the correct schema. */
  private def prunedIndex(table: String, pb: DataFrame, centroids: DataFrame,
                          op: String): (DataFrame, DataFrame) = {
    val spark = pb.sparkSession
    val rows = pb.collect()
    val cIdAt = pb.schema.fieldIndex("c_id")
    val clusterIds = rows.map(_.get(cIdAt)).distinct
    if (clusterIds.isEmpty) require(!centroids.isEmpty, s"$op: empty centroid set")
    (spark.createDataFrame(java.util.Arrays.asList(rows: _*), pb.schema),
      liveIndexRows(spark, table).filter(col("c_id").isin(clusterIds: _*)))
  }

  /** [[prunedIndex]] over an IVF vector index: the probes' `nprobe` cells,
    * the index rows in them passing `indexFilter`, joined on the cell
    * with the probe side broadcast — (c_id, probe_id, up, payload…, id,
    * ue, stored…). */
  private def indexedIvfCandidates(table: String, centroids: DataFrame,
                                   probes: DataFrame, nprobe: Int, op: String,
                                   probePayload: Seq[String] = Nil,
                                   indexFilter: Column = lit(true)): DataFrame = {
    val (pb, index) = prunedIndex(table, ivfProbeSide(probes,
      unitized(centroids, "c", "uc"), nprobe, probePayload), centroids, op)
    broadcast(pb).join(index.filter(indexFilter), "c_id")
  }

  /** IVF ANN: scan only the `nprobe` clusters nearest each probe. Returned
    * `cos` is exact (unit vectors preserve cosine). */
  def ivfTopK(corpus: DataFrame, centroids: DataFrame, probes: DataFrame,
              k: Int, nprobe: Int): DataFrame = {
    // CONTRACT: `centroids` must be non-empty — an empty frame empties
    // the assignment on both sides and returns zero rows (which the
    // q130 evaluation leg would read as recall 0.0). This path stays
    // fully LAZY on purpose: an eager emptiness probe re-executes the
    // centroid lineage (a window over the corpus, a training run) as an
    // extra driver job — measured +0.4 s on q28 at sf0.1 for a check
    // that's structurally impossible for in-repo callers (kmeansTrain
    // requires seeds; seed CTEs are per-label firsts). The paths that
    // already pay a driver-side materialization guard for free:
    // [[ivfTopKIndexed]]/[[ivfRangeSearchIndexed]] via
    // [[prunedIndex]], [[ivfTopKBulk]] via its sizing counts.
    rankTopK(ivfCandidates(corpus, centroids, probes, nprobe)
      .filter(col("id") =!= col("probe_id"))
      .withColumn("cos", cosine), "cos", k)
  }

  /** BULK probe of a materialized IVF index — the kNN-JOIN shape, where
    * the probe side is a whole table (corpus self-kNN for semantic
    * dedup, batch re-embedding joins) rather than a broadcast-sized
    * query set. [[ivfTopKIndexed]]'s driver-collected IN-literal is the
    * wrong tool there (millions of probes don't collect, and they touch
    * every bucket anyway); the scale win flips from bucket PRUNING to
    * join LOCALITY: probes assign to their nprobe coarse buckets
    * map-side (broadcast centroids), then shuffle ONCE on c_id onto the
    * index's bucket layout, which is read in place — the 100 TB side
    * never moves. The join is a SHUFFLE-HASH join BUILDING ON THE INDEX
    * side (hint pinned so AQE can't demote it to a broadcast at test
    * scale): each task hash-builds its own bucket's index rows once and
    * STREAMS the probe side, which carries nprobe× more rows — measured
    * 1.2–1.4× over the sort-merge alternative at sf1 (min 3.24 s vs
    * 3.99 s, median 3.39 vs 4.72, matched-conditions A/B in SOAK.md;
    * SMJ pays an index-side per-bucket sort EVERY probe run because
    * appends keep buckets multi-file, so no write-time order is
    * trustable). Build-side memory is one bucket's rows per task —
    * n/|centroids| ≈ √n under the sizing rule the guard below enforces
    * — and Spark's shuffled-hash join spills if a skewed bucket
    * outgrows it. The final top-k window shuffles only candidate rows
    * (probes·nprobe·bucket-share), never the index.
    * COST MODEL: candidate volume is Σ_bucket |probes→bucket|·|bucket|
    * ≈ n·nprobe·(n/|centroids|) for self-kNN — quadratic in corpus size
    * at FIXED centroid count. The dial is |centroids| ∝ √n (the
    * standard IVF sizing rule): growing cells with the corpus keeps
    * per-bucket share, and thus pairs-per-probe, bounded (the sf1 soak
    * row demonstrates the fixed-centroid failure mode deliberately).
    * IvfIndexSpec pins result parity with [[ivfTopK]] and the
    * single-Exchange plan shape. Returns (probe_id, rank, id, cos).
    *
    * RUNTIME GUARD against the silent quadratic trap (a stale or
    * undersized centroid set on a grown corpus): the call `require`s
    * |centroids| ≥ √n / `maxShareFactor`, i.e. the average per-bucket
    * candidate share n/|centroids| may exceed the √n-rule share by at
    * most `maxShareFactor`×. Both counts are metadata-cheap: the index
    * count comes from catalog statistics when available, else one
    * footer-metadata count job ([[indexRowCount]] — ANALYZE the index
    * table to make the guard job-free); centroids are broadcast-sized.
    * No job runs over the probe side. A deliberate probe of the
    * mis-sized regime passes `maxShareFactor = Double.PositiveInfinity`
    * — loudly, at the call site (q28f does exactly this).
    *
    * `excludeSelf` (default true — the ivfTopK family convention, and
    * what self-kNN dedup wants): drop candidates whose index id equals
    * the probe id. For batch re-embedding joins where probe ids
    * deliberately coincide with index ids and the identity match IS the
    * desired top-1, pass false. */
  def ivfTopKBulk(table: String, centroids: DataFrame, probes: DataFrame,
                  k: Int, nprobe: Int, excludeSelf: Boolean = true,
                  maxShareFactor: Double = 8.0): DataFrame =
    rankTopK(bulkCandidates("ivfTopKBulk", table, centroids, probes,
        excludeSelf, maxShareFactor)(
        cent => ivfProbeSide(probes, unitized(cent, "c", "uc"), nprobe))
      .withColumn("cos", cosine), "cos", k)

  /** Bulk candidate source of [[ivfTopKBulk]] and [[ivfPqTopKBulk]]: the
    * √n sizing guard, then the live index read in place and shuffle-hash
    * joined on c_id onto `probeSide` (the probe side built over the
    * centroids), minus self-pairs when `excludeSelf`.
    *
    * ONE execution of the centroid lineage: the sizing guard needs the
    * count and the probe-side broadcast needs the rows — centroids are
    * broadcast-sized by the very rule the guard enforces, so they are
    * collected once and handed to `probeSide` as a local frame. A
    * separate count() would execute a possibly non-trivial lineage (a
    * training run, a window over the corpus) once for the guard and
    * AGAIN inside the broadcast build. */
  private def bulkCandidates(op: String, table: String, centroids: DataFrame,
                             probes: DataFrame, excludeSelf: Boolean,
                             maxShareFactor: Double)(
                             probeSide: DataFrame => DataFrame): DataFrame = {
    val spark = probes.sparkSession
    val (nIndex, _) = indexRowCount(spark, table)
    val centRows = centroids.collect()
    val nCells = centRows.length.toLong
    require(nCells > 0, s"$op: empty centroid set")
    require(nCells >= math.sqrt(nIndex.toDouble) / maxShareFactor,
      s"$op: $nCells centroids over a $nIndex-row index — average " +
        f"per-bucket candidate share ${nIndex.toDouble / nCells}%.0f exceeds " +
        f"$maxShareFactor× the sqrt(n) sizing rule (${math.sqrt(nIndex.toDouble)}%.0f). " +
        "Candidate volume grows as n·nprobe·(n/|centroids|): retrain with " +
        "more cells (|centroids| ∝ sqrt(n)) or pass a larger maxShareFactor " +
        "to knowingly probe the mis-sized regime")
    val pb = probeSide(spark.createDataFrame(
      java.util.Arrays.asList(centRows: _*), centroids.schema))
    val cand = liveIndexRows(spark, table).hint("shuffle_hash").join(pb, "c_id")
    if (excludeSelf) cand.filter(col("id") =!= col("probe_id")) else cand
  }

  /** Index row count for [[ivfTopKBulk]]'s sizing guard: catalog/plan
    * STATISTICS when the optimizer exposes them (`ANALYZE TABLE …
    * COMPUTE STATISTICS` + CBO/planStats on — zero jobs, free at a
    * 100 TB/100k-file index), falling back to one `count()` (at test
    * scale a parquet footer-metadata job; on a huge un-analyzed index,
    * one task per file — cheap relative to the bulk join it guards, and
    * far better than the silent quadratic it prevents, but ANALYZE the
    * index to make the guard free). The boolean reports which path
    * served the count (IvfIndexSpec pins both). The guard tolerates a
    * slightly-stale analyzed count by construction: `maxShareFactor`
    * already allows 8× drift off the √n rule, far beyond any realistic
    * stats lag — and staleness can only come from a writer that
    * bypassed the catalog entirely (Spark clears stats on
    * catalog-routed inserts, and [[appendIvfIndex]] re-ANALYZEs
    * analyzed tables to keep this path alive) — EXCEPT a stats row
    * count of 0 (an ANALYZE that ran
    * before the first append), which would disarm the guard entirely
    * (√0 = 0 passes any centroid set); a zero is treated as
    * no-stats and falls back to the scan. */
  private[operators] def indexRowCount(
      spark: org.apache.spark.sql.SparkSession,
      table: String): (Long, Boolean) = {
    val rel = spark.table(table)
    rel.queryExecution.optimizedPlan.stats.rowCount match {
      case Some(rc) if rc > 0 => (rc.toLong, true)
      case _                  => (rel.count(), false)
    }
  }

  /** Spherical k-means (Lloyd) centroid training — the index-BUILD step
    * the IVF family runs on: seed centroids in, trained centroids out,
    * then [[writeIvfIndex]]/[[ivfTopK]]/[[ivfRangeSearch]] consume them
    * unchanged. Recall at equal nprobe hinges on centroid quality, so at
    * 100 TB this is what turns IVF from a demo into an index.
    *
    * Each Lloyd round is two distributed steps:
    *  - ASSIGN: map-only — centroids are broadcast (they are
    *    broadcast-sized by construction), each unit corpus vector picks
    *    its nearest centroid by cosine (ties to the smaller c_id);
    *  - UPDATE: each cluster's new centroid is the per-dimension mean of
    *    its member unit vectors. The vectors posexplode to (c_id, dim,
    *    x) rows and aggregate by (c_id, dim) — partial aggregation
    *    collapses map-side, so the shuffle carries at most
    *    |centroids|·d rows per task, never the corpus.
    *
    * Means sum in decimal(28,12) and divide as double: decimal addition
    * is exact and ORDER-INDEPENDENT, so the result is identical across
    * partitionings and engines (a double sum varies in the last ulp with
    * accumulation order, which can flip the next round's assignments —
    * the cross-engine oracle depends on this determinism).
    *
    * Trained centroids are the raw means (consumers unit-normalize, as
    * with any centroid input). Clusters that capture no points drop out.
    * Centroids are collected to the driver each round — bounded metadata
    * (|centroids|·d doubles, broadcast-sized by construction; the same
    * centers-on-the-driver shape as Spark MLlib's KMeans) — which keeps
    * the per-round plan constant-size instead of stacking `iters` joins
    * into one lineage. The unit corpus is cached across rounds and
    * unpersisted before returning.
    *
    * `corpus`: (id, e); `seeds`: (c_id, c). Returns (c_id, c). */
  def kmeansTrain(corpus: DataFrame, seeds: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val spark = corpus.sparkSession
    val ucorpus = unitized(corpus, "e", "ue")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      var cent = seeds
      for (_ <- 1 to iters) {
        val means = clusterMeans(
          assignUnit(ucorpus, unitized(cent, "c", "uc"), "id", "ue", 1))
        cent = spark.createDataFrame(
          java.util.Arrays.asList(means.collect(): _*), means.schema)
      }
      cent
    } finally ucorpus.unpersist()
  }

  /** Lloyd's UPDATE step over an assignment frame (c_id, ue vector):
    * per-cluster per-dimension mean, decimal(28,12)-summed so the floats
    * are order-independent and cross-engine identical (see
    * [[kmeansTrain]]'s scaladoc). Shared by training (assign → means per
    * round) and index maintenance ([[ivfRetrainFromIndex]], where the
    * assignment is the persisted index itself). Returns (c_id, c). */
  private def clusterMeans(assigned: DataFrame): DataFrame =
    assigned
      .select(col("c_id"), posexplode(col("ue")).as(Seq("j", "x")))
      .groupBy("c_id", "j")
      .agg((sum(col("x").cast("decimal(28,12)")).cast("double") /
        count(lit(1))).as("m"))
      .groupBy("c_id")
      .agg(transform(sort_array(collect_list(struct(col("j"), col("m")))),
        s => s.getField("m")).as("c"))

  /** Retrain IVF centroids FROM the persisted index — the maintenance
    * half of the drift→retrain→rebuild cycle ([[appendIvfIndex]]'s
    * scaladoc names it): the index table already holds every vector's
    * unit form and its frozen-centroid assignment, so one Lloyd update
    * step needs NO corpus re-scan and no re-assignment job — just
    * [[clusterMeans]] over the index scan (partial-aggregated; the
    * shuffle carries ≤ |centroids|·d rows). Equals
    * `kmeansTrain(corpus, frozenSeeds, iters = 1)` row-for-row
    * (IvfIndexSpec pins it), because the index rows ARE that
    * assignment. Returns (c_id, c) collected-and-localized like
    * [[kmeansTrain]] rounds — bounded metadata, and the consumer
    * ([[writeIvfIndex]]) broadcasts it anyway. */
  def ivfRetrainFromIndex(spark: org.apache.spark.sql.SparkSession,
                          table: String): DataFrame = {
    val means = clusterMeans(spark.table(table))
    spark.createDataFrame(
      java.util.Arrays.asList(means.collect(): _*), means.schema)
  }

  /** Population-stability index between a FROZEN reference bucket-
    * occupancy profile and the index's current occupancy — the drift
    * detector that decides when [[ivfRetrainFromIndex]] runs: appended
    * batches assign to frozen centroids ([[appendIvfIndex]]), so a
    * corpus whose distribution moved piles occupancy onto few buckets,
    * degrading probe selectivity even while every row is correctly
    * placed. Inputs: (c_id, n_ref) and (c_id, n_cur) count frames
    * (O(|centroids|) rows — the current side is one metadata-cheap
    * aggregate over the bucketed index). Same smoothed PSI as the q126
    * corpus monitor and [[graft.streaming.DriftStreams.psiFromCounts]]
    * — Laplace 0.5 PER CONTRIBUTING BUCKET, (n+0.5)/(N+0.5·B), so the
    * smoothed shares sum to 1 and the 0.05 trigger means the same thing
    * at 8, 10, or 40 cells (at 10 buckets it reduces to the classic
    * (n+0.5)/(N+5) form; IvfIndexSpec pins ≡ psiFromCounts on random
    * frames of varying bucket count). Both engines finite on empty
    * buckets; 1-row output (psi_occ, rounded 4dp). Totals attach via
    * broadcast 1-row aggregates — no unpartitioned window. */
  def occupancyPsi(refOcc: DataFrame, curOcc: DataFrame): DataFrame = {
    val joined = refOcc.join(curOcc, Seq("c_id"), "full_outer")
      .select(coalesce(col("n_ref"), lit(0L)).as("n_ref"),
        coalesce(col("n_cur"), lit(0L)).as("n_cur"))
      // an explicitly-present 0-0 row must neither count toward B nor
      // contribute a term — the psiFromCounts contract (count frames
      // from group-bys never carry one, but the input is caller-shaped)
      .filter(col("n_ref") > 0 || col("n_cur") > 0)
    val totals = broadcast(joined.agg(
      sum("n_ref").as("t_ref"), sum("n_cur").as("t_cur"),
      (count(lit(1)) * 0.5).as("smooth")))
    joined.crossJoin(totals)
      .withColumn("pr", (col("n_ref") + 0.5) / (col("t_ref") + col("smooth")))
      .withColumn("pc", (col("n_cur") + 0.5) / (col("t_cur") + col("smooth")))
      .agg(round(sum((col("pc") - col("pr")) * log(col("pc") / col("pr"))), 4)
        .as("psi_occ"))
  }

  /** Deterministic hyperplane set for random-projection (cosine) LSH:
    * `bits` planes of `dim` components, each component the 60-bit md5
    * hash of "(seed)(plane)|(component)" mapped into [-1, 1) — the
    * md5-derived scheme every sampler/sketch here shares, so a DuckDB
    * oracle regenerates the identical doubles (long→double rounding and
    * the power-of-two division are exact in any IEEE engine). */
  def lshPlanes(bits: Int, dim: Int, seed: String): Seq[Seq[Double]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (0 until bits).map(j => (0 until dim).map { i =>
      val hex = md.digest(s"$seed$j|$i".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 15)
      java.lang.Long.parseLong(hex, 16).toDouble / (1L << 59) - 1.0
    })
  }

  /** Hyperplane-LSH ANN — the third rung of the ladder next to
    * [[bruteForceTopK]] (exact) and [[ivfTopK]] (centroid-bucketed):
    * no training at all. Each vector's `bits`-bit signature is the sign
    * pattern of `bits` codegen dot products against the deterministic
    * [[lshPlanes]] (sign of cos to a random hyperplane — the classic
    * SRP-LSH), the signature splits into `bands`, and probe meets corpus
    * only on an exactly-matching band — the join shuffles on (band,
    * chunk), never the pair space. Survivors re-rank by EXACT cosine, so
    * emitted scores are true; recall is the LSH trade, ≈ 1-(1-sel)^bands
    * where sel is the per-band collision rate. The default (16 bits in 8
    * 2-bit bands) measured recall 1.0 @k=3 on the embeddings corpus
    * (4-bit bands of 16: 0.47 — band width is the recall/candidate
    * dial); growing the corpus, widen the chunks AND raise the band
    * count together to hold recall while keeping buckets selective.
    *
    * `corpus`: (id, e); `probes`: (probe_id, p). Returns (probe_id,
    * rank, id, cos) like the other ANN ops. */
  def lshTopK(corpus: DataFrame, probes: DataFrame, k: Int,
              dim: Int, bits: Int = 16, bands: Int = 8,
              seed: String = "srp"): DataFrame = {
    require(bits % bands == 0, s"bits=$bits not divisible by bands=$bands")
    val w = bits / bands
    val planes = lshPlanes(bits, dim, seed)
    def signature(v: Column): Column =
      concat(planes.map(p =>
        when(dot(v, typedLit(p)) >= 0, "1").otherwise("0")): _*)
    // the banded frames carry KEYS ONLY (id, band, chunk — ~20 bytes):
    // candidate generation and its dedup decide WHICH pairs exist, so
    // the unit vectors must not ride along (the earlier form shuffled
    // BOTH 64-double vectors per band row and again per pair through
    // the distinct — ~1 KB/pair of payload moved to compare 2-bit
    // chunks; guide §2.3/§8 "shuffle keys and metadata instead of
    // payloads"). The vectors re-attach AFTER the distinct, by id — one
    // id-keyed move of each vector at most (broadcast here; a sort-merge
    // of the unit frame at scale), for the exact cosine re-rank.
    def banded(df: DataFrame, idc: String, vc: String): DataFrame =
      df.withColumn("__sig", signature(col(vc)))
        .select(col(idc),
          posexplode(array((0 until bands).map(b =>
            substring(col("__sig"), b * w + 1, w)): _*)).as(Seq("__band", "__chunk")))
    val cu = unitized(corpus, "e", "ue")
    val pu = unitized(probes, "p", "up")
    val c = banded(cu, "id", "ue")
    val p = banded(pu, "probe_id", "up")
      .withColumnRenamed("__band", "__band_p").withColumnRenamed("__chunk", "__chunk_p")
    rankTopK(p
      .join(c, col("__band_p") === col("__band") && col("__chunk_p") === col("__chunk"))
      .filter(col("id") =!= col("probe_id"))
      .select("probe_id", "id").distinct() // a pair may share several bands
      .join(cu.select(col("id"), col("ue")), "id")
      .join(pu.select(col("probe_id"), col("up")), "probe_id")
      .withColumn("cos", cosine), "cos", k)
  }

  /** IVF range search — the bucketed form of all-pairs near-dup: emit
    * (probe_id, id, cos) for every corpus vector that shares one of the
    * probe's `nprobe` nearest clusters and has cos ≥ `minCos`.
    *
    * Pair count drops from |probes|·|corpus| (brute force is quadratic —
    * 56 s at 20k×20k vectors in the sf1 soak) to Σ_bucket
    * |probes_b|·|corpus_b| ≈ nprobe·n²/|centroids|; scaling the centroid
    * count with √n keeps the per-bucket work flat. Recall is bounded by
    * assignment, the standard IVF trade: a true neighbor whose cluster
    * the probe doesn't scan is missed (raise `nprobe` to trade cost for
    * recall). Corpus vectors sit in exactly one bucket, so no pair is
    * emitted twice. The join shuffles on the cluster id; at rest the
    * corpus side should be the bucketed index ([[writeIvfIndex]]). */
  def ivfRangeSearch(corpus: DataFrame, centroids: DataFrame,
                     probes: DataFrame, minCos: Double,
                     nprobe: Int): DataFrame =
    ivfCandidates(corpus, centroids, probes, nprobe)
      .withColumn("cos", cosine)
      .filter(col("cos") >= minCos)
      .select(col("probe_id"), col("id"), col("cos"))

  /** [[ivfRangeSearch]] against a MATERIALIZED [[writeIvfIndex]] table —
    * the at-rest form the range-search scaladoc names: probes assign to
    * their nprobe clusters (broadcast centroids), the index scan prunes
    * to those buckets (IN-literal → SelectedBucketsCount), and the
    * range filter runs over the bucket-pruned candidates with no
    * index-side Exchange. Result-identical to [[ivfRangeSearch]] on the
    * same corpus/centroids/probes (IvfIndexSpec pins it).
    *
    * The closing per-(probe_id, id) aggregate is a semantic no-op (a
    * corpus vector lives in exactly one bucket, so no pair repeats) but
    * load-bearing for the PLAN: Spark's DisableUnnecessaryBucketedScan
    * turns OFF bucketed reading — and with it bucket pruning — for
    * plans with no downstream distribution requirement, which is
    * exactly the shape of a scan→broadcast-join→project range query.
    * The aggregate's ClusteredDistribution keeps the bucketed scan (and
    * SelectedBucketsCount) alive; it shuffles only the EMITTED pairs,
    * which is noise next to scanning (B−nprobe)/B more buckets. */
  def ivfRangeSearchIndexed(table: String, centroids: DataFrame,
                            probes: DataFrame, minCos: Double,
                            nprobe: Int): DataFrame =
    indexedIvfCandidates(table, centroids, probes, nprobe, "ivfRangeSearchIndexed")
      .withColumn("cos", cosine)
      .filter(col("cos") >= minCos)
      .groupBy("probe_id", "id")
      .agg(first(col("cos")).as("cos"))

  /** Deterministic ±1 sign row `k` of the Johnson–Lindenstrauss
    * projection matrix: sign(i) = +1 iff the first md5 byte of
    * "<seed>|k|i" is odd. A public, engine-independent derivation — the
    * plan embeds the rows as literal arrays and the oracle embeds the
    * SAME literals, so the projection is pinned end to end. */
  def jlSigns(k: Int, dim: Int, seed: String): Array[Double] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(dim) { i =>
      if ((md.digest(s"$seed|$k|$i".getBytes("UTF-8"))(0) & 1) == 1) 1.0
      else -1.0
    }
  }

  /** Random ±1 projection (Achlioptas/JL) of a `dim`-vector column to
    * `outDims` columns p0..p(outDims-1): p_k = <v, signs_k>. The cheap
    * dimensionality-reduction front of an ANN ladder — sign matrices
    * need no storage (rederived from the seed anywhere), each output is
    * ONE codegen [[graft.functions.VectorFunctions.dot]] against a
    * broadcast-free literal array, and the whole projection is a
    * map-only stage. Distances are preserved to 1±ε with the usual JL
    * bound (ε ~ sqrt(ln n / outDims)). */
  def randomProjection(vec: org.apache.spark.sql.Column, outDims: Int,
                       dim: Int, seed: String): Seq[org.apache.spark.sql.Column] =
    (0 until outDims).map { k =>
      dot(vec, array(jlSigns(k, dim, seed).map(lit): _*)).as(s"p$k")
    }

  // ------------------------------------------------------- product quant

  /** L2 assignment score `x·c − ½·c·c`: argmax over centroids ≡ argmin
    * ‖x−c‖² (the ‖x‖² term is constant per x) — two dot kernels and one
    * subtract, replicated term-for-term by the SQL oracle so assignment
    * doubles are bit-identical across engines. Comparing squared vs
    * square-rooted distances instead could TIE differently in the last
    * ulp and flip a pick. */
  private def l2Score(x: Column, c: Column): Column =
    dot(x, c) - lit(0.5) * dot(c, c)

  /** Sort key of a driver-held centroid's integral c_id: centroids
    * literalized in ascending c_id order make the
    * [[graft.expressions.NearestCentroidIndexExpr]] kernel's ties to the
    * smaller INDEX the join form's ties to the smaller c_id. `op` names
    * the caller when the c_id is not integral. */
  private def cidKey(v: Any, op: String): Long = v match {
    case i: Int => i.toLong
    case l: Long => l
    case s: Short => s.toLong
    case b: Byte => b.toLong
    case other => sys.error(s"$op needs an integral c_id, got $other")
  }

  /** Lloyd k-means under squared-Euclidean assignment on RAW vectors —
    * the PQ subquantizer training rule — with [[kmeansTrain]]'s
    * determinism conventions: ties to the smaller c_id, per-dimension
    * means summed in decimal(28,12) (order-independent, so identical
    * across partitionings and engines), centroids held on the driver
    * between rounds (bounded metadata, constant-size per-round plans).
    * `corpus`: (id, e); `seeds`: (c_id, c). Returns (c_id, c). */
  def kmeansTrainL2(corpus: DataFrame, seeds: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1)
    val spark = corpus.sparkSession
    // Centroids were ALREADY driver-held between rounds (each round
    // collected the means); holding them BEFORE the round too turns the
    // assignment into pure literal column algebra — the [[pqEncode]]
    // shape — so each Lloyd round is ONE map+aggregate job: no broadcast
    // join materializing |corpus|·k score rows, no per-vector argmax
    // exchange, no posexplode-to-(c_id, j) ladder. The shuffle carries k
    // partially-aggregated groups per map partition instead of one row
    // per corpus vector. Float identity with the join form: dot over a
    // literal array is the same left-to-right kernel, ½·c·c folds on the
    // driver by the same accumulation order ([[dotLocal]] — the
    // equivalence [[pqEncode]] has always relied on), and 0.5·x is exact
    // in IEEE; the argmax is the same lexicographic struct max with
    // ties to the smaller c_id; the means are the same decimal(28,12)
    // sums over the same addend multisets, divided by the same counts.
    val cidField = seeds.schema("c_id")
    var cent: Seq[(Any, Seq[Double])] =
      seeds.select(col("c_id"), col("c")).collect()
        .map(r => (r.get(0), r.getSeq[Double](1).toSeq)).toSeq
    require(cent.nonEmpty, "kmeansTrainL2 needs at least one seed centroid")
    val dim = cent.head._2.length
    // Graceful degeneration (matching the old join form, which these
    // guards replace behavior-for-behavior): a NULL vector contributed
    // no assignment (filtered before the aggregate — the kernel would
    // emit a null ci group and NPE the driver decode), and an EMPTY
    // corpus empties cent after round 1 and ends training (constructing
    // the kernel with zero centroids would throw instead).
    for (_ <- 1 to iters if cent.nonEmpty) {
      // ascending-c_id order makes the kernel's ties-to-smaller-INDEX
      // exactly the join form's ties-to-smaller-c_id
      val ordered = cent.sortBy(p => cidKey(p._1, "kmeansTrainL2")).toIndexedSeq
      import org.apache.spark.sql.graft.ColumnBridge.{column, expression}
      val idx = column(graft.expressions.NearestCentroidIndexExpr(
        expression(col("e")), ordered.map(_._2), 0))
      val sums = (0 until dim).map(j =>
        (sum(element_at(col("e"), j + 1).cast("decimal(28,12)")).cast("double") /
          count(lit(1))).as(s"m$j"))
      val rows = corpus
        .filter(col("e").isNotNull)
        .select(idx.as("ci"), col("e"))
        .groupBy("ci")
        .agg(sums.head, sums.tail: _*)
        .collect()
      cent = rows.toSeq.map(r =>
        (ordered(r.getInt(0))._1,
          (0 until dim).map(j => r.getDouble(j + 1)).toSeq))
    }
    import org.apache.spark.sql.types.{ArrayType, DoubleType, StructField, StructType}
    val outSchema = StructType(Seq(
      cidField.copy(name = "c_id"),
      StructField("c", ArrayType(DoubleType, containsNull = true))))
    spark.createDataFrame(
      java.util.Arrays.asList(cent.map(p => Row(p._1, p._2)): _*), outSchema)
  }

  /** One trained PQ codebook set held as driver metadata: for each of
    * the m subspaces, the kSub centroids in c_id order (bounded:
    * m·kSub·(dim/m) doubles — the same centers-on-the-driver shape as
    * [[kmeansTrain]]). */
  final case class PqBooks(m: Int, dim: Int, books: Seq[Seq[Seq[Double]]]) {
    val w: Int = dim / m
  }

  /** Train the m subquantizers, seeded by the subvectors of `seedIds`
    * (c_id = position in the sorted seed list). Empty clusters drop out
    * of a codebook, as in Lloyd generally.
    *
    * ALL m subspaces train in the SAME jobs: the corpus explodes once
    * into (id, sub, x) rows and each Lloyd round is one
    * assignment+means pass over that frame with `sub` as an extra
    * grouping column — 2 jobs for 2 rounds, not 2·m (the per-subspace
    * loop this replaced launched ~4·m tiny jobs and was pure
    * job-overhead at test scale; at 100 TB it is the difference between
    * 2 and 2·m passes over the corpus). Assignment ties, decimal means,
    * and the driver-held centroids are identical per subspace, so the
    * learned books — and the SQL oracle — are unchanged. */
  def pqTrain(corpus: DataFrame, m: Int, dim: Int, seedIds: Seq[Long],
              iters: Int): PqBooks = {
    // Seed gather: fetch ONLY the seed vectors (an IN filter the scan
    // can push down — ≤ kSub rows cross to the driver) and slice the
    // subvectors driver-side; the previous form exploded the WHOLE
    // corpus and broadcast-joined the seed index just to collect the
    // same ≤ m·kSub rows — a full-pass job before training even starts.
    // Same values by construction (the identical element slices), same
    // c_id = position in the sorted seed list.
    // (a seed id absent from the corpus simply contributes no centroid,
    // exactly as the join-based gather behaved)
    val seedRows = corpus.filter(col("id").isin(seedIds: _*))
      .select(col("id"), col("e")).collect()
      .toSeq.map(r => (r.getLong(0), r.getSeq[Double](1).toSeq))
    pqTrainSeeded(corpus, m, dim, seedIds, seedRows, iters)
  }

  /** [[pqTrain]] with the seed (id, vector) rows ALREADY on the driver —
    * the entry for callers that piggyback the gather on another action
    * ([[ivfPqTopK]] rides it on the residual barrier's materialization
    * as observed metrics: one driver round-trip saved, identical rows by
    * construction). `seedRows` must be the corpus rows whose id ∈
    * `seedIds` (order irrelevant; c_id = position in the sorted
    * `seedIds` list, exactly the gather-based wrapper's convention). */
  def pqTrainSeeded(corpus: DataFrame, m: Int, dim: Int, seedIds: Seq[Long],
                    seedRows: Seq[(Long, Seq[Double])], iters: Int): PqBooks = {
    require(dim % m == 0, s"dim=$dim not divisible by m=$m")
    require(iters >= 1)
    val w = dim / m
    val seedIdx = seedIds.sorted.zipWithIndex.toMap
    // no seed present in the corpus → no centroids to train (the join
    // form degenerated to the same empty books)
    if (seedRows.isEmpty) return PqBooks(m, dim, (0 until m).map(_ => Seq.empty))
    // Codebooks live on the driver across rounds (they always did —
    // every round collected its means), so each Lloyd round assigns by
    // the SAME literal-codebook argmax the encoder uses ([[pqEncode]],
    // and see [[kmeansTrainL2]] for the float-identity argument): one
    // map+aggregate job per round over m·|corpus| exploded (sub, c_id,
    // x) rows — no broadcast join materializing m·kSub score rows per
    // vector, no per-(id, sub) argmax exchange, no second explode to
    // (sub, c_id, j). The shuffle carries ≤ m·kSub partially-aggregated
    // groups per map partition.
    var books: IndexedSeq[Seq[(Int, Seq[Double])]] = (0 until m).map { s =>
      seedRows.map { case (id, e) =>
        (seedIdx(id), e.slice(s * w, s * w + w))
      }.sortBy(_._1)
    }
    import org.apache.spark.sql.graft.ColumnBridge.{column, expression}
    for (_ <- 1 to iters if books.exists(_.nonEmpty)) {
      // books are kept ascending by c_id, so the kernel's ties-to-
      // smaller-INDEX is the join form's ties-to-smaller-c_id; the
      // means aggregate keys on (sub, index) and indexes map back to
      // c_ids on the driver
      val subStructs = (0 until m).map { s =>
        val idx = column(graft.expressions.NearestCentroidIndexExpr(
          expression(col("e")), books(s).map(_._2), s * w))
        struct(idx.as("ci"), slice(col("e"), s * w + 1, w).as("x"))
      }
      val sums = (0 until w).map(j =>
        (sum(element_at(col("x"), j + 1).cast("decimal(28,12)")).cast("double") /
          count(lit(1))).as(s"m$j"))
      val rows = corpus
        // null vectors contribute no assignment (the old join form's
        // behavior; the kernel would emit null ci groups that NPE the
        // driver decode below)
        .filter(col("e").isNotNull)
        .select(posexplode(array(subStructs: _*)).as(Seq("sub", "a")))
        .select(col("sub"), col("a.ci").as("ci"), col("a.x").as("x"))
        .groupBy("sub", "ci")
        .agg(sums.head, sums.tail: _*)
        .collect()
      val prev = books
      books = (0 until m).map { s =>
        rows.toSeq.filter(_.getInt(0) == s)
          .map(r => (prev(s)(r.getInt(1))._1,
            (0 until w).map(j => r.getDouble(j + 2)).toSeq))
          .sortBy(_._1)
      }
    }
    PqBooks(m, dim, books.map(_.map(_._2)))
  }

  private def dotLocal(a: Seq[Double], b: Seq[Double]): Double = {
    var acc = 0.0
    var i = 0
    while (i < a.length) { acc += a(i) * b(i); i += 1 }
    acc
  }

  /** Per-subspace code of each corpus vector: the argmax of [[l2Score]]
    * over that subspace's codebook (ties to the smaller code). Pure
    * column algebra over literal centroids — `array_max` of
    * (score, −code) structs, map-only. Adds `codes` (array<int>,
    * length m).
    *
    * The argmax per subspace is the [[graft.expressions.NearestCentroidIndexExpr]]
    * kernel: one allocation-free loop over the literal codebook (riding
    * the codegen `references` array, so differently-trained books share
    * one compiled class). The previous `array_max(array(struct(…)))`
    * column form allocated a struct per (row, code) and its m·kSub
    * unrolled dot terms overflowed Janino's 64 KB fused-method limit,
    * forcing the scan stage out of whole-stage fusion — both gone. */
  def pqEncode(corpus: DataFrame, bk: PqBooks): DataFrame = {
    import org.apache.spark.sql.graft.ColumnBridge.{column, expression}
    // empty books are pqTrainSeeded's documented degeneration, not a
    // kernel error: name the subspace and the cause at the operator
    val emptySub = bk.books.indexWhere(_.isEmpty)
    require(emptySub < 0,
      s"pqEncode: subspace $emptySub of ${bk.m} has an empty codebook — none " +
        "of the PQ seed ids is in the corpus (or the corpus has no non-null " +
        "vector), so training had no centroid to start from; pass seed ids " +
        "that are corpus ids")
    val codeCols = (0 until bk.m).map { s =>
      // the kernel's ties-to-smaller-index IS the old struct form's
      // ties-to-smaller-code (codes are book positions); one tight
      // reference-table loop replaces m·kSub unrolled dot terms that
      // both allocated per (row, code) and overflowed Janino's fused-
      // method limit (the codegen ceiling the previous scaladoc
      // documented — gone with the kernel, the scan stage fuses again)
      column(graft.expressions.NearestCentroidIndexExpr(
        expression(col("e")), bk.books(s), s * bk.w)).as(s"__c$s")
    }
    corpus.withColumn("codes", array(codeCols: _*))
  }

  /** Asymmetric-distance (ADC) top-k: each probe precomputes its m
    * lookup tables (dot of its subvector against every centroid — m·kSub
    * doubles, probe-side column algebra), and a candidate's approximate
    * dot product is the FIXED-ORDER sum of one table entry per subspace
    * (left-associated, so the oracle replays the exact float). The
    * encoded corpus streams once against broadcast probes; a per-probe
    * window ranks by (adc desc, id) — the same shape as
    * [[bruteForceTopK]] with the O(pairs·d) dot replaced by O(pairs·m)
    * table lookups, the PQ speed/memory win (codes are m bytes/vector
    * against d doubles). `probes`: (probe_id, p). Returns (probe_id,
    * rank, id, adc). */
  def pqTopK(encoded: DataFrame, probes: DataFrame, bk: PqBooks,
             k: Int): DataFrame = {
    val pr = probes.select(col("probe_id") +: col("p") +: adcTables(bk): _*)
    // Cut the skinny (id, codes) frame before the probe join: the
    // broadcast nested-loop join's whole-stage codegen defers stream-side
    // projection variables into the per-build-row loop, so a lazily-
    // planned encode re-runs the m-subspace argmax once per (row, probe)
    // PAIR instead of per row — measured 80 s of task time at sf0.1 with
    // 20 probes, the whole ADC win gone. The cut frame is the PQ memory
    // shape itself (m small ints per vector, the cheapest possible
    // materialization); the serve-scale paths ([[ivfPqTopKIndexed]] /
    // [[ivfPqTopKBulk]]) read codes as table data, so only this in-plan
    // demo/eval path needs the barrier.
    val enc = Barrier.cut(encoded.select(col("id"), col("codes")))
    rankTopK(enc.join(broadcast(pr))
      .filter(col("id") =!= col("probe_id"))
      .withColumn("adc", adcResidScore(bk)), "adc", k)
  }

  /** IVF-PQ — the composed index every billion-vector system ships
    * (coarse quantizer + residual product codes): corpus vectors are
    * assigned to their nearest-in-L2 coarse centroid (argmax of
    * [[l2Score]], ties to the smaller c_id), the RESIDUAL x − c is
    * product-quantized by [[pqTrain]]/[[pqEncode]], and a probe scans
    * only its `nprobe` nearest coarse buckets, scoring candidates as
    * `q·c + Σ dot(q_sub, residual-centroid)` ≈ q·x — the coarse term
    * computed once per (probe, bucket), the residual term by ADC table
    * lookup. The candidate join shuffles on the coarse id only (the IVF
    * pruning); at 100 TB the encoded corpus is written bucketed by c_id
    * ([[writeIvfIndex]]-style) so the probe join is shuffle-free and
    * reads 8 code bytes per candidate instead of d doubles.
    *
    * Determinism: every float the ranking touches is replicated
    * term-for-term by the SQL oracle — the l2Score assignments, the
    * per-element residual subtraction (exact), the Lloyd rounds
    * (decimal means), and the final sum, left-associated as
    * `pc + (t0 + t1 + …)`. Returns (probe_id, rank, id, adc). */
  def ivfPqTopK(corpus: DataFrame, coarse: DataFrame, probes: DataFrame,
                m: Int, dim: Int, seedIds: Seq[Long], iters: Int,
                k: Int, nprobe: Int): DataFrame = {
    // The assigned frame is consumed by residual training (one
    // collect-driven job per Lloyd round), encoding, and the final
    // ranking job — actions that would each re-run the linear
    // assignment pass. Cut it once (Barrier.cut: localCheckpoint, or a
    // reliable checkpoint under graft.barrier.checkpointDir); a
    // production deployment goes further and materializes the ENCODED
    // corpus to a bucketed table ([[writeIvfPqIndex]] — train + encode
    // is a one-off index build, probing is the recurring query).
    // Re-measured round 16 (6-run interleaved A/B): warm medians
    // 8.4 → 6.7 s at sf0.1.
    //
    // The PQ SEED GATHER rides the cut's materialization job as an
    // observed metric (collect_list over the ≤ kSub seed rows) instead
    // of running as its own driver action afterwards — the query is
    // job-count-bound at bench scale (~8 sequential driver round-trips
    // before this change), and the observed rows are the exact rows the
    // gather job re-read from the checkpoint (collect_list skips the
    // null non-seed entries; order is irrelevant — seeded training maps
    // rows by id). Metrics ride the action that materializes the cut
    // (Dataset.checkpoint runs under withAction for both the local and
    // reliable paths), with a bounded wait + explicit re-read fallback
    // so a metrics regression can never hang or break the query.
    val obs = org.apache.spark.sql.Observation()
    val assigned = Barrier.cut(
      coarseResiduals(corpus, coarse).observe(obs,
        collect_list(when(col("id").isin(seedIds: _*),
          struct(col("id"), col("r")))).as("seed_rows")))
    val seedRows: Seq[(Long, Seq[Double])] = Barrier.observed(obs)(
        _.getSeq[Row](0).map(r => (r.getLong(0), r.getSeq[Double](1).toSeq))) {
      // fallback: one cheap scan of the checkpointed blocks
      assigned.filter(col("id").isin(seedIds: _*))
        .select(col("id"), col("r")).collect()
        .toSeq.map(r => (r.getLong(0), r.getSeq[Double](1).toSeq))
    }
    val resid = assigned.select(col("id"), col("r").as("e"))
    val bk = pqTrainSeeded(resid, m, dim, seedIds, seedRows, iters)
    // c_id travels THROUGH the encode projection instead of being
    // re-attached by a corpus-wide self-join on id (two exchanges + a
    // sort-merge join + a second read of the checkpoint, all removed —
    // guide §2.4; pqEncode only appends the codes column, so the rows
    // are identical by construction). The explicit repartition keeps
    // the encode argmax evaluated ONCE per row: the broadcast-hash
    // probe join defers stream-side projection variables into its
    // per-match loop (the round-16 pqTopK trap — the id-join's exchange
    // was what protected this path), and the exchange write is where
    // the codes now materialize. Keyed by c_id — the index's bucket
    // layout, exactly what [[writeIvfPqIndex]] clusters by at scale.
    val enc = pqEncode(
        assigned.select(col("id"), col("c_id"), col("r").as("e")), bk)
      .select(col("id"), col("c_id"), col("codes"))
      .repartition(corpus.sparkSession.sparkContext.defaultParallelism,
        col("c_id"))
    adcRank(enc, pqProbeSide(probes, coarse, bk, nprobe), bk, k)
  }

  /** Coarse L2 assignment with residuals: (id, c_id, r = x − c) via the
    * partial-aggregable argmax (see [[kmeansTrainL2]] — one row per
    * vector crosses the exchange, not one per (vector, centroid)). */
  private def coarseResiduals(corpus: DataFrame, coarse: DataFrame): DataFrame = {
    // Coarse centroids are bounded driver metadata (the kmeansTrain
    // convention — every producer either collected them or reads a
    // ≤|cells| side table), so the assignment literalizes like the
    // Lloyd rounds: the [[graft.expressions.NearestCentroidIndexExpr]]
    // kernel picks the bucket map-side and the residual subtracts the
    // looked-up literal centroid — no broadcast join materializing
    // |corpus|·k score rows, no per-vector argmax exchange. Same floats:
    // same argmax tie/NaN semantics (ascending-c_id order ≡ ties to
    // smaller c_id), same per-element subtraction values.
    import org.apache.spark.sql.graft.ColumnBridge.{column, expression}
    val rows = coarse.select(col("c_id"), col("c")).collect()
      .map(r => (r.get(0), r.getSeq[Double](1).toSeq))
      .sortBy(p => cidKey(p._1, "coarseResiduals")).toIndexedSeq
    require(rows.nonEmpty, "coarseResiduals needs at least one coarse centroid")
    val idx = column(graft.expressions.NearestCentroidIndexExpr(
      expression(col("e")), rows.map(_._2), 0))
    val cidLit = rows.head._1 match {
      case _: Int => typedLit(rows.map(_._1.asInstanceOf[Int]))
      case _: Long => typedLit(rows.map(_._1.asInstanceOf[Long]))
      case _: Short => typedLit(rows.map(_._1.asInstanceOf[Short]))
      case _ => typedLit(rows.map(p => cidKey(p._1, "coarseResiduals")))
    }
    val centsLit = typedLit(rows.map(_._2))
    corpus
      .withColumn("__ci", idx)
      .select(col("id"),
        element_at(cidLit, col("__ci") + 1).as("c_id"),
        zip_with(col("e"), element_at(centsLit, col("__ci") + 1),
          (a, b) => a - b).as("r"))
  }

  /** Probe side of IVF-PQ: each probe's `nprobe` nearest coarse buckets
    * by the same L2 score, with its coarse dot term `pc` and the m ADC
    * lookup tables — all probe-side column algebra over broadcast
    * centroids and literal codebooks. */
  private def pqProbeSide(probes: DataFrame, coarse: DataFrame,
                          bk: PqBooks, nprobe: Int): DataFrame =
    topPerKey(probes.join(broadcast(coarse))
        .withColumn("__sc", l2Score(col("p"), col("c"))),
        "probe_id", "__sc", "c_id", nprobe, "__rn")
      .withColumn("pc", dot(col("p"), col("c")))
      .select(Seq(col("probe_id"), col("c_id"), col("pc"), col("p")) ++ adcTables(bk): _*)

  /** A probe's m ADC lookup tables `__t0…`: the dot of its subvector
    * with every centroid of that subspace's book (m·kSub doubles,
    * probe-side column algebra over the literal codebooks). */
  private def adcTables(bk: PqBooks): Seq[Column] = (0 until bk.m).map { s =>
    val qs = slice(col("p"), s * bk.w + 1, bk.w)
    array(bk.books(s).map(c => dot(qs, typedLit(c))): _*).as(s"__t$s")
  }

  /** The ADC scorer: the left-associated sum `t0 + … + t_{m-1}` — one
    * lookup per subspace into the probe-side tables, the
    * oracle-replayable float order shared by every PQ ranking path. */
  private def adcResidScore(bk: PqBooks): Column = (0 until bk.m)
    .map(s => element_at(col(s"__t$s"), element_at(col("codes"), s + 1) + 1))
    .reduce(_ + _)

  /** Score candidates `pc + (t0 + … + t_{m-1})` and rank per probe.
    * `enc`: (id, codes, c_id); `pb`: [[pqProbeSide]]'s frame. The join
    * shuffles on nothing: the probe side broadcasts, candidates
    * stream. */
  private def adcRank(enc: DataFrame, pb: DataFrame, bk: PqBooks,
                      k: Int): DataFrame =
    rankTopK(enc.join(broadcast(pb), "c_id")
      .filter(col("id") =!= col("probe_id"))
      .withColumn("adc", col("pc") + adcResidScore(bk)), "adc", k)

  /** BULK probe of a materialized IVF-PQ index — [[ivfTopKBulk]]'s
    * kNN-JOIN shape on the QUANTIZED ladder: the probe side is a whole
    * table (corpus self-kNN for semantic dedup, batch re-embedding
    * joins), so the indexed path's collect-the-probe-side convention
    * doesn't apply. Probes compute their coarse assignment AND their m
    * ADC lookup tables map-side (broadcast coarse centroids, literal
    * codebooks), shuffle ONCE on c_id onto the index's bucket layout,
    * and the code table is read in place and hash-built per bucket
    * (shuffle-hash hint, build on the index side — the [[ivfTopKBulk]]
    * A/B rationale carries: appends keep buckets multi-file, so
    * sort-merge would re-sort the index every run). What moves per
    * probe is nprobe copies of (pc + m·kSub table doubles) — 256
    * doubles at m=16/kSub=16, a small constant multiple of the raw
    * d=64 vector — while the index side never moves and its candidates
    * cost 8 code bytes each instead of d doubles: the PQ memory win is
    * exactly what makes the bulk join's build side small (a bucket of
    * codes, not vectors). Same √n sizing guard as [[ivfTopKBulk]]
    * (identical cost model — candidate volume n·nprobe·n/|cells|);
    * deletes are honored through the same [[liveIndexRows]] read.
    * Result-identical to [[ivfPqTopKIndexed]] on the same probe set
    * (IvfIndexSpec pins parity and the single-c_id-Exchange shape).
    * Returns (probe_id, rank, id, adc). */
  def ivfPqTopKBulk(table: String, coarse: DataFrame, probes: DataFrame,
                    bk: PqBooks, k: Int, nprobe: Int,
                    excludeSelf: Boolean = true,
                    maxShareFactor: Double = 8.0): DataFrame =
    rankTopK(bulkCandidates("ivfPqTopKBulk", table, coarse, probes,
        excludeSelf, maxShareFactor)(
        cent => pqProbeSide(probes, cent, bk, nprobe))
      .withColumn("adc", col("pc") + adcResidScore(bk)), "adc", k)

  /** Build the PRODUCTION IVF-PQ index — the recurring-query shape at
    * 100 TB: coarse-assign the corpus, train residual product codes,
    * and materialize the ENCODED corpus (id, c_id, codes — m code bytes
    * per vector instead of d doubles) as a table BUCKETED BY the coarse
    * id, so probes read only their nprobe buckets with no shuffle and
    * no re-encode. The trained codebooks persist alongside as
    * `<table>_books` (sub, c_id, c — bounded m·kSub rows), making the
    * index self-contained: [[readPqBooks]] + [[ivfPqTopKIndexed]]
    * answer queries in a later session without retraining. Returns the
    * books for immediate use. */
  def writeIvfPqIndex(corpus: DataFrame, coarse: DataFrame, table: String,
                      m: Int, dim: Int, seedIds: Seq[Long], iters: Int,
                      numBuckets: Int): PqBooks = {
    val spark = corpus.sparkSession
    val assigned = coarseResiduals(corpus, coarse)
    val resid = assigned.select(col("id"), col("r").as("e"))
    val bk = pqTrain(resid, m, dim, seedIds, iters)
    val enc = pqEncode(resid, bk)
      .select(col("id"), col("codes"))
      .join(assigned.select(col("id"), col("c_id")), "id")
    resetIndex(spark, table)
    dropTableAndDir(spark, s"${table}_books")
    Bucketing.writeBucketed(enc, table, "c_id", numBuckets, sort = false)
    import spark.implicits._
    bk.books.zipWithIndex
      .flatMap { case (book, s) => book.zipWithIndex.map { case (c, cid) => (s, cid, c) } }
      .toDF("sub", "c_id", "c")
      .write.format("parquet").saveAsTable(s"${table}_books")
    bk
  }

  /** APPEND new vectors into an existing [[writeIvfPqIndex]] index —
    * the PQ twin of [[appendIvfIndex]], completing the lifecycle
    * symmetry (a daily-ingest IVF-PQ deployment encodes new vectors
    * against the index's FROZEN coarse centroids and FROZEN codebooks
    * — retraining per batch would re-encode the whole index): the new
    * batch coarse-assigns map-side (broadcast centroids), its residuals
    * encode through the m codebook argmaxes (broadcast literal arrays),
    * and the (id, codes, c_id) rows insertInto the bucketed table —
    * positional, same construction order as the build, so bucket
    * numbering and every probe-side guarantee hold over the union.
    * `coarse` and `bk` must be the index's own ([[readPqBooks]] — a
    * drifted coarse mis-buckets, foreign codebooks decode garbage ADC).
    * Stats keep-alive mirrors [[appendIvfIndex]].
    *
    * The PQ-specific drift hazard is QUANTIZATION drift on top of
    * occupancy drift: codebooks fit yesterday's residual distribution,
    * so a shifted ingest encodes with rising quantization error even
    * while bucket occupancy ([[occupancyPsi]]) still looks flat —
    * watch the q130b-style recall gate on a probe sample across
    * appends, and rebuild ([[writeIvfPqIndex]]) when it sags; q127e
    * gates this append flow end-to-end cross-engine. Streaming ingest
    * carries [[appendIvfIndex]]'s ordering contract verbatim: from a
    * `foreachBatch` body, appended code rows are visible to serve
    * calls at micro-batch boundaries, never mid-batch (AnnServeSpec
    * pins the streamed-ingest parity on both index kinds). */
  def appendIvfPqIndex(newVectors: DataFrame, coarse: DataFrame,
                       table: String, bk: PqBooks): Unit = {
    val spark = newVectors.sparkSession
    val hadStats = hasCatalogRowCount(spark, table)
    val assigned = coarseResiduals(newVectors, coarse)
    val batch = pqEncode(assigned.select(col("id"), col("r").as("e")), bk)
      .select(col("id"), col("codes"))
      .join(assigned.select(col("id"), col("c_id")), "id")
    requireInsertColumns(spark, table, batch, "appendIvfPqIndex")
    batch.write.mode(SaveMode.Append).insertInto(table)
    if (hadStats)
      spark.sql(s"ANALYZE TABLE `$table` COMPUTE STATISTICS")
  }

  /** Load the persisted codebooks of a [[writeIvfPqIndex]] index. This
    * is the "later session, self-contained index" entry point — exactly
    * the path that meets corrupt or partially-written on-disk state, so
    * it fails LOUDLY on an empty books table, a missing subspace, or a
    * codeword width that contradicts `dim` (a silent mismatch would
    * produce garbage ADC tables downstream). */
  def readPqBooks(spark: org.apache.spark.sql.SparkSession, table: String,
                  dim: Int): PqBooks = {
    val rows = spark.table(s"${table}_books").collect()
      .map(r => (r.getAs[Int]("sub"), r.getAs[Int]("c_id"), r.getSeq[Double](2).toSeq))
      .groupBy(_._1)
    require(rows.nonEmpty, s"${table}_books is empty — index not built or " +
      "partially written; rebuild with writeIvfPqIndex")
    val m = rows.keys.max + 1
    require(dim % m == 0,
      s"dim=$dim not divisible by the stored subspace count m=$m")
    val w = dim / m
    PqBooks(m, dim,
      (0 until m).map { s =>
        val book = rows.getOrElse(s, throw new IllegalArgumentException(
          s"${table}_books is missing subspace $s of $m — partial write; " +
            "rebuild with writeIvfPqIndex"))
        book.foreach { case (_, cid, c) =>
          require(c.length == w,
            s"${table}_books sub=$s c_id=$cid has ${c.length}-wide codeword, " +
              s"expected $w (dim=$dim / m=$m) — wrong dim or corrupt table")
        }
        book.sortBy(_._2).map(_._3).toSeq
      })
  }

  /** Probe a materialized IVF-PQ index — result-identical to
    * [[ivfPqTopK]] on the same corpus/coarse/probes. Probe-time work is
    * ONLY: assign probes to nprobe coarse buckets (broadcast centroids),
    * prune the index scan to those buckets (IN-literal on the bucket
    * column → `SelectedBucketsCount` in the plan, no index-side
    * Exchange — IvfIndexSpec pins both), and ADC-score the surviving
    * code rows. No corpus vector is read and nothing re-encodes. */
  def ivfPqTopKIndexed(table: String, coarse: DataFrame, probes: DataFrame,
                       bk: PqBooks, k: Int, nprobe: Int): DataFrame = {
    // one execution of the probe side (assignment window + m ADC tables)
    val (pb, enc) = prunedIndex(table, pqProbeSide(probes, coarse, bk, nprobe),
      coarse, "ivfPqTopKIndexed")
    adcRank(enc, pb, bk, k)
  }

  /** EXACT-COSINE RE-RANK over a persisted IVF-PQ index — the standard
    * production fix for quantization-bound recall (the regime the q130b
    * gate measured at recall@3 ≈ 0.33 and the RecallProbe sweep proved
    * nprobe cannot move): take the top-`rerank` candidates per probe by
    * ADC (cheap — m code-byte lookups per pair, never the vectors),
    * fetch ONLY those candidates' full vectors from the corpus, recompute
    * the true cosine, and emit the top-k. ADC's job collapses from
    * "rank exactly" to "don't drop the true neighbors from a
    * rerank-sized shortlist" — a far weaker demand on the codebooks, so
    * small-m indexes keep their 16× compression while the emitted
    * ranking (and the emitted SCORE — `cos` is exact, directly
    * comparable to [[bruteForceTopK]]'s, unlike the approximate `adc`)
    * recovers toward the exact baseline. Same refine-after-candidates
    * shape as the banded dedup family's verify stage (q117): a cheap
    * recall-oriented stage proposes, an exact bounded stage disposes.
    *
    * Scale shape: the candidate frame is |probes|·rerank (id, probe_id)
    * rows — broadcast-sized by the same convention as the probe set —
    * so the vector fetch is ONE pass of the corpus scan against a
    * broadcast build side: the 100 TB side never shuffles, nothing
    * re-encodes, and the re-scoring dot products number
    * |probes|·rerank, not |probes|·|corpus|. (On an id-sorted/bucketed
    * corpus the broadcast join's runtime filter prunes the scan further;
    * either way the plan adds zero exchanges beyond the final top-k
    * window over |probes|·rerank rows.) Cost knob: `rerank` trades one
    * bounded join + rerank·d multiplies per probe for recall — the
    * conventional setting is a small multiple of k (2–10×; q127d gates
    * rerank = 32 for k = 3).
    *
    * `corpus` must be the same (id, e) frame the index was built from
    * (the index stores codes, not vectors — re-ranking is exactly the
    * operation that needs the originals back). Returns (probe_id, rank,
    * id, cos) like the exact baseline — which also makes this the
    * PQ-ladder composition point for filtered search: fetch at an
    * over-sized k and hand the frame to [[postFilterTopK]] (the code
    * table carries no payload columns, so the PQ path filters
    * post-retrieval; a frequently-filtered corpus belongs in a payload
    * IVF index, [[writeIvfIndex]]). Deleted ids
    * ([[deleteFromIvfIndex]]) never reach the shortlist — the ADC scan
    * reads through the same tombstone-aware path as every serve
    * operator.
    *
    * `probePayload` + `pairFilter`: PER-PROBE ATTRIBUTE predicates on
    * the QUANTIZED ladder — [[ivfTopKIndexed]]'s hard-negative-mining
    * serve shape ("top-k nearest with a DIFFERENT label than this
    * probe's") on the index kind a memory-bound 100 TB deployment
    * actually serves from. The code table stores no attributes, so the
    * predicate cannot run pre-ranking inside the ADC scan (the vector
    * path's inline property); it runs POST-ADC on the re-rank
    * candidate fetch — the stage that already touches the corpus
    * (attribute columns ride the corpus frame for free) and the
    * broadcast probe side (`probePayload` names the probe columns the
    * predicate references; they must not collide with a corpus column
    * — alias them, the q137 plabel convention, enforced loudly here).
    * The filter applies BEFORE the final rank window, so top-k
    * backfills gap-free from the PASSING rows — but only within the
    * rerank-sized shortlist: recall decays with predicate selectivity,
    * bounded by R (the over-fetch dial prices the trade, the
    * [[postFilterTopK]] contract — size rerank ≈ k/selectivity and
    * short probes come back short, never padded). FilteredAnnSpec pins
    * filter-then-rank semantics, the backfill, and the collision
    * reject; q137b gates the ranking cross-engine. */
  def ivfPqTopKRerankIndexed(table: String, coarse: DataFrame,
                             probes: DataFrame, corpus: DataFrame,
                             bk: PqBooks, k: Int, nprobe: Int,
                             rerank: Int,
                             probePayload: Seq[String] = Nil,
                             pairFilter: Column = lit(true)): DataFrame = {
    require(rerank >= k,
      s"ivfPqTopKRerankIndexed: rerank=$rerank < k=$k — the shortlist " +
        "cannot be smaller than the answer; use ivfPqTopKIndexed for " +
        "plain ADC ranking")
    requireNoPayloadClash("ivfPqTopKRerankIndexed", probePayload,
      Seq(corpus, coarse),
      Seq("ue", "up", "__sc", "__rn", "pc", "cos", "rank") ++
        (0 until bk.m).map(s => s"__t$s"))
    val cand = ivfPqTopKIndexed(table, coarse, probes, bk, rerank, nprobe)
      .select(col("probe_id"), col("id"))
    rankTopK(unitized(corpus, "e", "ue")
      .join(broadcast(cand), "id")
      .join(broadcast(unitized(probes, "p", "up")), "probe_id")
      .withColumn("cos", cosine)
      .filter(pairFilter), "cos", k)
  }
}
