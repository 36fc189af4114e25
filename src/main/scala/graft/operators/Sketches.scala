package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Mergeable frequency sketches for corpus statistics at scale.
  *
  * Count-min: a depth×width grid of counters; each item increments one
  * bucket per hash row, an item's estimate is the MIN of its buckets —
  * always ≥ the true count (collisions only add), within ε·N with the
  * usual (d,w) guarantees. The sketch build is ONE pass over the items
  * (explode to depth (h, bucket) cells, partial-aggregated map-side into
  * ≤ d·w cells), and the result is broadcast-sized by construction. Two
  * sketches of one (depth, width, seed) merge by adding `cnt` per
  * (h, bucket) — the same mergeable-sketch contract as
  * approx_count_distinct (q56b) and approx_percentile (q43b); a
  * streaming build keeps exactly that sum as its running aggregate.
  * Hashes are the cross-engine 60-bit md5 prefix so a DuckDB oracle
  * reproduces every cell exactly.
  */
object Sketches {

  /** Bucket of `item` in hash row `i`: md5-60bit of "<seed><i>|<item>". */
  def cmBucket(item: Column, i: Int, width: Int, seed: String): Column =
    pmod(conv(substring(md5(concat(lit(s"$seed$i|"), item.cast("string"))), 1, 15),
      16, 10).cast("long"), lit(width.toLong))

  /** Build the sketch: (h, bucket, cnt) with at most depth·width rows. */
  def countMin(items: DataFrame, item: Column, depth: Int, width: Int,
               seed: String): DataFrame =
    items
      .select(explode(array((0 until depth).map(i =>
        struct(lit(i).as("h"), cmBucket(item, i, width, seed).as("bucket"))): _*)).as("hb"))
      .groupBy(col("hb.h").as("h"), col("hb.bucket").as("bucket"))
      .agg(count(lit(1)).as("cnt"))

  /** Estimate each candidate's frequency from a built sketch: adds `est`
    * (min over the depth rows). One exploded probe row per (candidate,
    * hash row) against ONE broadcast of the sketch — a per-row filtered
    * join would inline the un-materialized sketch plan `depth` times and
    * re-scan the corpus per hash row (it did: 3 full scans in the first
    * cut). Candidates must be row-distinct (they re-group on all their
    * columns). An absent (h, bucket) cell counts as 0 — so an item the
    * sketch never saw estimates to 0, the standard count-min answer,
    * rather than vanishing from the output. */
  def cmEstimate(candidates: DataFrame, item: Column, sketch: DataFrame,
                 depth: Int, width: Int, seed: String): DataFrame = {
    val gcols = candidates.columns.toSeq
    val reserved = Seq("h", "bucket", "cnt", "est", "__hb", "__h", "__bucket")
      .filter(gcols.contains)
    require(reserved.isEmpty,
      s"reserved column names in use by candidates: ${reserved.mkString(",")} — rename first")
    val probes = candidates
      .select(col("*"),
        explode(array((0 until depth).map(i =>
          struct(lit(i).as("h"), cmBucket(item, i, width, seed).as("bucket"))): _*)).as("__hb"))
      .select(gcols.map(col) ++ Seq(col("__hb.h").as("__h"), col("__hb.bucket").as("__bucket")): _*)
    probes
      .join(broadcast(sketch),
        col("__h") === col("h") && col("__bucket") === col("bucket"), "left")
      .groupBy(gcols.map(col): _*)
      .agg(min(coalesce(col("cnt"), lit(0L))).as("est"))
  }

  /** KMV hash-space size: hashes are uniform in [0, 2^60). 2^60 is
    * exactly representable as a double, so the estimator arithmetic is
    * bit-identical across engines. */
  val KmvSpace: Double = math.pow(2, 60)

  /** Uniform 60-bit hash of a distinct-counting key (same md5-prefix
    * scheme as every cross-engine hash here). */
  def kmvHash(key: Column, seed: String): Column =
    conv(substring(md5(concat(lit(seed), key.cast("string"))), 1, 15),
      16, 10).cast("long")

  /** KMV (k minimum values) distinct sketch per group: the k smallest
    * distinct key hashes. Unlike HLL it supports set INTERSECTION
    * estimates and its merge is just "k smallest of the union"
    * (kmvMergeEstimate / SketchesSpec pin that property), and unlike
    * exact countDistinct its state is O(k) per group. Plan shape: the
    * distinct collapses map-side, then [[Sampling.quotaPerGroup]] keeps
    * ≤ k rows per group BEFORE the shuffle (WindowGroupLimit) — at
    * 100 TB the exchange carries O(groups·k) hashes. Returns
    * (group, n_kept, kth, est_nd): est = (k-1)·2^60/kth, the standard
    * KMV estimator, deterministic because the hash is. Groups with
    * < k distinct keys report their exact count (n_kept) and est from
    * the largest kept hash. */
  def kmvSketch(df: DataFrame, groupCol: String, key: Column, k: Int,
                seed: String): DataFrame = {
    val hashed = df.select(col(groupCol), kmvHash(key, seed).as("h")).distinct()
    Sampling.quotaPerGroup(hashed, groupCol, k, col("h").asc)
      .groupBy(groupCol)
      .agg(max(col("h")).as("kth"), count(lit(1)).as("n_kept"))
      .select(col(groupCol), col("n_kept"), col("kth"),
        round(lit((k - 1).toDouble) * lit(KmvSpace) / col("kth").cast("double"), 0)
          .cast("long").as("est_nd"))
  }

  /** Deterministic mergeable QUANTILE sketch per group — the 100 TB
    * replacement for q121-style exact `percentile` aggregates (which
    * hold the full value multiset per group). The sketch is a
    * hash-uniform row sample: the k rows with the smallest 60-bit md5
    * hashes of a caller-supplied STABLE row key (the KMV convention of
    * [[kmvSketch]]/q56c), so it is deterministic, exactly replayable by
    * a DuckDB oracle, and mergeable over DISJOINT row shards — "k
    * smallest of the union multiset" is associative and
    * order-independent for a partition of the data, which is the only
    * shape partial aggregation and micro-batch state merging produce
    * ([[quantileMerge]]; SketchesSpec pins merge ≡
    * sketch-of-concatenation). Merging OVERLAPPING sketches
    * double-counts the shared rows — re-sketch, don't re-merge, after
    * a re-ingest. Estimates are [[nearestRank]] over the sorted sample.
    * Rank error of a k-uniform sample is O(1/√k) (pinned in spec).
    *
    * Plan shape: [[Sampling.quotaPerGroup]]'s WindowGroupLimit keeps
    * ≤ k rows per group map-side, so the exchange carries O(groups·k)
    * rows; the sort_array/collect_list then run on ≤ k values per
    * group. Groups with ≤ k rows are sampled whole — their quantiles
    * are exact. Output: (group, n_kept, q<pct> per requested quantile). */
  def quantileSketch(df: DataFrame, groupCol: String, key: Column,
                     value: Column, k: Int, seed: String,
                     quantiles: Seq[Double]): DataFrame = {
    val qCols = quantileCols(quantiles)
    val hashed = hashedValues(df, Seq(col(groupCol)), key, value, seed)
    Sampling.quotaPerGroup(hashed, groupCol, k, col("h").asc, col("v").asc)
      .groupBy(groupCol).agg(sortedValues, keptCount)
      .select(col(groupCol) +: col("n_kept") +: qCols: _*)
  }

  /** The quantile sketch's input: `lead` columns, the 60-bit hash `h` of
    * the row key and the value `v` as double. Null values drop BEFORE
    * sampling: collect_list silently skips nulls, so an unfiltered null
    * would inflate n_kept past len(vs) and push the nearest-rank index
    * off the end of the sample. */
  private def hashedValues(df: DataFrame, lead: Seq[Column], key: Column,
                           value: Column, seed: String): DataFrame =
    df.select(lead :+ kmvHash(key, seed).as("h") :+ value.cast("double").as("v"): _*)
      .filter(col("v").isNotNull)

  /** The kept sample's aggregates: its sorted values and their count. */
  private val sortedValues = sort_array(collect_list(col("v"))).as("vs")
  private val keptCount = count(lit(1)).as("n_kept")

  /** One `q<pct>` column per requested quantile over (`vs`, `n_kept`). */
  private def quantileCols(quantiles: Seq[Double]): Seq[Column] = {
    require(quantiles.nonEmpty && quantiles.forall(q => q > 0 && q <= 1))
    quantiles.map(q => nearestRank(col("vs"), col("n_kept"), q).as(s"q${math.round(q * 100)}"))
  }

  /** Nearest-rank quantile `q` of the ascending array `sorted` holding `n`
    * values: its element at 1-based index ceil(q·n) — an actual data
    * value, no interpolation arithmetic to drift cross-engine. The batch
    * sketches and the streaming estimate
    * ([[graft.streaming.StreamingSketches.estimate]]) all select with it. */
  def nearestRank(sorted: Column, n: Column, q: Double): Column =
    element_at(sorted, greatest(lit(1), ceil(lit(q) * n).cast("int")))

  /** KMV set-INTERSECTION estimate from two k-sets — the capability KMV
    * has and HLL doesn't ([[kmvSketch]]'s scaladoc): over the union's
    * k-sketch (the k smallest of a ∪ b), the fraction ρ of elements
    * present in BOTH input sketches is an unbiased estimate of the
    * Jaccard similarity, and |A∩B| ≈ ρ · |A∪B|̂ with the union estimate
    * from [[kmvMergeEstimate]]. Below capacity the union sketch holds
    * every distinct hash, so ρ and the intersection are EXACT. The
    * intersection estimate uses INTEGER floor division
    * (inBoth·unionEst / |union|) so an oracle replays it bit-exactly —
    * a float product would land on .5 rounding boundaries whenever the
    * sketch size divides the product. Returns (jaccard,
    * est_intersection). */
  def kmvIntersectEstimate(a: Seq[Long], b: Seq[Long],
                           k: Int): (Double, Long) = {
    val (union, unionEst) = kmvMergeEstimate(a, b, k)
    if (union.isEmpty) return (0.0, 0L)
    val as = a.toSet; val bs = b.toSet
    val inBoth = union.count(h => as.contains(h) && bs.contains(h))
    (inBoth.toDouble / union.size, inBoth.toLong * unionEst / union.size)
  }

  /** WHOLE-TABLE [[quantileSketch]] (one logical group). The groups
    * form with a CONSTANT group column is a scale trap: the optimizer
    * folds the literal out of the window partition spec AND then skips
    * the WindowGroupLimit insertion, so every row funnels through ONE
    * window task (WindowGuardSpec pins the hazard). The global form
    * plans as `orderBy(h, v).limit(k)` → TakeOrderedAndProject:
    * per-partition top-k map-side, O(partitions·k) over the exchange —
    * the bounded shape at any table size. Sample, estimates, and the
    * oracle replay are IDENTICAL to the groups form restricted to one
    * group (same k-smallest-by-(hash, value) multiset). Returns one row
    * (n_kept, q<pct>…). */
  def quantileSketchAll(df: DataFrame, key: Column, value: Column, k: Int,
                        seed: String, quantiles: Seq[Double]): DataFrame = {
    val qCols = quantileCols(quantiles)
    hashedValues(df, Nil, key, value, seed)
      .orderBy(col("h").asc, col("v").asc).limit(k)
      .agg(sortedValues, keptCount)
      .select(col("n_kept") +: qCols: _*)
  }

  /** Merge two quantile-sketch samples ((hash, value) pairs) — k
    * smallest of the union MULTISET, the one mergeability primitive (the
    * streaming aggregate [[graft.streaming.QuantileSketchAgg]] trims its
    * buffers with it). Associative and commutative over sketches of
    * DISJOINT row shards (the only shape partial aggregation and
    * micro-batch state merging ever produce); duplicates are kept because
    * the batch sketch ([[quantileSketch]]'s quotaPerGroup row_number)
    * counts every row — a `.distinct` here made merged samples diverge
    * from the batch sketch whenever two rows shared a (hash, value) pair. */
  def quantileMerge(a: Seq[(Long, Double)], b: Seq[(Long, Double)],
                    k: Int): Seq[(Long, Double)] =
    (a ++ b).sortBy(identity).take(k)

  /** Merge two KMV k-sets (arrays of hashes) and estimate the union's
    * distinct count — the driver-side mergeability primitive the spec
    * pins against a sketch built on the concatenated input. */
  def kmvMergeEstimate(a: Seq[Long], b: Seq[Long], k: Int): (Seq[Long], Long) = {
    val merged = (a ++ b).distinct.sorted.take(k)
    // < k survivors means we saw EVERY distinct hash of the union — the
    // exact count is the right answer (kmvSketch's own small-group
    // convention); the (k-1)·2^60/kth estimator only applies at capacity.
    // Empty ∪ empty is a legal merge of two empty sketches → (Nil, 0).
    if (merged.size < k) (merged, merged.size.toLong)
    else (merged, math.round((k - 1).toDouble * KmvSpace / merged.last.toDouble))
  }
}
