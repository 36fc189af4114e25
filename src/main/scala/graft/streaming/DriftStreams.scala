package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Streaming data-quality drift monitoring — the continuous form of the
  * q126 PSI gate: in production the REFERENCE profile is computed once
  * from the blessed corpus version (decile boundaries + bucket counts,
  * bounded driver metadata — the [[graft.operators.Sketches
  * .quantileSketch]] output), frozen, and shipped to a monitor that
  * watches the INGEST STREAM and alerts when the population shifts.
  *
  * Scale shape: bucketing is a map-side boundary count (9 codegen'd
  * comparisons per row, no join — boundaries are literals), and the
  * running state is one `groupBy(bucket).count()` streaming aggregation
  * in update/complete mode: at most `bounds.length + 1` state rows
  * TOTAL, regardless of stream volume. PSI itself is derived from any
  * emitted snapshot by [[DriftStreams.psiFromCounts]] — a driver-side
  * fold over ≤ 10 rows, exactly replicating the batch q126 Laplace
  * smoothing, so stream-derived PSI ≡ batch PSI on the same rows
  * (DriftStreamsSpec pins it against the q126 query's own output). */
object DriftStreams {

  /** Running bucket counts of `value` under the frozen reference decile
    * `bounds` — bucket = #boundaries ≤ x, the q126 convention. Works
    * identically on a batch frame: q126 counts both corpus versions
    * through it, so the batch gate and the monitor share one bucket
    * expression. */
  def psiDriftStream(docs: DataFrame, value: Column,
                     bounds: Seq[Double]): DataFrame = {
    require(bounds.nonEmpty, "need at least one bucket boundary")
    val bucket = bounds.map(b => when(value >= lit(b), 1).otherwise(0))
      .reduce(_ + _)
    docs.select(bucket.as("bucket"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_cur"))
  }

  /** PSI of a current bucket-count snapshot against the frozen reference
    * counts — the ONE PSI formula engine-wide (the q126 batch gate and
    * [[graft.operators.Similarity.occupancyPsi]] compute the identical
    * fold): Laplace-smoothed shares (n + 0.5) / (N + 0.5·B), summed over
    * the B buckets PRESENT on either side (q126's full-outer join omits
    * both-empty buckets, so this must too for parity). Smoothing 0.5 PER
    * CONTRIBUTING BUCKET — not a fixed +5 — keeps the smoothed shares
    * summing to 1 whatever the bucket count, so a PSI trigger threshold
    * means the same thing for 10 deciles as for 8 or 40 IVF cells; at
    * q126's 10 deciles it reduces to the classic (n+0.5)/(N+5) form. */
  def psiFromCounts(cur: Map[Int, Long], ref: Map[Int, Long]): Double = {
    // q126's full-outer join never materializes a bucket with zero rows
    // on BOTH sides, so an explicitly-present zero-zero key must not
    // contribute a term either (its Laplace-floor term is nonzero
    // whenever the two totals differ — including it would diverge from
    // the batch gate)
    val buckets = (cur.keySet ++ ref.keySet).toSeq
      .filter(b => cur.getOrElse(b, 0L) > 0 || ref.getOrElse(b, 0L) > 0)
    val smooth = 0.5 * buckets.size
    val nCur = cur.values.sum.toDouble
    val nRef = ref.values.sum.toDouble
    buckets.map { b =>
      val pc = (cur.getOrElse(b, 0L) + 0.5) / (nCur + smooth)
      val pr = (ref.getOrElse(b, 0L) + 0.5) / (nRef + smooth)
      (pc - pr) * math.log(pc / pr)
    }.sum
  }
}
