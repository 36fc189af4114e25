package graft.streaming

import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

import graft.operators.Sketches

/** The quantile sketch as an AGGREGATION FUNCTION — the form that runs
  * inside a STREAMING `groupBy().agg(...)` (and identically in batch):
  * state is the k smallest (hash, value) pairs of the group, i.e.
  * exactly [[Sketches.quantileSketch]]'s deterministic hash-uniform
  * sample, and merge is k-smallest-of-the-union — associative,
  * commutative, and order-independent, which is precisely why the
  * sketch survives micro-batch incremental aggregation unchanged: the
  * state store holds O(k) per group, every arrival order yields the
  * same sample, and the emitted update after any prefix of the stream
  * equals the batch sketch of that prefix (StreamingSketchesSpec pins
  * stream ≡ batch on the final update).
  *
  * Output is the SORTED sample values; consumers take the nearest-rank
  * element `ceil(q·n)` ([[StreamingSketches.estimate]] over
  * [[Sketches.nearestRank]]).
  *
  * The reduce path amortizes the bound: values append until 2k then
  * trim to the k smallest — O(log k) amortized per row, state ≤ 2k. */
class QuantileSketchAgg(k: Int)
    extends Aggregator[(Long, Double), Seq[(Long, Double)], Seq[Double]] {
  require(k > 0)

  // the buffer appends until 2k, then keeps the k smallest: Spark only
  // ever merges buffers over DISJOINT row subsets, so the multiset
  // take-k of Sketches.quantileMerge is the batch sketch's sample
  override def zero: Seq[(Long, Double)] = Vector.empty

  override def reduce(b: Seq[(Long, Double)],
      a: (Long, Double)): Seq[(Long, Double)] =
    if (b.length >= 2 * k) Sketches.quantileMerge(b, Seq(a), k) else b :+ a

  override def merge(a: Seq[(Long, Double)],
      b: Seq[(Long, Double)]): Seq[(Long, Double)] = Sketches.quantileMerge(a, b, k)

  override def finish(r: Seq[(Long, Double)]): Seq[Double] =
    Sketches.quantileMerge(r, Nil, k).map(_._2).sorted

  override def bufferEncoder: Encoder[Seq[(Long, Double)]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[(Long, Double)]]()
  override def outputEncoder: Encoder[Seq[Double]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Double]]()
}

object StreamingSketches {

  /** Column form: `quantileSample(k)(hashCol, valueCol)` — the 60-bit
    * hash comes from [[Sketches.kmvHash]] on the caller's stable row
    * key, keeping stream and batch samples identical by construction.
    *
    * Null contract: the caller filters `valueCol IS NOT NULL` before
    * the agg — the same pre-sample drop [[Sketches.quantileSketch]]
    * applies internally — so stream ≡ batch holds on nullable data
    * (StreamingSketchesSpec pins it). An unfiltered null fails LOUDLY
    * here (non-nullable input encoder), never as a silent skew. */
  def quantileSample(k: Int): org.apache.spark.sql.expressions
      .UserDefinedFunction =
    udaf(new QuantileSketchAgg(k), Encoders.product[(Long, Double)])

  /** Nearest-rank estimate over the emitted sorted sample. */
  def estimate(sample: Column, q: Double): Column =
    Sketches.nearestRank(sample, org.apache.spark.sql.functions.size(sample), q)
}
