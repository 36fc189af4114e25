package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType}

/** Index of the nearest LITERAL centroid under the L2 assignment score
  * `x·c − ½·c·c` (argmax ≡ argmin ‖x−c‖², see Similarity.l2Score) — the
  * codegen kernel behind every literal-codebook argmax: k-means / PQ
  * Lloyd rounds (centroids live on the driver between rounds) and PQ
  * encoding. Scores the slice `x[offset, offset + w)` of the input
  * vector against each centroid (PQ subspaces index the parent vector
  * directly — no per-subspace slice materialization) and returns the
  * 0-based index of the best centroid, ties to the SMALLER index.
  *
  * Replaces the `array_max(array(struct(dot − ½cc, −c_id)…))` column
  * form, which allocated one struct per (row, centroid) plus the array —
  * and whose m·kSub unrolled dot terms overflowed Janino's 64 KB fused-
  * method limit at PQ sizes (the pqEncode scaladoc's known ceiling),
  * disabling whole-stage fusion for the scan. This kernel is one tight
  * allocation-free loop, and the 2-D centroid table rides the codegen
  * `references` array, so plans with DIFFERENT trained centroids share
  * one compiled class (Lloyd rounds don't recompile).
  *
  * Float identity with the join/struct forms (the cross-engine oracle
  * arithmetic): the dot accumulates left-to-right like [[DotProduct]];
  * `halfCC` is folded on the driver by the same accumulation order
  * (0.5·x is exact in IEEE — the pqEncode convention); score comparison
  * mirrors Spark's double ordering (NaN greatest, −0.0 == 0.0), so tie
  * and NaN behavior match `max(struct(sc, −c_id))` exactly.
  */
case class NearestCentroidIndexExpr(child: Expression,
                                    cents: Seq[Seq[Double]],
                                    offset: Int)
    extends UnaryExpression {
  require(cents.nonEmpty, "nearest_centroid: no centroids")
  require(offset >= 0)

  private lazy val centArr: Array[Array[Double]] = cents.map(_.toArray).toArray
  private lazy val halfCC: Array[Double] = centArr.map { c =>
    var s = 0.0
    var j = 0
    while (j < c.length) { s += c(j) * c(j); j += 1 }
    0.5 * s
  }

  // x.getDouble on UnsafeArrayData is an UNCHECKED Platform read: a
  // vector shorter than offset + width would silently read out-of-bounds
  // memory and return an arbitrary index. Fail loudly instead (the old
  // slice()+dot form truncated, which silently mis-assigned short rows —
  // a malformed vector is corrupt input either way, and an error is the
  // one surface a 100 TB run can act on).
  private lazy val requiredLen: Int = offset + cents.map(_.length).max

  private def boundsError(n: Int): Nothing = throw new IllegalArgumentException(
    s"nearest_centroid: input vector has $n elements, needs >= $requiredLen " +
      s"(offset=$offset + centroid width ${requiredLen - offset})")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"nearest_centroid expects array<double>, got ${other.simpleString}")
  }

  override def dataType: DataType = IntegerType

  override def prettyName: String = "nearest_centroid"

  // keeps Spark's double ordering: NaN beats everything except an
  // earlier NaN; equal scores (incl. -0.0 vs 0.0) keep the earlier
  // (smaller) index — exactly max(struct(sc, -c_id))
  override def nullSafeEval(input: Any): Any = {
    val x = input.asInstanceOf[ArrayData]
    if (x.numElements() < requiredLen) boundsError(x.numElements())
    var bestIdx = 0
    var bestSc = Double.NegativeInfinity
    var ci = 0
    while (ci < centArr.length) {
      val c = centArr(ci)
      var s = 0.0
      var j = 0
      while (j < c.length) { s += x.getDouble(offset + j) * c(j); j += 1 }
      val sc = s - halfCC(ci)
      val gt =
        if (java.lang.Double.isNaN(sc)) !java.lang.Double.isNaN(bestSc)
        else sc > bestSc
      if (gt) { bestIdx = ci; bestSc = sc }
      ci += 1
    }
    bestIdx
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x => {
      val cRef = ctx.addReferenceObj("cents", centArr, "double[][]")
      val hRef = ctx.addReferenceObj("halfcc", halfCC, "double[]")
      val ci = ctx.freshName("ci")
      val j = ctx.freshName("j")
      val s = ctx.freshName("s")
      val sc = ctx.freshName("sc")
      val c = ctx.freshName("c")
      val bestIdx = ctx.freshName("bestIdx")
      val bestSc = ctx.freshName("bestSc")
      val gt = ctx.freshName("gt")
      s"""
         |if ($x.numElements() < $requiredLen) {
         |  throw new IllegalArgumentException(
         |    "nearest_centroid: input vector has " + $x.numElements() +
         |    " elements, needs >= $requiredLen (offset=$offset + centroid" +
         |    " width ${requiredLen - offset})");
         |}
         |int $bestIdx = 0;
         |double $bestSc = Double.NEGATIVE_INFINITY;
         |for (int $ci = 0; $ci < $cRef.length; $ci++) {
         |  double[] $c = $cRef[$ci];
         |  double $s = 0.0;
         |  for (int $j = 0; $j < $c.length; $j++) {
         |    $s += $x.getDouble($offset + $j) * $c[$j];
         |  }
         |  double $sc = $s - $hRef[$ci];
         |  boolean $gt = Double.isNaN($sc)
         |    ? !Double.isNaN($bestSc) : ($sc > $bestSc);
         |  if ($gt) { $bestIdx = $ci; $bestSc = $sc; }
         |}
         |${ev.value} = $bestIdx;
       """.stripMargin
    })

  override protected def withNewChildInternal(
      newChild: Expression): NearestCentroidIndexExpr =
    copy(child = newChild)
}
