package graft.expressions

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge.{column, expression}
import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType, StructField, StructType}

/** The literal-codebook argmax kernel behind the Lloyd rounds / PQ
  * encode (round-16 optimization): must reproduce the relational
  * `max(struct(dot − ½·c·c, −c_id))` form bit-for-bit — same scores,
  * same ties-to-smaller-index, same NaN-greatest double ordering — or
  * every training oracle in the suite drifts. */
class NearestCentroidSpec extends SparkSpec {

  private def dotL(a: Seq[Double], b: Seq[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  /** Reference pick: the column form the kernel replaced. */
  private def structMaxPick(x: Seq[Double], cents: Seq[Seq[Double]],
                            offset: Int): Int = {
    val scored = cents.zipWithIndex.map { case (c, i) =>
      val xs = x.slice(offset, offset + c.length)
      (dotL(xs, c) - 0.5 * dotL(c, c), i)
    }
    // Spark struct-max double ordering: NaN greatest, -0.0 == 0.0;
    // ties to the smaller index (bigger -index)
    scored.reduceLeft { (best, cur) =>
      val cmp =
        if (java.lang.Double.isNaN(cur._1))
          if (java.lang.Double.isNaN(best._1)) 0 else 1
        else if (java.lang.Double.isNaN(best._1)) -1
        else java.lang.Double.compare(cur._1, best._1) match {
          // -0.0 vs 0.0 compare equal in Spark's ordering
          case c if cur._1 == best._1 => 0
          case c => c
        }
      if (cmp > 0) cur else best
    }._2
  }

  private def run(rows: Seq[Seq[Double]], cents: Seq[Seq[Double]],
                  offset: Int): Seq[Int] = {
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("e", ArrayType(DoubleType))))
    val df = spark.createDataFrame(
      java.util.Arrays.asList(
        rows.zipWithIndex.map { case (e, i) => Row(i.toLong, e) }: _*),
      schema)
    val idx = column(NearestCentroidIndexExpr(expression(col("e")), cents, offset))
    df.orderBy("id").select(idx).collect().map(_.getInt(0)).toSeq
  }

  test("matches the struct-max column form on deterministic data, incl ties") {
    val cents = Seq(
      Seq(1.0, 0.0, 0.0, 0.0),
      Seq(0.0, 1.0, 0.0, 0.0),
      Seq(1.0, 0.0, 0.0, 0.0), // duplicate of cent 0: exact tie -> index 0
      Seq(0.5, 0.5, 0.0, 0.0))
    val rows = Seq(
      Seq(1.0, 0.0, 0.0, 0.0),   // ties cents 0 and 2 -> 0
      Seq(0.0, 2.0, 0.0, 0.0),   // cent 1
      Seq(0.6, 0.6, 0.0, 0.0),   // cent 3 wins (0.6+0.6-0.25 > 0.6-0.5)
      Seq(0.0, 0.0, 0.0, 0.0))   // all scores = -0.5*cc: max is the
                                 // smallest-norm centroid, ties smaller idx
    val got = run(rows, cents, 0)
    val want = rows.map(structMaxPick(_, cents, 0))
    assert(got == want)
    assert(got.head == 0) // the duplicate-centroid tie went to index 0
  }

  test("offset slices the parent vector exactly like slice()") {
    val cents = Seq(Seq(1.0, 2.0), Seq(2.0, 1.0))
    val rows = Seq(
      Seq(9.0, 9.0, 1.0, 2.0, 9.0, 9.0),
      Seq(9.0, 9.0, 2.0, 1.0, 9.0, 9.0))
    val got = run(rows, cents, 2)
    val want = rows.map(structMaxPick(_, cents, 2))
    assert(got == want && got == Seq(0, 1))
  }

  test("NaN scores follow Spark's NaN-greatest struct ordering") {
    // a NaN component makes that centroid's score NaN; the struct-max
    // form picks the NaN entry (NaN > any double), ties to smaller idx
    val cents = Seq(
      Seq(1.0, 0.0),
      Seq(Double.NaN, 0.0),
      Seq(Double.NaN, 1.0))
    val rows = Seq(Seq(5.0, 5.0))
    val got = run(rows, cents, 0)
    val want = rows.map(structMaxPick(_, cents, 0))
    assert(got == want && got == Seq(1))
  }

  test("short input vector fails loudly in both eval paths") {
    val cents = Seq(Seq(1.0, 0.0, 0.0), Seq(0.0, 1.0, 0.0))
    // interpreted: numElements() < offset + width must raise, not read
    // out-of-bounds memory (UnsafeArrayData.getDouble is unchecked)
    val expr = NearestCentroidIndexExpr(expression(col("e")), cents, 2)
    val ex = intercept[IllegalArgumentException] {
      expr.nullSafeEval(
        org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
          Array(1.0, 2.0, 3.0))) // needs >= 2 + 3 = 5 elements
    }
    assert(ex.getMessage.contains("needs >= 5"))
    // codegen: same guard compiled in (the task fails, Spark wraps it)
    val thrown = intercept[Throwable] { run(Seq(Seq(1.0, 2.0, 3.0)), cents, 2) }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(thrown).exists(c =>
      c.isInstanceOf[IllegalArgumentException] &&
        c.getMessage.contains("needs >= 5")))
    // exactly at the bound: fine
    assert(run(Seq(Seq(9.0, 9.0, 1.0, 0.0, 0.0)), cents, 2) == Seq(0))
  }

  test("an empty codebook is a named error, not an opaque empty.max") {
    val ex = intercept[IllegalArgumentException] {
      NearestCentroidIndexExpr(expression(col("e")), Seq.empty, 0)
    }
    assert(ex.getMessage.contains("nearest_centroid: no centroids"))
  }

  test("interpreted eval agrees with codegen") {
    val cents = (0 until 16).map(i => Seq(i * 0.1, 1.0 - i * 0.05, 0.3, -0.2))
    val rows = (0 until 97).map(i =>
      Seq(math.sin(i * 1.7), math.cos(i * 0.9), (i % 7) * 0.1, -i * 0.01))
    val expr = NearestCentroidIndexExpr(
      expression(col("e")), cents, 0)
    val viaCodegen = run(rows, cents, 0)
    val viaEval = rows.map { e =>
      expr.nullSafeEval(
        org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(e.toArray))
        .asInstanceOf[Int]
    }
    assert(viaCodegen == viaEval)
    assert(viaCodegen == rows.map(structMaxPick(_, cents, 0)))
  }
}
