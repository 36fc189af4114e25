package graft.operators

import graft.SparkSpec

class BucketingSpec extends SparkSpec {

  test("same-bucketed fact-fact join plans with no shuffle exchange") {
    val li = spark.read.parquet(s"$sf001/lineitem.parquet")
      .select("l_orderkey", "l_quantity")
    val o = spark.read.parquet(s"$sf001/orders.parquet")
      .select("o_orderkey", "o_totalprice")
      .withColumnRenamed("o_orderkey", "l_orderkey")
    Bucketing.writeBucketed(li, "li_bucketed", "l_orderkey", 4)
    Bucketing.writeBucketed(o, "o_bucketed", "l_orderkey", 4)
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // disable broadcast so the join strategy is the bucketed SMJ
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("li_bucketed").join(spark.table("o_bucketed"), "l_orderkey")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"bucketed join still shuffles:\n$plan")
      assert(joined.count() == li.count()) // every lineitem matches its order
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS li_bucketed")
      spark.sql("DROP TABLE IF EXISTS o_bucketed")
    }
  }

  test("zOrderKey interleaves bits exactly (reference replay) and clusters quadrants") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val pts = for (x <- 0 until 32; y <- 0 until 32) yield (x.toLong, y.toLong)
    val got = pts.toDF("x", "y")
      .select($"x", $"y", Bucketing.zOrderKey($"x", $"y", 21).as("z"))
      .as[(Long, Long, Long)].collect().map(t => (t._1, t._2) -> t._3).toMap
    def ref(x: Long, y: Long): Long =
      (0 until 21).map(i => (((x >> i) & 1) << (2 * i)) | (((y >> i) & 1) << (2 * i + 1))).sum
    pts.foreach { case (x, y) => assert(got((x, y)) == ref(x, y), s"($x,$y)") }
    // locality: sorting by z visits each 16x16 quadrant contiguously
    val order = pts.sortBy(p => got(p))
    val quadrant = order.map { case (x, y) => (x / 16, y / 16) }
    val transitions = quadrant.zip(quadrant.tail).count { case (a, b) => a != b }
    assert(transitions == 3, s"z-order must visit the 4 quadrants contiguously, got $transitions transitions")
  }

  test("zOrderKey matches the SQL twin's `& 1` bit extraction on NEGATIVE inputs") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // off-contract inputs (callers owe [0, 2^bits)) must still agree
    // with zOrderKeySql's `(x >> i) & 1` — pmod makes each term the bit,
    // where sign-preserving % would emit -1 terms and silently diverge
    val pts = Seq((-1L, 3L), (-7L, -2L), (5L, -9L), (Long.MinValue, 1L))
    val got = pts.toDF("x", "y")
      .select($"x", $"y", Bucketing.zOrderKey($"x", $"y", 8).as("z"))
      .as[(Long, Long, Long)].collect()
    def ref(x: Long, y: Long): Long =
      (0 until 8).map(i => (((x >> i) & 1L) << (2 * i)) | (((y >> i) & 1L) << (2 * i + 1))).sum
    got.foreach { case (x, y, z) => assert(z == ref(x, y), s"($x,$y)") }
  }

  test("zOrderKey rejects out-of-range bit widths") {
    import spark.implicits._
    assertThrows[IllegalArgumentException] {
      Bucketing.zOrderKey(Seq(1L).toDF("a")("a"), Seq(1L).toDF("b")("b"), 32)
    }
  }

  test("zOrderKeyN: reference replay, N=2 == zOrderKey, octant locality") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // N=2 must produce the identical bit layout to the 2-D special case
    val pts2 = for (x <- 0 until 16; y <- 0 until 16) yield (x.toLong, y.toLong)
    val both = pts2.toDF("x", "y")
      .select(Bucketing.zOrderKey($"x", $"y", 8).as("z2"),
        Bucketing.zOrderKeyN(Seq($"x", $"y"), 8).as("zn"))
      .as[(Long, Long)].collect()
    both.foreach { case (z2, zn) => assert(z2 == zn) }
    // 3-D reference replay: bit i of dim d lands at bit i*3+d
    val pts3 = for (x <- 0 until 8; y <- 0 until 8; z <- 0 until 8)
      yield (x.toLong, y.toLong, z.toLong)
    val got = pts3.toDF("x", "y", "z")
      .select($"x", $"y", $"z",
        Bucketing.zOrderKeyN(Seq($"x", $"y", $"z"), 3).as("m"))
      .as[(Long, Long, Long, Long)].collect()
      .map(t => (t._1, t._2, t._3) -> t._4).toMap
    def ref(x: Long, y: Long, z: Long): Long =
      (0 until 3).map(i => (((x >> i) & 1) << (3 * i)) |
        (((y >> i) & 1) << (3 * i + 1)) | (((z >> i) & 1) << (3 * i + 2))).sum
    pts3.foreach { case (x, y, z) => assert(got((x, y, z)) == ref(x, y, z)) }
    // locality: sorting by the key visits each 4x4x4 octant contiguously
    val order = pts3.sortBy(p => got(p))
    val octant = order.map { case (x, y, z) => (x / 4, y / 4, z / 4) }
    val transitions = octant.zip(octant.tail).count { case (a, b) => a != b }
    assert(transitions == 7, s"expected 8 contiguous octants, got $transitions transitions")
    // bit-budget guard: 21 bits x 3 dims = 63 > 62 rejected
    assertThrows[IllegalArgumentException] {
      Bucketing.zOrderKeyN(Seq($"x", $"y", $"z").map(identity), 21)
    }
  }
}
