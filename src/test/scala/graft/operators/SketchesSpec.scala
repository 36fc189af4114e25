package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.Tables
import graft.functions.TextFunctions.tokens

class SketchesSpec extends SparkSpec {
  import spark.implicits._

  private lazy val toks =
    Tables.documents(spark, sf001).select(explode(tokens(col("text"))).as("token"))

  test("count-min sketch is bounded to depth·width cells, all positive") {
    val cells = Sketches.countMin(toks, col("token"), depth = 3, width = 64, seed = "t")
      .collect()
    assert(cells.length <= 3 * 64)
    assert(cells.forall(_.getAs[Long]("cnt") > 0))
    val hs = cells.map(_.getAs[Int]("h")).toSet
    assert(hs == Set(0, 1, 2))
  }

  test("count-min never underestimates, and is exact when width ≫ items") {
    val exact = toks.groupBy("token").agg(count(lit(1)).as("true_cnt"))
    val sketch = Sketches.countMin(toks, col("token"), depth = 3, width = 1024, seed = "t")
    val est = Sketches.cmEstimate(exact, col("token"), sketch, 3, 1024, "t")
      .select("token", "true_cnt", "est")
      .as[(String, Long, Long)].collect()
    assert(est.nonEmpty)
    // the defining CM invariant: collisions only ADD
    est.foreach { case (tok, t, e) =>
      assert(e >= t, s"count-min underestimated '$tok': est $e < true $t")
    }
    // with few distinct tokens vs 3×1024 cells, most estimates are exact
    val exactShare = est.count { case (_, t, e) => e == t }.toDouble / est.length
    assert(exactShare >= 0.5, f"only $exactShare%.2f of estimates exact at sparse fill")
  }

  test("cmEstimate answers 0 for an item the sketch never saw") {
    val sketch = Sketches.countMin(toks, col("token"), 3, 1024, "t")
    val unseen = Seq("⟂never-in-corpus⟂").toDF("token")
    val est = Sketches.cmEstimate(unseen, col("token"), sketch, 3, 1024, "t")
      .select("token", "est").as[(String, Long)].collect()
    // with 3×1024 cells and a sparse fill, at least one of the 3 probe
    // cells is empty → min(coalesce(cnt,0)) = 0; the row must NOT vanish
    assert(est.length === 1)
    assert(est.head._2 === 0L)
  }

  test("cmEstimate rejects candidates using reserved column names") {
    val sketch = Sketches.countMin(toks, col("token"), 2, 64, "t")
    val bad = Seq(("x", 1L)).toDF("token", "cnt")
    assertThrows[IllegalArgumentException] {
      Sketches.cmEstimate(bad, col("token"), sketch, 2, 64, "t")
    }
  }

  test("sketches merge by cell-wise addition") {
    val whole = Sketches.countMin(toks, col("token"), 2, 64, "m")
    val half1 = Sketches.countMin(toks.filter(length(col("token")) % 2 === 0), col("token"), 2, 64, "m")
    val half2 = Sketches.countMin(toks.filter(length(col("token")) % 2 =!= 0), col("token"), 2, 64, "m")
    val merged = half1.unionByName(half2)
      .groupBy("h", "bucket").agg(sum("cnt").as("cnt"))
    val w = whole.as[(Int, Long, Long)].collect().toSet
    val m = merged.as[(Int, Long, Long)].collect().toSet
    assert(m == w, "cell-wise merge of disjoint partitions differs from the whole-stream sketch")
  }

  test("KMV estimate lands near the truth and small groups are exact") {
    val df = (1L to 5000L).map(i => (if (i % 10 == 0) "big" else "small", i))
      .toDF("g", "k")
    // 'big': 500 distinct; 'small': 4500 distinct — both >> k = 64
    val sk = Sketches.kmvSketch(df, "g", col("k"), 64, "s")
      .as[(String, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(sk("big")._2 == 64 && sk("small")._2 == 64)
    assert(math.abs(sk("big")._4.toDouble / 500.0 - 1.0) < 0.4, sk("big").toString)
    assert(math.abs(sk("small")._4.toDouble / 4500.0 - 1.0) < 0.4, sk("small").toString)
    // a group with fewer than k distinct keys keeps them ALL: exact count
    val tiny = Sketches.kmvSketch(
      (1L to 20L).map(i => ("t", i % 7)).toDF("g", "k"), "g", col("k"), 64, "s")
      .as[(String, Long, Long, Long)].head()
    assert(tiny._2 == 7)
  }

  test("KMV merges as 'k smallest of the union' (set semantics, order-free)") {
    val all = (1L to 3000L)
    val hashed = all.map(i => (i, s"s$i")).toDF("k", "raw")
      .select(Sketches.kmvHash(col("k"), "mg").as("h"))
      .as[Long].collect().sorted.toSeq
    val aSet = all.filter(_ % 2 == 0).map(i => (i, 0)).toDF("k", "z")
      .select(Sketches.kmvHash(col("k"), "mg").as("h")).as[Long].collect()
      .sorted.take(64).toSeq
    val bSet = all.filter(_ % 3 == 0).map(i => (i, 0)).toDF("k", "z")
      .select(Sketches.kmvHash(col("k"), "mg").as("h")).as[Long].collect()
      .sorted.take(64).toSeq
    val (merged, est) = Sketches.kmvMergeEstimate(aSet, bSet, 64)
    // the union stream's own sketch over the same keys
    val unionKeys = (all.filter(_ % 2 == 0) ++ all.filter(_ % 3 == 0)).distinct
    val direct = unionKeys.map(i => (i, 0)).toDF("k", "z")
      .select(Sketches.kmvHash(col("k"), "mg").as("h")).as[Long].collect()
      .sorted.take(64).toSeq
    assert(merged == direct,
      "merged k-set differs from the union stream's sketch")
    assert(math.abs(est.toDouble / unionKeys.size - 1.0) < 0.4)
    // hashes used above really are the engine's: first value matches
    assert(hashed.take(1).head == all.map(i => (i, 0)).toDF("k", "z")
      .select(Sketches.kmvHash(col("k"), "mg").as("h"))
      .orderBy("h").as[Long].head())
  }

  test("kmvMergeEstimate: empty and below-capacity merges are exact") {
    // empty ∪ empty is a legal merge → (Nil, 0), not NoSuchElementException
    assert(Sketches.kmvMergeEstimate(Nil, Nil, 64) == (Nil, 0L))
    // below capacity the merged set IS the full distinct hash set — the
    // exact count is correct (kmvSketch's small-group convention), not
    // the (k-1)·2^60/kth estimator which wildly overshoots tiny kth
    val (m1, e1) = Sketches.kmvMergeEstimate(Seq(10L, 20L), Seq(20L, 30L), 64)
    assert(m1 == Seq(10L, 20L, 30L) && e1 == 3L)
    val (m2, e2) = Sketches.kmvMergeEstimate(Nil, Seq(5L), 64)
    assert(m2 == Seq(5L) && e2 == 1L)
    // at capacity the estimator applies (k smallest survive)
    val (m3, e3) = Sketches.kmvMergeEstimate(Seq(1L, 2L), Seq(3L, 4L), 3)
    assert(m3 == Seq(1L, 2L, 3L) &&
      e3 == math.round(2.0 * Sketches.KmvSpace / 3.0))
  }

  test("quantileSketch: small groups are exact, rank error bounded at k") {
    import spark.implicits._
    // group "s": 40 rows < k → sampled whole → nearest-rank EXACT
    // group "b": 5000 rows of value = id → known true quantiles
    val df = spark.range(5040).select(
      when(col("id") < 40, lit("s")).otherwise(lit("b")).as("g"),
      col("id").as("k"),
      when(col("id") < 40, col("id")).otherwise(col("id") - 40).as("v"))
    val sk = Sketches.quantileSketch(df, "g", col("k"), col("v"), 256, "t",
      Seq(0.25, 0.5, 0.9))
      .collect().map(r => r.getString(0) -> r).toMap
    val s = sk("s")
    assert(s.getLong(1) == 40)
    // nearest-rank over 0..39: ceil(q*40) gives indices 10, 20, 36
    assert(s.getDouble(2) == 9.0 && s.getDouble(3) == 19.0 && s.getDouble(4) == 35.0)
    val b = sk("b")
    assert(b.getLong(1) == 256)
    // rank error of a 256-row uniform sample: |est/5000 - q| well under
    // 3σ ≈ 0.094; the hash is fixed so this is a deterministic pin
    Seq(0.25 -> b.getDouble(2), 0.5 -> b.getDouble(3), 0.9 -> b.getDouble(4))
      .foreach { case (q, est) =>
        assert(math.abs(est / 5000.0 - q) < 0.094, s"q=$q est=$est")
      }
  }

  test("kmvIntersectEstimate: exact below capacity, near-truth above") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    def hashes(keys: Seq[Long], seed: String): Seq[Long] =
      keys.map(i => (i, 0)).toDF("k", "z")
        .select(Sketches.kmvHash(col("k"), seed).as("h")).as[Long].collect().toSeq
    // below capacity: sketches hold every hash → exact jaccard and count
    val aSmall = hashes(1L to 30L, "ix").sorted
    val bSmall = hashes(16L to 45L, "ix").sorted // overlap 16..30 = 15
    val (jS, nS) = Sketches.kmvIntersectEstimate(aSmall, bSmall, 64)
    assert(nS == 15L, s"exact intersection expected, got $nS")
    assert(math.abs(jS - 15.0 / 45.0) < 1e-12)
    // disjoint sets → 0
    assert(Sketches.kmvIntersectEstimate(
      hashes(1L to 20L, "ix"), hashes(100L to 120L, "ix"), 64) == (0.0, 0L))
    // above capacity: |A|=3000, |B|=3000, overlap 1500 (true J = 1/3,
    // union 4500); a k=256 sketch lands within 35% relative error
    val aBig = hashes(1L to 3000L, "ix").sorted.take(256)
    val bBig = hashes(1501L to 4500L, "ix").sorted.take(256)
    val (jB, nB) = Sketches.kmvIntersectEstimate(aBig, bBig, 256)
    assert(math.abs(jB - 1.0 / 3.0) / (1.0 / 3.0) < 0.35, s"jaccard $jB")
    assert(math.abs(nB - 1500.0) / 1500.0 < 0.35, s"intersection $nB")
  }

  test("quantileSketch merge: k smallest of union ≡ sketch of concatenation") {
    import spark.implicits._
    // derive hashes once via the engine, then merge driver-side
    val hs = spark.range(200).select(col("id"),
      Sketches.kmvHash(col("id"), "m").as("h")).as[(Long, Long)]
      .collect().map { case (i, h) => (h, i.toDouble) }.toSeq
    val (a, b) = hs.splitAt(120)
    val k = 32
    val merged = Sketches.quantileMerge(a, b, k)
    val whole = hs.sortBy(identity).take(k)
    assert(merged == whole, "merge != sketch of concatenation")
    // associativity over DISJOINT shards (the only shape partial
    // aggregation / micro-batch state merging produce): any merge tree
    // over a 3-way split equals the whole-input sketch
    val (b1, c1) = b.splitAt(40)
    val leftFold = Sketches.quantileMerge(Sketches.quantileMerge(a, b1, k), c1, k)
    val rightFold = Sketches.quantileMerge(a, Sketches.quantileMerge(b1, c1, k), k)
    assert(leftFold == rightFold && leftFold == whole)
    // MULTISET semantics: duplicate (hash, value) pairs are separate
    // rows — the batch sketch's row_number counts both, so merge must
    // keep both (a .distinct here once silently dropped them)
    val dup = hs.take(1)
    val withDup = Sketches.quantileMerge(dup, dup, k)
    assert(withDup == (dup ++ dup), "duplicate rows must survive the merge")
    // estimator agrees with the in-plan nearest-rank selection
    val est = Sketches.quantileEstimate(merged, 0.5)
    val vs = merged.map(_._2).sorted
    assert(est == vs(math.ceil(0.5 * k).toInt - 1))
  }
}
