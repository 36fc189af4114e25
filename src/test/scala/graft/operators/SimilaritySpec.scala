package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  // 2-D toy corpus: two obvious clusters along the axes.
  private val corpus = Seq(
    (1L, Seq(1.0, 0.0)), (2L, Seq(0.9, 0.1)), (3L, Seq(0.8, 0.05)),
    (4L, Seq(0.0, 1.0)), (5L, Seq(0.1, 0.9))
  ).toDF("id", "e")

  private val probes = Seq((100L, Seq(1.0, 0.01))).toDF("probe_id", "p")

  test("bruteForceTopK ranks by cosine with deterministic tie-break") {
    val r = Similarity.bruteForceTopK(corpus, probes, 3)
      .orderBy("rank").as[(Long, Int, Long, Double)].collect()
    assert(r.map(_._3).toSeq == Seq(1L, 3L, 2L))
    assert(r.map(_._2).toSeq == Seq(1, 2, 3))
    assert(r.head._4 > 0.999)
  }

  test("ivfAssign buckets vectors to nearest centroid") {
    val centroids = Seq((0, Seq(1.0, 0.0)), (1, Seq(0.0, 1.0))).toDF("c_id", "c")
    val a = Similarity.ivfAssign(corpus, centroids)
      .select("id", "c_id").as[(Long, Int)].collect().toMap
    assert(a == Map(1L -> 0, 2L -> 0, 3L -> 0, 4L -> 1, 5L -> 1))
  }

  test("ivfTopK with nprobe=1 searches only the probe's cluster") {
    val centroids = Seq((0, Seq(1.0, 0.0)), (1, Seq(0.0, 1.0))).toDF("c_id", "c")
    val r = Similarity.ivfTopK(corpus, centroids, probes, k = 5, nprobe = 1)
      .as[(Long, Int, Long, Double)].collect()
    assert(r.map(_._3).toSet == Set(1L, 2L, 3L)) // axis-y cluster never scanned
  }

  test("recallAtK: per-probe hit ratio; probes the index missed score 0") {
    val exact = Seq(
      (100L, 1, 1L), (100L, 2, 3L), (100L, 3, 2L),
      (200L, 1, 4L), (200L, 2, 5L), (200L, 3, 1L))
      .toDF("probe_id", "rank", "id")
    // probe 100: 2 of 3 right; probe 200: absent from the approx result
    // entirely (its bucket was empty) — must still appear, at recall 0
    val approx = Seq((100L, 1, 1L), (100L, 2, 2L), (100L, 3, 9L))
      .toDF("probe_id", "rank", "id")
    val r = Similarity.recallAtK(approx, exact, 3)
      .orderBy("probe_id").as[(Long, Long, Double)].collect()
    assert(r.toSeq == Seq((100L, 2L, 0.666667), (200L, 0L, 0.0)))
  }

  test("recallAtK raises on an oversized side instead of silently inflating") {
    // exact carries 4 rows for probe 100 with k=3: n_hit could exceed k
    val exact = Seq((100L, 1L), (100L, 2L), (100L, 3L), (100L, 9L))
      .toDF("probe_id", "id")
    val approx = Seq((100L, 1L), (100L, 2L), (100L, 3L)).toDF("probe_id", "id")
    val e = intercept[Exception] {
      Similarity.recallAtK(approx, exact, 3).collect()
    }
    def chain(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ chain(t.getCause)
    assert(chain(e).exists(_.contains("recallAtK")), chain(e).mkString("; "))
    // and the mirrored case: approx oversized turns recall@k into
    // "found anywhere in a larger list" — must raise too
    val e2 = intercept[Exception] {
      Similarity.recallAtK(exact, approx, 3).collect()
    }
    assert(chain(e2).exists(_.contains("recallAtK")), chain(e2).mkString("; "))
    // the top-k contract is checked over the WHOLE approx frame: an
    // oversized probe the exact baseline doesn't carry would slip a
    // per-row check (it drives no output row — the exact side drives
    // the output), but the 1-row global max catches it
    val exactOther = Seq((200L, 1L), (200L, 2L)).toDF("probe_id", "id")
    val e3 = intercept[Exception] {
      Similarity.recallAtK(exact /* 4 rows for probe 100 */, exactOther, 3)
        .collect()
    }
    assert(chain(e3).exists(m => m.contains("recallAtK") &&
      m.contains("not a top-3 frame")), chain(e3).mkString("; "))
  }

  test("ivfTopKIndexed: empty centroids fail loudly; an empty probe batch is a no-op") {
    val centroids = Seq((0, Seq(1.0, 0.0)), (1, Seq(0.0, 1.0))).toDF("c_id", "c")
    Similarity.writeIvfIndex(corpus, centroids, "graft_guard_idx", numBuckets = 2)
    // empty CENTROIDS = input error (every probe would silently return
    // nothing); fires inside the probe-side collect the path already
    // pays, BEFORE the (possibly mistyped) index table is resolved
    val empty = Seq.empty[(Int, Seq[Double])].toDF("c_id", "c")
    val e = intercept[IllegalArgumentException] {
      Similarity.ivfTopKIndexed("graft_no_such_index", empty, probes,
        k = 3, nprobe = 1)
    }
    assert(e.getMessage.contains("empty centroid set"))
    // empty PROBES = a valid no-op (a zero-row daily batch): empty
    // result with the output schema, not an exception
    val noProbes = Seq.empty[(Long, Seq[Double])].toDF("probe_id", "p")
    val r = Similarity.ivfTopKIndexed("graft_guard_idx", centroids, noProbes,
      k = 3, nprobe = 1)
    assert(r.columns.toSeq == Seq("probe_id", "rank", "id", "cos"))
    assert(r.count() == 0L)
  }

  test("recallAtK: set semantics and the min(k, |exact|) denominator") {
    // probe 100: an upstream fan-out join duplicated an exact row — 3
    // rows but only 2 distinct ids. Row-counting would score n_hit=3;
    // the set metric counts 2 hits, and the denominator is the 2
    // distinct exact neighbors (a perfect index over a ground truth
    // smaller than k scores 1.0, not |exact|/k).
    // probe 200: full k=3 exact set, 2 hits -> 2/3 (denominator k).
    val exact = Seq((100L, 1L), (100L, 1L), (100L, 2L),
      (200L, 1L), (200L, 2L), (200L, 3L)).toDF("probe_id", "id")
    val approx = Seq((100L, 1L), (100L, 2L), (100L, 3L),
      (200L, 1L), (200L, 2L), (200L, 9L)).toDF("probe_id", "id")
    val r = Similarity.recallAtK(approx, exact, 3)
      .orderBy("probe_id").as[(Long, Long, Double)].collect().toSeq
    assert(r == Seq((100L, 2L, 1.0), (200L, 2L, 0.666667)), r.toString)
  }

  test("kmeansTrain: one Lloyd round moves each centroid to its cluster mean") {
    val pts = Seq(
      (1L, Seq(1.0, 0.0)), (2L, Seq(1.0, 0.0)), (3L, Seq(0.0, 1.0)), (4L, Seq(0.0, 1.0)))
      .toDF("id", "e")
    // seeds off-center but on the right side of the bisector
    val seeds = Seq((0, Seq(0.9, 0.1)), (1, Seq(0.1, 0.9))).toDF("c_id", "c")
    val trained = Similarity.kmeansTrain(pts, seeds, iters = 1)
      .as[(Int, Seq[Double])].collect().toMap
    assert(trained(0) == Seq(1.0, 0.0)) // mean of two identical unit vectors
    assert(trained(1) == Seq(0.0, 1.0))
  }

  test("kmeansTrain drops clusters that capture no points") {
    val pts = Seq((1L, Seq(1.0, 0.0)), (2L, Seq(0.99, 0.01))).toDF("id", "e")
    val seeds = Seq((0, Seq(1.0, 0.0)), (1, Seq(0.0, 1.0))).toDF("c_id", "c")
    val trained = Similarity.kmeansTrain(pts, seeds, iters = 1)
    assert(trained.select("c_id").as[Int].collect().toSeq == Seq(0))
  }

  test("hyperplane LSH recalls most brute-force neighbors; scores are exact") {
    val e = spark.read.parquet(s"$sf001/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    val corpus = e.select(col("vec_id").as("id"), col("e"))
    val probes = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("probe_id"), col("e").as("p"))
    val truth = Similarity.bruteForceTopK(corpus, probes, 3)
      .select("probe_id", "id").as[(Long, Long)].collect().toSet
    for ((bits, bands) <- Seq((16, 4), (16, 8), (32, 8), (48, 12))) {
      val r = Similarity.lshTopK(corpus, probes, k = 3, dim = 64, bits, bands)
        .select("probe_id", "id").as[(Long, Long)].collect().toSet
        .intersect(truth).size.toDouble / truth.size
      info(f"recall@3 bits=$bits bands=$bands: $r%.3f")
    }
    val lsh = Similarity.lshTopK(corpus, probes, k = 3, dim = 64)
      .select("probe_id", "id", "cos")
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
    val recall = lsh.map(_._1).toSet.intersect(truth).size.toDouble / truth.size
    assert(recall >= 0.9, f"default-config LSH recall $recall%.3f below 0.9")
    // re-ranked scores are EXACT cosines, not approximations
    val exactCos = Similarity.bruteForceTopK(corpus, probes, 500)
      .select("probe_id", "id", "cos")
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    lsh.foreach { case (pair, c) =>
      exactCos.get(pair).foreach(ec => assert(ec == c, s"score drift for $pair")) }
  }

  test("trained centroids reach recall ≥ the seed medoids at equal nprobe") {
    // the q28/q28c configuration on the sf0.01 embeddings table
    val e = spark.read.parquet(s"$sf001/embeddings.parquet")
      .select(col("vec_id"), col("label"), col("embedding").cast("array<double>").as("e"))
    val corpus = e.select(col("vec_id").as("id"), col("e"))
    val probes = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("probe_id"), col("e").as("p"))
    val ws = org.apache.spark.sql.expressions.Window.partitionBy("label").orderBy("vec_id")
    val seeds = e.withColumn("rn", row_number().over(ws)).filter(col("rn") === 1)
      .select(col("label").as("c_id"), col("e").as("c"))

    val truth = Similarity.bruteForceTopK(corpus, probes, 3)
      .select("probe_id", "id").as[(Long, Long)].collect().toSet
    def recall(cent: org.apache.spark.sql.DataFrame): Double = {
      val got = Similarity.ivfTopK(corpus, cent, probes, k = 3, nprobe = 2)
        .select("probe_id", "id").as[(Long, Long)].collect().toSet
      got.intersect(truth).size.toDouble / truth.size
    }
    // the Lloyd objective: mean cosine of each corpus vector to its
    // nearest centroid — Lloyd rounds are monotone in it, so training
    // must never regress it (the recall pin below is the IVF-level
    // consequence at the q28/q28c configuration)
    def objective(cent: org.apache.spark.sql.DataFrame): Double = {
      import graft.functions.VectorFunctions.{dot, unit}
      corpus.select(col("id"), unit(col("e")).as("ue"))
        .join(broadcast(cent.select(unit(col("c")).as("uc"))))
        .groupBy("id").agg(max(dot(col("ue"), col("uc"))).as("best"))
        .agg(avg("best")).head().getDouble(0)
    }
    val trained = Similarity.kmeansTrain(corpus, seeds, iters = 2)
    val (so, to) = (objective(seeds), objective(trained))
    val (sr, tr) = (recall(seeds), recall(trained))
    info(f"objective: seeds $so%.4f → trained $to%.4f; recall@3 nprobe=2: $sr%.3f → $tr%.3f")
    assert(to >= so, f"training regressed the Lloyd objective: $to%.4f < $so%.4f")
    assert(to > so + 1e-4, f"training left the objective unchanged: $to%.4f vs $so%.4f")
    assert(tr >= sr, f"training regressed recall: $tr%.3f < $sr%.3f")
  }

  test("PQ: codes in range, ADC approximates dot, recall vs exact is useful") {
    val sfDir = sf001
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    val corpus = e.select(col("vec_id").as("id"), col("e"))
    val probes = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("probe_id"), col("e").as("p"))
    val bk = Similarity.pqTrain(corpus, m = 16, dim = 64,
      seedIds = 0L until 16L, iters = 2)
    assert(bk.books.length == 16 && bk.books.forall(_.nonEmpty))
    assert(bk.books.flatten.forall(_.length == 4))

    val enc = Similarity.pqEncode(corpus, bk)
    val codeStats = enc.select(explode(col("codes")).as("c"))
      .agg(min("c"), max("c")).as[(Int, Int)].head()
    assert(codeStats._1 >= 0 && codeStats._2 < 16, s"codes out of range: $codeStats")

    // ADC approximates the exact dot product: average absolute error is
    // small relative to the score scale (the quantization residual)
    val exactDots = corpus.join(broadcast(probes))
      .filter(col("id") =!= col("probe_id"))
      .select(col("probe_id"), col("id"),
        graft.functions.VectorFunctions.dot(col("e"), col("p")).as("ex"))
    val adc = Similarity.pqTopK(enc, probes, bk, k = Int.MaxValue >> 1)
      .join(exactDots, Seq("probe_id", "id"))
      .agg(avg(abs(col("adc") - col("ex"))).as("mae"),
        avg(abs(col("ex"))).as("scale")).as[(Double, Double)].head()
    assert(adc._1 < adc._2,
      s"ADC error ${adc._1} not below the mean |dot| scale ${adc._2}")

    // recall@3 vs the exact baseline: PQ with 8x16 codebooks on this
    // corpus must recover a useful share of true neighbors
    // (deterministic: fixed seeds, fixed data)
    val truth = Similarity.bruteForceTopK(corpus, probes, 3)
      .select("probe_id", "id").as[(Long, Long)].collect().toSet
    val got = Similarity.pqTopK(enc, probes, bk, k = 3)
      .select("probe_id", "id").as[(Long, Long)].collect().toSet
    val recall = truth.intersect(got).size.toDouble / truth.size
    info(f"PQ recall@3: $recall%.3f (ADC mae ${adc._1}%.4f / scale ${adc._2}%.4f)")
    assert(recall >= 0.3, f"PQ recall@3 $recall%.3f below floor")

    // IVF-PQ at the q127b configuration (TRAINED coarse quantizer:
    // medoid centroids double the residual ADC error — means shrink it
    // to plain-PQ levels with better rank correlation)
    val ws = org.apache.spark.sql.expressions.Window.partitionBy("label").orderBy("vec_id")
    val coarse = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("label"), col("embedding").cast("array<double>").as("e"))
      .withColumn("rn", row_number().over(ws)).filter(col("rn") === 1)
      .select(col("label").as("c_id"), col("e").as("c"))
    val coarseT = Similarity.kmeansTrainL2(corpus, coarse, iters = 2)
    val ivfpq = Similarity.ivfPqTopK(corpus, coarseT, probes, m = 16, dim = 64,
      seedIds = 0L until 16L, iters = 2, k = 3, nprobe = 2)
      .select("probe_id", "id").as[(Long, Long)].collect().toSet
    val ivfpqRecall = truth.intersect(ivfpq).size.toDouble / truth.size
    info(f"IVF-PQ recall@3 (trained coarse, nprobe=2): $ivfpqRecall%.3f")
    // expectation is the composition product: ~0.62 (IVF exact ceiling
    // at nprobe=2 on this corpus) x ~0.42 (the PQ ranking factor above)
    // = ~0.26; raising nprobe does not move it (the loss is ADC ranking
    // within probed buckets, not pruning). Floor set below the product.
    assert(ivfpqRecall >= 0.2, f"IVF-PQ recall@3 $ivfpqRecall%.3f below floor")
  }

  test("trainers degrade gracefully: null vectors ignored, empty corpus empties out; seeded pqTrain ≡ gathered") {
    import spark.implicits._
    val clean = Seq(
      (0L, Seq(0.0, 0.0, 1.0, 1.0)), (1L, Seq(1.0, 1.0, 0.0, 0.0)),
      (2L, Seq(0.9, 1.1, 0.1, 0.0)), (3L, Seq(0.1, 0.0, 0.9, 1.2)))
    val corpus = clean.toDF("id", "e")
    val withNull = corpus.unionByName(
      Seq((9L, null.asInstanceOf[Seq[Double]])).toDF("id", "e"))
    val seeds = Seq((0, Seq(1.0, 1.0, 0.0, 0.0)), (1, Seq(0.0, 0.0, 1.0, 1.0)))
      .toDF("c_id", "c")
    def cents(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("c_id").collect().map(r => (r.getInt(0), r.getSeq[Double](1))).toSeq
    // a NULL vector contributes no assignment (the old join form's
    // behavior) instead of NPE-ing the driver decode
    assert(cents(Similarity.kmeansTrainL2(withNull, seeds, 2)) ==
      cents(Similarity.kmeansTrainL2(corpus, seeds, 2)))
    val bkNull = Similarity.pqTrain(withNull, m = 2, dim = 4, Seq(0L, 1L), 2)
    val bkClean = Similarity.pqTrain(corpus, m = 2, dim = 4, Seq(0L, 1L), 2)
    assert(bkNull.books == bkClean.books)
    // an EMPTY corpus ends training with empty output (the old join
    // form's degeneration) instead of constructing a zero-centroid kernel
    val empty = corpus.filter(lit(false))
    assert(Similarity.kmeansTrainL2(empty, seeds, 2).isEmpty)
    assert(Similarity.pqTrain(empty, m = 2, dim = 4, Seq(0L, 1L), 2)
      .books.forall(_.isEmpty))
    // pre-gathered seed rows (the ivfPqTopK observe path) train the
    // exact books the gather-based wrapper trains
    val seedRows = clean.filter(p => p._1 == 0L || p._1 == 1L)
    assert(Similarity.pqTrainSeeded(
      corpus, m = 2, dim = 4, Seq(0L, 1L), seedRows, 2).books == bkClean.books)
  }

  test("ivfPqTopK with no seed id in the corpus names the empty codebook, not the kernel") {
    val coarse = Seq((0, Seq(1.0, 0.0)), (1, Seq(0.0, 1.0))).toDF("c_id", "c")
    val ex = intercept[IllegalArgumentException] {
      Similarity.ivfPqTopK(corpus, coarse, probes, m = 2, dim = 2,
        seedIds = Seq(98L, 99L), iters = 1, k = 3, nprobe = 1)
    }
    assert(ex.getMessage.contains("pqEncode: subspace 0 of 2 has an empty codebook"),
      ex.getMessage)
    assert(ex.getMessage.contains("none of the PQ seed ids is in the corpus"),
      ex.getMessage)
  }

  test("property: recallAtK == scan-the-definition reference on random top-k frames (3 seeds)") {
    // the metric q130/q130b gate everything through, fuzzed against a
    // plain-Scala restatement of its contract: per exact-side probe,
    // |distinct approx ∩ distinct exact| / min(k, |distinct exact|);
    // probes only in the approx side stay out; duplicated rows collapse
    import spark.implicits._
    val k = 3
    for (seed <- Seq(7, 1234, 20260815)) {
      val rnd = new scala.util.Random(seed)
      def frame(): Seq[(Long, Long)] =
        (1L to 12L).filter(_ => rnd.nextBoolean()).flatMap { p =>
          val ids = rnd.shuffle((1L to 30L).toList).take(1 + rnd.nextInt(k))
          // inject a duplicate row sometimes (set semantics under test)
          val dup = if (rnd.nextBoolean() && ids.nonEmpty) ids.take(1) else Nil
          (ids ++ dup).map(id => (p, id))
        }
      val exS = frame()
      val apS = frame()
      val got = Similarity.recallAtK(
          apS.toDF("probe_id", "id"), exS.toDF("probe_id", "id"), k)
        .as[(Long, Long, Double)].collect()
        .map(r => r._1 -> (r._2, r._3)).toMap
      val exByP = exS.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      val apByP = apS.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      val want = exByP.map { case (p, ex) =>
        val hit = (ex & apByP.getOrElse(p, Set.empty)).size.toLong
        p -> (hit, BigDecimal(hit.toDouble / math.min(k, ex.size))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }
      assert(got == want, s"seed $seed: $got != $want")
    }
  }

  test("property: rrfFuse == scan-the-definition reference on random ranked legs (3 seeds)") {
    // the hybrid-retrieval combiner q135 gates, fuzzed against a plain
    // restatement: score(id) = Σ_legs 1/(c + rank), top-k by (score
    // desc, id asc) — the decimal-exact sum must make leg order and
    // partitioning irrelevant
    import spark.implicits._
    val (k, c) = (5, 60)
    for (seed <- Seq(11, 4242, 20260816)) {
      val rnd = new scala.util.Random(seed)
      def leg(): Seq[(Long, Int)] =
        rnd.shuffle((1L to 25L).toList).take(3 + rnd.nextInt(10))
          .zipWithIndex.map { case (id, i) => (id, i + 1) }
      val legs = Seq.fill(2 + rnd.nextInt(2))(leg())
      val got = Similarity.rrfFuse(legs.map(_.toDF("id", "rank")), k, c)
        .as[(Int, Long, Double)].collect().toSeq
      val scores = legs.flatten.groupBy(_._1).map { case (id, rows) =>
        // same arithmetic class as the operator: double addends summed
        // exactly (order-free), emitted as double
        id -> rows.map(r => BigDecimal(1.0 / (c + r._2))
          .setScale(12, BigDecimal.RoundingMode.HALF_UP)).sum.toDouble
      }
      val want = scores.toSeq.sortBy { case (id, s) => (-s, id) }.take(k)
        .zipWithIndex.map { case ((id, s), i) => (i + 1, id, s) }
      assert(got == want, s"seed $seed: ${got.toList} != ${want.toList}")
    }
  }

  test("rrfFuse raises on a leg with a duplicated id instead of double-counting") {
    import spark.implicits._
    val clean = Seq((1L, 1), (2L, 2)).toDF("id", "rank")
    val dup = Seq((5L, 1), (5L, 2), (6L, 3)).toDF("id", "rank")
    val e = intercept[Exception] {
      Similarity.rrfFuse(Seq(clean, dup), k = 3).collect()
    }
    assert(e.getMessage.contains("rrfFuse"), s"wrong failure: ${e.getMessage}")
    // and the clean pair still fuses
    assert(Similarity.rrfFuse(Seq(clean, clean), k = 2).count() == 2)
  }

  test("property: rrfFuseByProbe == per-probe rrfFuse, probe by probe (3 seeds)") {
    // batch fusion must equal looping single-query fuses driver-side —
    // the exact replacement contract (a batch caller previously HAD to
    // loop; q135b rides this equivalence)
    import spark.implicits._
    val (k, c) = (4, 60)
    for (seed <- Seq(7, 1234, 20260816)) {
      val rnd = new scala.util.Random(seed)
      val probeIds = (1L to 5L).toSeq
      def leg(): Map[Long, Seq[(Long, Int)]] = probeIds.map { p =>
        p -> rnd.shuffle((1L to 25L).toList).take(3 + rnd.nextInt(8))
          .zipWithIndex.map { case (id, i) => (id, i + 1) }
      }.toMap
      val legA = leg(); val legB = leg()
      def flat(l: Map[Long, Seq[(Long, Int)]]) =
        l.toSeq.flatMap { case (p, rows) => rows.map { case (id, r) => (p, id, r) } }
          .toDF("probe_id", "id", "rank")
      val got = Similarity.rrfFuseByProbe(Seq(flat(legA), flat(legB)), k, c)
        .as[(Long, Int, Long, Double)].collect().toSeq.sorted
      val want = probeIds.flatMap { p =>
        Similarity.rrfFuse(
          Seq(legA(p).toDF("id", "rank"), legB(p).toDF("id", "rank")), k, c)
          .as[(Int, Long, Double)].collect().toSeq
          .map { case (r, id, s) => (p, r, id, s) }
      }.sorted
      assert(got == want, s"seed $seed: batch fuse != per-probe fuses")
    }
  }

  test("weighted rrfFuseByProbe: all-1.0 == unweighted exactly; wRRF == definition; loud weight guards") {
    import spark.implicits._
    val rnd = new scala.util.Random(97)
    val probeIds = (1L to 4L).toSeq
    def leg(): Seq[(Long, Long, Int)] = probeIds.flatMap { p =>
      rnd.shuffle((1L to 20L).toList).take(3 + rnd.nextInt(6))
        .zipWithIndex.map { case (id, i) => (p, id, i + 1) }
    }
    val legs = Seq(leg(), leg(), leg())
    val dfs = legs.map(_.toDF("probe_id", "id", "rank"))
    // the 1.0 addend is float-identical to the unweighted form — the
    // default path and an explicit all-ones weighting cannot diverge
    val unweighted = Similarity.rrfFuseByProbe(dfs, k = 4)
      .as[(Long, Int, Long, Double)].collect().toSet
    val ones = Similarity.rrfFuseByProbe(dfs, k = 4,
      weights = Seq(1.0, 1.0, 1.0))
      .as[(Long, Int, Long, Double)].collect().toSet
    assert(ones == unweighted, "all-1.0 weights diverged from classic RRF")
    // wRRF against a plain restatement: score = Σ_legs w_i/(c + rank),
    // addends divided in double then summed exactly (order-free)
    val ws = Seq(0.25, 1.0, 2.0)
    val got = Similarity.rrfFuseByProbe(dfs, k = 4, weights = ws)
      .as[(Long, Int, Long, Double)].collect().toSet
    val addends = legs.zip(ws).flatMap { case (l, w) =>
      l.map { case (p, id, r) => (p, id, w / (60 + r)) }
    }
    val want = addends.groupBy { case (p, id, _) => (p, id) }.toSeq
      .map { case ((p, id), rows) =>
        (p, id, rows.map(r => BigDecimal(r._3)
          .setScale(12, BigDecimal.RoundingMode.HALF_UP)).sum.toDouble)
      }
      .groupBy(_._1).toSeq.flatMap { case (p, cs) =>
        cs.sortBy { case (_, id, s) => (-s, id) }.take(4)
          .zipWithIndex.map { case ((_, id, s), i) => (p, i + 1, id, s) }
      }.toSet
    assert(got == want, "wRRF diverged from the scan-the-definition reference")
    // guards: count mismatch and non-positive weights reject loudly
    val eN = intercept[IllegalArgumentException] {
      Similarity.rrfFuseByProbe(dfs, k = 4, weights = Seq(1.0))
    }
    assert(eN.getMessage.contains("weight"), eN.getMessage)
    val eZ = intercept[IllegalArgumentException] {
      Similarity.rrfFuseByProbe(dfs, k = 4, weights = Seq(1.0, 0.0, 1.0))
    }
    assert(eZ.getMessage.contains("non-positive"), eZ.getMessage)
  }

  test("rrfFuseByProbe guard is per (leg, probe, id): cross-probe repeats pass, in-probe dups raise") {
    import spark.implicits._
    // the same id ranked by the same leg for two DIFFERENT probes is
    // the normal batch shape — must fuse cleanly
    val crossProbe = Seq((1L, 9L, 1), (2L, 9L, 1), (2L, 8L, 2))
      .toDF("probe_id", "id", "rank")
    val other = Seq((1L, 8L, 1), (2L, 9L, 2))
      .toDF("probe_id", "id", "rank")
    assert(Similarity.rrfFuseByProbe(Seq(crossProbe, other), k = 3).count() == 4)
    // a duplicated (probe, id) WITHIN one leg silently re-weights that
    // leg — must raise, naming the offending quadruple's parts
    val dup = Seq((1L, 9L, 1), (1L, 9L, 2)).toDF("probe_id", "id", "rank")
    val e = intercept[Exception] {
      Similarity.rrfFuseByProbe(Seq(dup, other), k = 3).collect()
    }
    assert(e.getMessage.contains("rrfFuseByProbe"), s"wrong failure: ${e.getMessage}")
  }
}
