package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSpec

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the  quick brown fox jumps over the lazy  dog"), // ws variant of 1
    (3L, "quick brown fox jumps over the lazy dog"),       // near-dup of 1
    (4L, "completely different content about spark plans and shuffles here"),
    (5L, "an unrelated tiny doc")
  ).toDF("doc_id", "text")

  test("exactGroups finds only the whitespace-normalized duplicate group") {
    val g = Dedup.exactGroups(docs, $"text", $"doc_id").collect()
    assert(g.length == 1)
    assert(g.head.getAs[Long]("rep_id") == 1L)
    assert(g.head.getAs[Long]("n_dups") == 2L)
  }

  test("minhashBands emits numBands rows per eligible doc and drops short docs") {
    val b = Dedup.minhashBands(docs, $"text", $"doc_id", shingleN = 5, numBands = 4)
    val perDoc = b.groupBy("id").count().as[(Long, Long)].collect().toMap
    assert(perDoc.values.forall(_ == 4))
    assert(!perDoc.contains(5L)) // 4 words < shingleN
  }

  test("minhashBands generic path (rowsPerBand != 2): structure + bound tokenizer") {
    val b = Dedup.minhashBands(docs, $"text", $"doc_id",
      shingleN = 5, numBands = 4, rowsPerBand = 3)
    val perDoc = b.groupBy("id").count().as[(Long, Long)].collect().toMap
    assert(perDoc.values.forall(_ == 4))
    assert(!perDoc.contains(5L)) // 4 words < shingleN
    // deterministic: the md5-packed wide-band hashes are pure functions
    val again = Dedup.minhashBands(docs, $"text", $"doc_id",
      shingleN = 5, numBands = 4, rowsPerBand = 3)
    assert(b.exceptAll(again).isEmpty && again.exceptAll(b).isEmpty)
    // regression pin for the per-element duplication trap (SOAK r11): the
    // tokenizer must stay BOUND — at most 2 `split` sites in the optimized
    // plan (the pushed size-predicate plus the bound projection); unbound,
    // it fans into the per-shingle lambda and every band copy
    val plan = b.queryExecution.optimizedPlan.toString
    val splits = "split\\(".r.findAllIn(plan).size
    assert(splits <= 2, s"tokenizer duplicated $splits times:\n$plan")
  }

  test("lshCandidatePairs recovers the near-dup pair, ordered id_a < id_b") {
    val bands = Dedup.minhashBands(docs, $"text", $"doc_id")
    val pairs = Dedup.lshCandidatePairs(bands).as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 3L)) || pairs.contains((2L, 3L)),
      s"expected near-dup candidate, got $pairs")
    assert(pairs.forall { case (a, b) => a < b })
    assert(!pairs.exists { case (a, b) => Set(a, b).contains(4L) })
  }

  test("jaccardPairs computes exact n-gram jaccard on candidates") {
    val pairs = Seq((1L, 3L)).toDF("id_a", "id_b")
    val j = Dedup.jaccardPairs(docs, $"text", $"doc_id", pairs).collect().head
    // doc1 has 7 distinct 3-shingles, doc3 has 6, all of doc3's are in doc1
    assert(j.getAs[Long]("n_inter") == 6L)
    assert(j.getAs[Long]("n_a") == 7L)
    assert(j.getAs[Long]("n_b") == 6L)
    assert(math.abs(j.getAs[Double]("jaccard") - 6.0 / 7.0) < 1e-12)
  }

  test("jaccardPairs drops pairs where both docs have zero shingles") {
    val tiny = Seq((1L, "a b"), (2L, "c"), (3L, "one two three four five"))
      .toDF("doc_id", "text") // docs 1,2 are shorter than shingleN=3 words
    val pairs = Seq((1L, 2L), (1L, 3L)).toDF("id_a", "id_b")
    val j = Dedup.jaccardPairs(tiny, $"text", $"doc_id", pairs)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // (1,2) is 0/0 — undefined jaccard, must not surface as a null row
    assert(j === Set((1L, 3L)))
  }

  test("decontaminate flags only docs sharing a full n-gram with the benchmark") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"), // contains the bench 4-gram twice-overlapping window
      (2L, "beta gamma delta epsilon something else entirely"),
      (3L, "no overlap here at all whatsoever today"),
      (4L, "alpha beta gamma nope")) // only a 3-word prefix — not a full 4-gram
      .toDF("doc_id", "text")
    val bench = Seq((100L, "beta gamma delta epsilon")).toDF("bench_id", "btext")
    val rows = Dedup.decontaminate(corpus, $"text", $"doc_id",
        bench, $"btext", $"bench_id", shingleN = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(rows === Set((1L, 1L, 1L), (2L, 1L, 1L)))
  }

  test("decontaminateBloom is row-identical to the exact form (verify absorbs fpp)") {
    val corpus = spark.read.parquet(s"$sf001/documents.parquet")
      .select($"doc_id", $"text")
    val bench = corpus.filter($"doc_id" % 50 === 0)
      .select(($"doc_id" + 900000).as("bench_id"),
        concat_ws(" ", slice(graft.functions.TextFunctions.tokens($"text"), 6, 20)).as("btext"))
    val exact = Dedup.decontaminate(corpus, $"text", $"doc_id",
        bench, $"btext", $"bench_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val bloom = Dedup.decontaminateBloom(corpus, $"text", $"doc_id",
        bench, $"btext", $"bench_id", expectedGrams = 100000L, fpp = 0.01)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(bloom === exact)
    assert(exact.nonEmpty)
  }

  test("connectedComponents: chains collapse to the min id") {
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L), (9L, 3L)).toDF("id_a", "id_b")
    val comps = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(comps == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 9L -> 1L, 5L -> 5L, 6L -> 5L))
  }

  test("connectedComponents with a reliable checkpoint dir matches the default path") {
    // the loop's cuts go through Barrier, so the session conf is the one
    // durable switch
    val dir = java.nio.file.Files.createTempDirectory("graft-ccp")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L), (9L, 3L)).toDF("id_a", "id_b")
    try {
      spark.conf.set(Barrier.ConfKey, dir.toString)
      val comps = Dedup.connectedComponents(pairs)
        .as[(Long, Long)].collect().toMap
      assert(comps == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 9L -> 1L, 5L -> 5L, 6L -> 5L))
      // reliable checkpoint actually wrote to the fault-tolerant path
      val wrote = java.nio.file.Files.walk(dir)
        .filter(java.nio.file.Files.isRegularFile(_)).count()
      assert(wrote > 0, s"expected checkpoint files under $dir")
    } finally {
      spark.conf.unset(Barrier.ConfKey)
      org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
    }
  }

  test("simhash64: identical docs equal, near-dups within small hamming") {
    import org.apache.spark.sql.graft.ColumnBridge.{column, expression}
    val fp = docs.select($"doc_id",
        column(graft.expressions.Simhash64Expr(expression($"text"))))
      .as[(Long, Long)].collect().toMap
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(fp(1L), fp(3L)) <= 20, "near-dup simhash64 too far")
    assert(hamming(fp(1L), fp(4L)) >= hamming(fp(1L), fp(3L)))
  }

  test("simhashPortable matches the portable bit-string spec length") {
    val fp = Dedup.simhashFps(docs, $"text", $"doc_id", bits = 32)
      .as[(Long, String)].collect().toMap
    assert(fp.values.forall(s => s.length == 32 && s.forall(c => c == '0' || c == '1')))
  }

  test("simhash banded candidates: total recall at hamming ≤ bands-1 (pigeonhole)") {
    val corpus = spark.read.parquet(s"$sf001/documents.parquet")
      .select($"doc_id", $"text")
    val banded = Dedup.simhashCandidatePairs(corpus, $"text", $"doc_id", bits = 64, bands = 4)
      .filter($"hamming" <= 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // brute force: every pair's exact hamming over the same fingerprints
    // (simhashFps, the SimhashBitsExpr kernel the banded join reads)
    val fp = Dedup.simhashFps(corpus, $"text", $"doc_id", bits = 64)
      .as[(Long, String)].collect()
    def hamming(a: String, b: String) = a.zip(b).count(p => p._1 != p._2)
    val brute = (for {
      (ia, fa) <- fp; (ib, fb) <- fp
      if ia < ib && hamming(fa, fb) <= 3
    } yield (ia, ib)).toSet
    assert(banded === brute,
      s"banded candidates missed ${brute.diff(banded).size} / invented ${banded.diff(brute).size} pairs")
  }

  test("ivf range search recalls ≥90% of the exact near-dup pairs") {
    // q26/q26b shapes at sf0.001: the bucketed search must find nearly all
    // pairs the quadratic exact scan finds, and never invent one.
    val exact = graft.SparkEntry.queries("q26_embed_neardup")(spark, sf001)
      .select("probe_id", "vec_id").as[(Long, Long)].collect().toSet
    val bucketed = graft.SparkEntry.queries("q26b_embed_neardup_ivf")(spark, sf001)
      .select("probe_id", "vec_id").as[(Long, Long)].collect().toSet
    assert(bucketed.subsetOf(exact), "bucketed search emitted a pair the exact scan lacks")
    assert(exact.nonEmpty)
    assert(bucketed.size.toDouble / exact.size >= 0.9,
      s"IVF recall ${bucketed.size}/${exact.size} below 0.9")
  }

  test("ivf range search on TRAINED centroids: recall ≥ the seed medoids (q26b variant)") {
    // the q26b configuration with its 40 (label, id%4) seed medoids,
    // improved by 2 Lloyd rounds — centroid training must never cost
    // range-search recall at equal nprobe
    val e = spark.read.parquet(s"$sf001/embeddings.parquet")
      .select($"vec_id", $"label", $"embedding".cast("array<double>").as("e"))
    val seedIds = e.groupBy($"label", pmod($"vec_id", lit(4)))
      .agg(min("vec_id").as("c_id"))
    val seeds = seedIds.join(e, $"c_id" === $"vec_id")
      .select($"c_id", $"e".as("c"))
    val corpus = e.select($"vec_id".as("id"), $"e")
    val probes = e.select(($"vec_id" + 100000).as("probe_id"),
      concat(array(element_at($"e", 1) * 2.0), slice($"e", 2, 63)).as("p"))
    val exact = graft.SparkEntry.queries("q26_embed_neardup")(spark, sf001)
      .select("probe_id", "vec_id").as[(Long, Long)].collect().toSet
    def recall(cent: org.apache.spark.sql.DataFrame): Double = {
      val got = Similarity.ivfRangeSearch(corpus, cent, probes, minCos = 0.8, nprobe = 2)
        .select("probe_id", "id").as[(Long, Long)].collect().toSet
      assert(got.subsetOf(exact), "range search emitted a pair the exact scan lacks")
      got.size.toDouble / exact.size
    }
    val seedRecall = recall(seeds)
    val trainedRecall = recall(Similarity.kmeansTrain(corpus, seeds, iters = 2))
    info(f"range-search recall nprobe=2: seeds $seedRecall%.3f trained $trainedRecall%.3f")
    assert(trainedRecall >= seedRecall,
      f"training regressed range-search recall: $trainedRecall%.3f < $seedRecall%.3f")
    assert(trainedRecall >= 0.9, f"trained recall $trainedRecall%.3f below 0.9")
  }

  test("semanticDedup with TRAINED centroids: cluster pruning vs exact all-pairs") {
    // the full SemDeDup composition against ground truth: exact all-pairs
    // cos>=0.8 + exact connected components, computed locally at sf0.001.
    val e = spark.read.parquet(s"$sf001/embeddings.parquet")
      .select($"vec_id", $"label", $"embedding".cast("array<double>").as("e"))
    val corpus = e.select($"vec_id".as("id"), $"e")
      .unionByName(e.select(($"vec_id" + 100000).as("id"),
        concat(array(element_at($"e", 1) * 2.0), slice($"e", 2, 63)).as("e")))
    val seedIds = e.groupBy($"label", pmod($"vec_id", lit(4)))
      .agg(min("vec_id").as("c_id"))
    val seeds = seedIds.join(e, $"c_id" === $"vec_id").select($"c_id", $"e".as("c"))
    val vecs = corpus.as[(Long, Seq[Double])].collect().toMap
      .view.mapValues { v =>
        val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n).toArray
      }.toMap
    val ids = vecs.keys.toArray.sorted
    // exact ground truth: union-find over all-pairs cos >= 0.8
    val parent = scala.collection.mutable.Map.from(ids.map(i => i -> i))
    def find(i: Long): Long = { var r = i; while (parent(r) != r) r = parent(r); r }
    for (a <- ids.indices; b <- (a + 1) until ids.length) {
      val (ia, ib) = (ids(a), ids(b))
      val cos = vecs(ia).zip(vecs(ib)).map { case (x, y) => x * y }.sum
      if (cos >= 0.8) {
        val (ra, rb) = (find(ia), find(ib))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
    }
    val exactSurvivors = ids.filter(i => find(i) == i).toSet
    val trained = Similarity.kmeansTrain(corpus, seeds, iters = 2)
    val got = Dedup.semanticDedup(corpus, trained, minCos = 0.8)
      .select("id").as[Long].collect().toSet
    // cluster pruning can only MISS pairs (split a true cluster), so the
    // approximate dedup keeps a superset of the exact representatives
    assert(exactSurvivors.subsetOf(got),
      s"semanticDedup dropped ${exactSurvivors.diff(got).size} true representatives")
    val excess = got.size - exactSurvivors.size
    info(s"survivors: exact ${exactSurvivors.size}, semanticDedup ${got.size} (+$excess)")
    assert(got.size <= (exactSurvivors.size * 1.1).toInt + 5,
      s"cluster pruning left ${got.size} survivors vs exact ${exactSurvivors.size} — recall collapsed")
  }

  test("duplicateSpans reconstructs maximal duplicated regions (Lee et al. form)") {
    import org.apache.spark.sql.functions.col
    // a 20-token duplicated block shared by docs 1 and 2, embedded at
    // different offsets, plus unique surroundings; L=5
    val block = (0 until 20).map(i => s"dup$i").mkString(" ")
    def uniq(tag: String, n: Int) = (0 until n).map(i => s"$tag$i").mkString(" ")
    val docs = Seq(
      (1L, s"${uniq("a", 3)} $block ${uniq("b", 4)}"),
      (2L, s"${uniq("c", 7)} $block"),
      (3L, uniq("d", 30))).toDF("doc_id", "text")
    val got = Dedup.duplicateSpans(docs, col("text"), col("doc_id"), spanTokens = 5)
      .orderBy("doc_id", "span_start")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // a 20-token duplicated block = 16 duplicated 5-grams starting at the
    // block offset; the island merge must return EXACTLY [off, off+20)
    assert(got.toSeq == Seq((1L, 3L, 23L, 16L), (2L, 7L, 27L, 16L)),
      s"got ${got.toSeq}")
    // an intra-document repeat also counts (minOccur is corpus-wide):
    // the same 6 tokens twice in one doc → both occurrences flagged,
    // separated by a >L gap of unique tokens → TWO islands, not one
    val rep = (0 until 6).map(i => s"r$i").mkString(" ")
    val one = Seq((9L, s"$rep ${uniq("z", 9)} $rep")).toDF("doc_id", "text")
    val got2 = Dedup.duplicateSpans(one, col("text"), col("doc_id"), spanTokens = 5)
      .orderBy("span_start")
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(got2.toSeq == Seq((0L, 6L), (15L, 21L)), s"got ${got2.toSeq}")
  }

  test("incrementalExactDedup: keep-first within batch, then anti vs index") {
    val index = Seq((100L, "already indexed doc")).toDF("doc_id", "text")
      .select(graft.functions.TextFunctions.fingerprint(col("text")).as("fp"))
    val batch = Seq(
      (1L, "already  indexed doc"),   // ws re-crawl of an indexed doc: dies
      (2L, "brand new doc"),          // survives
      (3L, "brand  new doc"),         // within-batch dup of 2: dies (2 first)
      (4L, "another new doc"))        // survives
      .toDF("doc_id", "text")
    val got = Dedup.incrementalExactDedup(index, batch, col("text"), col("doc_id"))
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(got == Seq(2L, 4L), s"got $got")
  }
}
