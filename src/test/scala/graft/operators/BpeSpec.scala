package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** BPE training and application semantics, hand-verified on the classic
  * tiny corpus: merge order (frequency then lexicographic tie-break),
  * greedy left-to-right fuse-and-skip, and per-doc token budgets. */
class BpeSpec extends SparkSpec {
  import spark.implicits._

  test("learned merge order matches the hand computation") {
    // pre-tokens (GPT-2 semantics, leading space attached):
    //   "low lower low" → "low", " lower", " low"
    //   "newest low"    → "newest", " low"
    // vocab: low:1, " lower":1, " low":2, newest:1
    val docs = Seq((1L, "low lower low"), (2L, "newest low")).toDF("doc_id", "text")
    val merges = Bpe.trainModel(docs, col("text"), 4)._1
    // r1: {l}{o} and {o}{w} both weigh 4 → tie-break ascending picks {l}{o}
    // r2: {lo}{w} weighs 4
    // r3: { }{low} weighs 3
    // r4: all remaining pairs weigh 1 → "{ low}{e}" is binary-smallest
    //     (its second char is the space)
    assert(merges == Seq("{l}{o}", "{lo}{w}", "{ }{low}", "{ low}{e}"))
  }

  test("merge application is greedy left-to-right fuse-and-skip") {
    val docs = Seq((1L, "aaa")).toDF("doc_id", "text")
    val merges = Bpe.trainModel(docs, col("text"), 1)._1
    assert(merges == Seq("{a}{a}"))
    // "aaa" under merge (a,a): fuse positions 0-1, SKIP the fused symbol,
    // leaving ["aa","a"] — never ["aa","aa"] from overlap
    val segs = docs.select(Bpe.segment(col("text"), merges).as("s"))
      .head().getSeq[String](0)
    assert(segs == Seq("aa", "a"))
  }

  test("token budgets shrink monotonically as merges apply") {
    val docs = Seq(
      (1L, "low lower low"), (2L, "newest low"), (3L, "low low low low"))
      .toDF("doc_id", "text")
    val merges = Bpe.trainModel(docs, col("text"), 6)._1
    def budgets(ms: Seq[String]): Map[Long, Long] =
      Bpe.tokenCounts(docs, col("text"), col("doc_id"), ms)
        .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("n_bpe")).toMap
    val none = budgets(Nil)
    // with zero merges every character is a token
    assert(none(1L) == "low lower low".length)
    var prev = none
    (1 to merges.length).foreach { k =>
      val cur = budgets(merges.take(k))
      prev.keys.foreach(id => assert(cur(id) <= prev(id),
        s"budget grew at merge $k for doc $id"))
      prev = cur
    }
    // doc 3 is four copies of the fully-merged word "low" (+3 leading
    // spaces folded into " low"): 4 tokens once {l}{o},{lo}{w},{ }{low} land
    assert(prev(3L) == 4L)
  }

  test("incremental-index trainer matches the full-rescan reference") {
    // a messy pseudo-random corpus exercises tie-breaks, overlapping
    // pairs ("aaa"), cross-word interactions, and vocabulary exhaustion
    val rnd = new scala.util.Random(97)
    val alphabet = "abcde"
    val corpus = (0 until 40).map { i =>
      (i.toLong, Seq.fill(rnd.nextInt(6) + 1)(
        Seq.fill(rnd.nextInt(7) + 1)(
          alphabet(rnd.nextInt(alphabet.length))).mkString).mkString(" "))
    }.toDF("doc_id", "text")
    val k = 60
    val got = Bpe.trainModel(corpus, col("text"), k)._1
    // full-rescan reference: recount every adjacent pair each round —
    // the implementation the incremental index replaced
    val rows = Bpe.vocab(corpus, col("text")).select("w", "freq").collect()
    val words = rows.map(r => (r.getAs[Long]("freq"),
      scala.collection.mutable.ArrayBuffer.from(
        r.getAs[String]("w").map(c => s"$c"))))
    val want = scala.collection.mutable.ArrayBuffer.empty[String]
    var done = false
    while (want.length < k && !done) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      words.foreach { case (freq, syms) =>
        (0 until syms.length - 1).foreach(i =>
          counts.update((syms(i), syms(i + 1)),
            counts.getOrElse((syms(i), syms(i + 1)), 0L) + freq))
      }
      if (counts.isEmpty) done = true
      else {
        val best = counts.toSeq.minBy { case ((a, b), c) => (-c, s"{$a}{$b}") }._1
        want += s"{${best._1}}{${best._2}}"
        words.foreach { case (_, syms) =>
          var i = 0
          while (i < syms.length - 1) {
            if (syms(i) == best._1 && syms(i + 1) == best._2) {
              syms(i) = best._1 + best._2
              syms.remove(i + 1)
            }
            i += 1
          }
        }
      }
    }
    assert(got == want.toSeq)
  }
}
