package graft.operators

import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The concurrency frontier of the index lifecycle: what a serve call
  * experiences while maintenance runs CONCURRENTLY — at 100 TB with a
  * live serving fleet, compaction never gets a quiet point, so the
  * reader-side contract must be proven, not implied. The contract
  * these tests pin (and [[Similarity.compactIvfIndex]]'s scaladoc now
  * states):
  *
  *  - compaction NEVER changes a serve answer: it folds rows the
  *    tombstone anti-join already hides, so pre- and post-compaction
  *    answers are the SAME set — a concurrent reader that succeeds
  *    must return exactly that one answer;
  *  - a reader that catches the swap's metadata-only gap (or a scan
  *    whose frozen file listing points at the dropped pre-swap
  *    directory) fails with a CATCHABLE error — an AnalysisException
  *    at resolution or a FileNotFoundException-caused job failure —
  *    and a plain retry succeeds once the swap completes;
  *  - ONE silent case: a reader that RESOLVED the live name before
  *    the swap but runs its file LISTING inside the gap gets an EMPTY
  *    result with no error (Spark's root-path listing swallows the
  *    missing-directory FileNotFoundException), never a non-empty
  *    wrong answer — so a fleet serving a known-non-empty index
  *    treats empty-during-maintenance as the same retry signal.
  *
  * Three legs: a deterministic one that serves INSIDE the gap state
  * (live name absent between the two renames, plus the
  * catalog-present/directory-moved instant and the frozen-listing
  * read), a racy one that hammers serves across repeated
  * delete-then-compact cycles, and a racy one across batch APPENDS —
  * each auditing every outcome against the contract. */
class ConcurrentServeSpec extends SparkSpec {

  private def inputs() = {
    val (_, centroids, corpus, probes) = annFixture(probeCutoff = 10)
    (corpus, centroids, probes)
  }

  private def keySet(df: org.apache.spark.sql.DataFrame) =
    df.select("probe_id", "rank", "id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet

  /** The retryable failure classes the contract allows a concurrent
    * reader to see: resolution inside the metadata-only gap
    * (AnalysisException — table-not-found, or the side table dropped
    * between its existence check and its read) and a scan whose frozen
    * file listing points at files the swap's directory moves/drops
    * removed (FileNotFoundException, usually as a job failure's
    * cause). Anything else — above all a WRONG ANSWER — fails the
    * test. */
  private def causeChain(e: Throwable): Seq[Throwable] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(10).toSeq

  // ONE definition of "retry this" — the operator's shipped classifier
  private def retryable(e: Throwable): Boolean =
    Similarity.isMaintenanceRetryable(e)

  test("mid-swap gap: a serve inside the gap fails catchably; a retry after heal returns the one answer") {
    val (corpus, centroids, probes) = inputs()
    val idx = "cserve_gap_index"
    try {
      Similarity.writeIvfIndex(corpus, centroids, idx, numBuckets = 8)
      val want = keySet(Similarity.ivfTopKIndexed(idx, centroids, probes,
        k = 3, nprobe = 2))

      // the contract's one SILENT case, pinned deterministically by
      // simulating the instant INSIDE a managed-table RENAME where the
      // catalog still answers but the directory has already moved: a
      // reader resolving here lists the missing root, Spark swallows
      // the FileNotFoundException (HadoopFSUtils.listLeafFiles on a
      // root path), and the serve returns EMPTY — no error, and never
      // a non-empty wrong answer: the retry signal a known-non-empty
      // fleet watches for
      val loc = new org.apache.hadoop.fs.Path(
        spark.sessionState.catalog.getTableMetadata(
          org.apache.spark.sql.catalyst.TableIdentifier(idx)).location)
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val aside = new org.apache.hadoop.fs.Path(loc.getParent, s"${idx}__aside")
      spark.catalog.refreshTable(idx) // drop the already-listed relation
      assert(fs.rename(loc, aside), "fixture: could not move the index dir")
      try {
        assert(Similarity.ivfTopKIndexed(idx, centroids, probes,
          k = 3, nprobe = 2).collect().isEmpty,
          "a reader that listed while the directory was moved away " +
            "returned rows — the documented empty-listing semantics " +
            "changed; re-audit compactIvfIndex's concurrent-reader contract")
      } finally {
        assert(fs.rename(aside, loc), "fixture: could not restore the dir")
      }
      spark.catalog.refreshTable(idx)

      // tombstone ids that appear in NO probe's top-3, so the one
      // correct answer never changes across delete or compaction
      val answerIds = want.map(_._3)
      val delIds = corpus.select("id").collect().map(_.getLong(0))
        .filterNot(answerIds).take(20)
      import spark.implicits._
      Similarity.deleteFromIvfIndex(spark, idx, delIds.toSeq.toDF("id"))
      assert(keySet(Similarity.ivfTopKIndexed(idx, centroids, probes,
        k = 3, nprobe = 2)) == want,
        "fixture broke: deleting non-answer ids changed the serve answer")
      // a reader RESOLVED (and so LISTED — a fresh relation lists at
      // resolution) before the swap: its frozen listing names files the
      // swap is about to move away
      spark.catalog.refreshTable(idx)
      val resolvedPreGap =
        Similarity.ivfTopKIndexed(idx, centroids, probes, k = 3, nprobe = 2)
      // the exact state between compactIvfIndex's two renames: nothing
      // answers under the live name — a serve RESOLVING here must fail
      // with a CATCHABLE resolution error, not hang or fabricate an
      // answer
      spark.sql(s"ALTER TABLE `$idx` RENAME TO `${idx}__old`")
      val ex = intercept[AnalysisException] {
        Similarity.ivfTopKIndexed(idx, centroids, probes, k = 3, nprobe = 2)
      }
      assert(retryable(ex))
      // ... and the pre-gap reader EXECUTING here fails catchably too:
      // its frozen listing points at the moved-away files
      // (FileNotFoundException in the job failure's cause chain)
      val exFrozen = intercept[Throwable] { resolvedPreGap.collect() }
      assert(retryable(exFrozen),
        s"frozen-listing serve failed OUTSIDE the retryable contract: " +
          s"$exFrozen (cause chain: ${causeChain(exFrozen)
            .map(_.getClass.getName).mkString(" <- ")})")
      // the retry path: the next compaction call heals the gap state
      // (restores the live name) and finishes folding the tombstones —
      // the reader's retry then gets the unchanged answer
      Similarity.compactIvfIndex(spark, idx)
      assert(keySet(Similarity.ivfTopKIndexed(idx, centroids, probes,
        k = 3, nprobe = 2)) == want, "retry after heal diverged")
      assert(!spark.catalog.tableExists(s"${idx}__tombstones"))
    } finally {
      Seq(idx, s"${idx}__tombstones", s"${idx}__compact", s"${idx}__old")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))
    }
  }

  test("serve loop concurrent with batch appends: every answer is the operator's own ranking over base plus the appends it surfaced") {
    // the append leg of the concurrency matrix (compaction is the test
    // below): appends only ADD files, and a file becomes visible
    // atomically at its commit move, so a concurrent reader's listing
    // sees base plus SOME subset of appended files — never an error,
    // never a torn file. The deterministic invariant (no timing
    // assumptions): whatever subset V of appended ids a serve answer
    // surfaces, the answer must equal ivfTopK over base ∪ V on the
    // SAME construction — ids in the true visible set that beat no
    // probe's cutoff cannot change that ranking, so the check is exact
    // for every possible interleaving. Fabricated ids, wrong cosines,
    // dropped base rows, or rank inversions all fail it.
    val (corpus, centroids, probes) = inputs()
    val idx = "cserve_append_race"
    val base = corpus.filter(col("id") % 2 === 0)
    val appendSrc = corpus.filter(col("id") % 2 === 1)
    try {
      Similarity.writeIvfIndex(base, centroids, idx, numBuckets = 8)
      val appendIds = appendSrc.select("id").collect().map(_.getLong(0))

      val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
      val outcomes = new java.util.concurrent.ConcurrentLinkedQueue[
        Either[Throwable, Set[(Long, Int, Long)]]]()
      val server = new Thread(() => {
        while (!stop.get()) {
          try outcomes.add(Right(keySet(
            Similarity.ivfTopKIndexed(idx, centroids, probes,
              k = 3, nprobe = 2))))
          catch { case e: Throwable => outcomes.add(Left(e)) }
        }
      }, "cserve-append-server")
      server.setDaemon(true)
      server.start()
      try {
        // three committed batches with the serve loop in flight
        appendIds.grouped((appendIds.length + 2) / 3).foreach { batch =>
          Similarity.appendIvfIndex(
            appendSrc.filter(col("id").isin(batch.toSeq: _*)),
            centroids, idx)
        }
      } finally {
        stop.set(true)
        server.join(120000)
      }
      assert(!server.isAlive, "serve thread did not stop in 120 s")

      import scala.jdk.CollectionConverters._
      val all = outcomes.asScala.toSeq
      val served = all.collect { case Right(s) => s }
      val failed = all.collect { case Left(e) => e }
      assert(served.nonEmpty, "serve loop never completed a call")
      // appends never move or remove a file, so a failing read has no
      // missing-file cause; allow only the documented retryable class
      // (a listing racing the commit's cache invalidation), never
      // anything else
      failed.foreach { e =>
        assert(retryable(e),
          s"concurrent serve during APPEND failed outside the retryable " +
            s"contract: $e (cause chain: ${causeChain(e)
              .map(_.getClass.getName).mkString(" <- ")})")
      }
      val appendedSet = appendIds.toSet
      served.toSet[Set[(Long, Int, Long)]].foreach { s =>
        val visible = s.map(_._3).intersect(appendedSet)
        val expected = keySet(Similarity.ivfTopK(
          base.union(appendSrc.filter(col("id").isin(visible.toSeq: _*))),
          centroids, probes, k = 3, nprobe = 2))
        assert(s == expected,
          s"a concurrent serve answer is NOT the operator's ranking over " +
            s"base + its own surfaced appends ${visible.toSeq.sorted} " +
            s"(missing ${expected -- s}, extra ${s -- expected})")
      }
      // the quiet point after all appends: the full-corpus answer
      spark.catalog.refreshTable(idx)
      assert(keySet(Similarity.ivfTopKIndexed(idx, centroids, probes,
        k = 3, nprobe = 2)) ==
        keySet(Similarity.ivfTopK(corpus, centroids, probes,
          k = 3, nprobe = 2)),
        "post-append quiet-point serve diverged from the full corpus")
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS `$idx`")
    }
  }

  test("serve loop concurrent with repeated compactions: every outcome is the one answer or a retryable error") {
    val (corpus, centroids, probes) = inputs()
    val idx = "cserve_race_index"
    try {
      Similarity.writeIvfIndex(corpus, centroids, idx, numBuckets = 8)
      val want = keySet(Similarity.ivfTopKIndexed(idx, centroids, probes,
        k = 3, nprobe = 2))
      val answerIds = want.map(_._3)
      val delIds = corpus.select("id").collect().map(_.getLong(0))
        .filterNot(answerIds).take(60)
      assert(delIds.length == 60, "fixture needs 60 non-answer ids")

      val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
      val outcomes = new java.util.concurrent.ConcurrentLinkedQueue[
        Either[Throwable, Set[(Long, Int, Long)]]]()
      val server = new Thread(() => {
        while (!stop.get()) {
          try outcomes.add(Right(keySet(
            Similarity.ivfTopKIndexed(idx, centroids, probes,
              k = 3, nprobe = 2))))
          catch { case e: Throwable => outcomes.add(Left(e)) }
        }
      }, "cserve-race-server")
      server.setDaemon(true)
      server.start()
      // a second serve loop wrapped in the SHIPPED retry — the fleet
      // shape the contract prescribes. With the gap absorbed by
      // bounded retries (the swap's danger window is the metadata-only
      // instant between two renames, far shorter than the retry
      // budget), every outcome must be exactly the one answer: the
      // three-outcome raw contract collapses to one
      val retried = new java.util.concurrent.ConcurrentLinkedQueue[
        Either[Throwable, Set[(Long, Int, Long)]]]()
      val retryServer = new Thread(() => {
        while (!stop.get()) {
          try retried.add(Right(Similarity.serveWithRetry({ () =>
            keySet(Similarity.ivfTopKIndexed(idx, centroids, probes,
              k = 3, nprobe = 2))
          }, attempts = 20, backoffMs = 100,
            retryOnResult = (s: Set[(Long, Int, Long)]) => s.isEmpty)))
          catch { case e: Throwable => retried.add(Left(e)) }
        }
      }, "cserve-race-retry-server")
      retryServer.setDaemon(true)
      retryServer.start()
      try {
        // three full maintenance cycles, each a fresh tombstone batch
        // folded by a swap, with the serve loop in flight throughout
        import spark.implicits._
        delIds.grouped(20).foreach { batch =>
          Similarity.deleteFromIvfIndex(spark, idx, batch.toSeq.toDF("id"))
          Similarity.compactIvfIndex(spark, idx)
        }
      } finally {
        stop.set(true)
        server.join(120000)
        retryServer.join(120000)
      }
      assert(!server.isAlive && !retryServer.isAlive,
        "a serve thread did not stop in 120 s")

      import scala.jdk.CollectionConverters._
      // the retry-wrapped fleet: ONE outcome, always — no errors, no
      // empties, just the answer
      val retriedAll = retried.asScala.toSeq
      assert(retriedAll.nonEmpty, "retry-wrapped loop never completed a call")
      retriedAll.zipWithIndex.foreach {
        case (Right(s), i) =>
          assert(s == want,
            s"serveWithRetry call #$i returned ${if (s.isEmpty) "EMPTY"
              else "a wrong answer"} (missing ${want -- s}, extra ${s -- want})")
        case (Left(e), i) =>
          fail(s"serveWithRetry call #$i threw through the retry budget: $e " +
            s"(cause chain: ${causeChain(e).map(_.getClass.getName)
              .mkString(" <- ")})")
      }
      val all = outcomes.asScala.toSeq
      val served = all.collect { case Right(s) => s }
      val failed = all.collect { case Left(e) => e }
      assert(served.exists(_.nonEmpty),
        "serve loop never completed a non-empty call")
      // compaction never changes serve results (it folds rows the
      // anti-join already hides), so every successful concurrent serve
      // is either the single expected answer or EMPTY (the documented
      // silent case: resolved pre-swap, listed inside the gap — the
      // root-path FileNotFoundException swallow) — NEVER a non-empty
      // wrong answer
      served.zipWithIndex.foreach { case (s, i) =>
        assert(s.isEmpty || s == want,
          s"concurrent serve #$i returned a non-empty WRONG answer " +
            s"(missing ${want -- s}, extra ${s -- want})")
      }
      // and every failure must be in the documented retryable class
      failed.foreach { e =>
        assert(retryable(e),
          s"concurrent serve failed OUTSIDE the retryable contract: $e " +
            s"(cause chain: ${causeChain(e).map(_.getClass.getName)
              .mkString(" <- ")})")
      }
      // the quiet-point retry after all maintenance: same answer, debt paid
      assert(keySet(Similarity.ivfTopKIndexed(idx, centroids, probes,
        k = 3, nprobe = 2)) == want)
      assert(!spark.catalog.tableExists(s"${idx}__tombstones"))
    } finally {
      Seq(idx, s"${idx}__tombstones", s"${idx}__compact", s"${idx}__old")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))
    }
  }

  test("serveWithRetry: retries the documented classes and the empty signature, propagates real errors, bounds attempts") {
    // a REAL instance of the gap's resolution error, so the classifier
    // is exercised on what Spark actually throws
    val gapError = intercept[AnalysisException] {
      spark.table("cserve_no_such_table").collect()
    }
    // retries through transient gap errors, returns the healed answer
    var calls = 0
    assert(Similarity.serveWithRetry({ () =>
      calls += 1
      if (calls < 3) throw gapError else 42
    }, backoffMs = 1) == 42 && calls == 3)
    // the silent empty-during-gap case: retryOnResult keeps it looping
    // until the answer is non-empty
    calls = 0
    assert(Similarity.serveWithRetry({ () =>
      calls += 1
      if (calls < 2) Seq.empty[Int] else Seq(1)
    }, backoffMs = 1, retryOnResult = (r: Seq[Int]) => r.isEmpty) == Seq(1))
    // exhaustion on a still-empty answer RETURNS it (the index may
    // legitimately be empty); exhaustion on errors rethrows the last
    assert(Similarity.serveWithRetry({ () => Seq.empty[Int] },
      attempts = 2, backoffMs = 1,
      retryOnResult = (r: Seq[Int]) => r.isEmpty).isEmpty)
    calls = 0
    val exhausted = intercept[AnalysisException] {
      Similarity.serveWithRetry[Int]({ () =>
        calls += 1; throw gapError
      }, attempts = 3, backoffMs = 1)
    }
    assert((exhausted eq gapError) && calls == 3)
    // a listed file the swap dropped, surfaced as NIO's
    // NoSuchFileException (the local filesystem's vectored read reopens
    // the file's checksum through NIO), is the same frozen-listing
    // case: retried
    calls = 0
    assert(Similarity.serveWithRetry({ () =>
      calls += 1
      if (calls < 2) throw new org.apache.spark.SparkException("read failed",
        new java.nio.file.NoSuchFileException("part-00000.snappy.parquet"))
      else 7
    }, backoffMs = 1) == 7 && calls == 2)
    // a non-retryable error propagates on the FIRST try
    calls = 0
    intercept[IllegalStateException] {
      Similarity.serveWithRetry[Int]({ () =>
        calls += 1; throw new IllegalStateException("real bug")
      }, backoffMs = 1)
    }
    assert(calls == 1)
  }
}
