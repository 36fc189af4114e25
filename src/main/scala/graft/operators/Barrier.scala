package graft.operators

import scala.concurrent.Await
import scala.concurrent.duration.Duration
import scala.util.Try

import org.apache.spark.sql.{DataFrame, Observation, Row}

/** The ONE materialization barrier every lineage cut in main source
  * routes through (the release's three graph cuts in BuildGraph: the
  * base triples, the flipped-mapping graph and the finished graph the
  * artifact writes read; q57's shared roots, CorpusOps q86's scrub
  * output, TextAnalytics' tf and BM25 stats frames, DedupQueries'
  * leaked-id audit, the banded-guard aggregates and iterative loops in
  * [[Dedup]] and [[GraphAlgos]]) —
  * so the local-vs-durable choice is a DEPLOYMENT setting, not an edit
  * to query code. (GraphAlgos keeps its explicit previous-block
  * unpersist pairing — block management a generic helper must not
  * have.)
  *
  * Default: `localCheckpoint()` — executor-local blocks, the right
  * trade on a stable-executor cluster and in every local/bench run
  * (no extra I/O path, measured wins at the call sites). Its known
  * limit: blocks die with their executors, so under dynamic
  * allocation or spot kills a multi-hour job can lose a barrier
  * mid-flight and fail unrecoverable.
  *
  * Cluster-durable form: set `graft.barrier.checkpointDir` to a
  * fault-tolerant path (HDFS/S3) and every cut() in the session
  * becomes a reliable `checkpoint()` to that directory. The conf is
  * read per cut (session-dynamic) and re-points the SparkContext
  * checkpoint dir at the conf'd path on each cut (one mkdir; barriers
  * are a handful per query, not per row). Storage note: Spark does
  * not delete reliable checkpoint files unless
  * `spark.cleaner.referenceTracking.cleanCheckpoints=true` or the
  * caller clears the directory after consuming the result.
  *
  * Deliberately NOT keyed on the SparkContext's checkpoint dir alone:
  * that is context-global mutable state user code may set for its own
  * purposes, and silently flipping every barrier in the session to
  * 2×-compute reliable checkpoints on that side effect is exactly the
  * spooky action a shared helper must not have. The conf is the
  * explicit opt-in. */
object Barrier {

  /** The session conf that upgrades every [[cut]] to a reliable
    * checkpoint: a fault-tolerant directory path. Unset (default) =
    * localCheckpoint. */
  val ConfKey = "graft.barrier.checkpointDir"

  /** Materialize `df` once and cut its lineage — localCheckpoint by
    * default, reliable checkpoint() when [[ConfKey]] is set. */
  def cut(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    spark.conf.getOption(ConfKey) match {
      case Some(dir) =>
        spark.sparkContext.setCheckpointDir(dir)
        df.checkpoint()
      case None => df.localCheckpoint()
    }
  }

  /** Read an [[Observation]] whose metrics ride a job that has already
    * run (typically the materialization job of a [[cut]] over the
    * observed frame) — a driver value with no extra action. The wait is
    * bounded at 30 s and `fallback` (usually one explicit action that
    * recomputes the same value) runs only when the metrics never
    * arrive, so a metrics regression can never hang a query or change
    * its result. */
  def observed[T](obs: Observation)(read: Row => T)(fallback: => T): T =
    Try(Await.result(obs.future, Duration(30, "s"))).toOption match {
      case Some(row) => read(row)
      case None => fallback
    }
}
