package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The shared materialization barrier: localCheckpoint by default,
  * reliable checkpoint() files under graft.barrier.checkpointDir —
  * content-identical either way, lineage cut either way — and its
  * bounded-wait reader for observed metrics. */
class BarrierSpec extends SparkSpec {
  import spark.implicits._

  test("default mode: content preserved, lineage cut, no checkpoint files") {
    val df = (1L to 100L).toDF("id")
      .withColumn("sq", col("id") * col("id"))
    val cut = Barrier.cut(df)
    assert(cut.as[(Long, Long)].collect().toSet ==
      (1L to 100L).map(i => (i, i * i)).toSet)
    // lineage is cut: the logical plan is an RDD-backed leaf, not the
    // original projection tree
    assert(cut.queryExecution.logical.collectLeaves()
      .exists(_.getClass.getSimpleName.contains("LogicalRDD")),
      cut.queryExecution.logical.toString)
  }

  test("conf mode: reliable checkpoint files appear under the configured dir") {
    val dir = java.nio.file.Files.createTempDirectory("graft_barrier_spec")
      .toString
    spark.conf.set(Barrier.ConfKey, dir)
    try {
      val df = (1L to 50L).toDF("id")
      val cut = Barrier.cut(df)
      assert(cut.as[Long].collect().toSet == (1L to 50L).toSet)
      // the eager checkpoint wrote partition files under the dir
      def files(p: java.nio.file.Path): Seq[java.nio.file.Path] = {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(p).iterator().asScala.toSeq
          .filter(java.nio.file.Files.isRegularFile(_))
      }
      assert(files(java.nio.file.Paths.get(dir)).nonEmpty,
        s"no reliable checkpoint files under $dir")
    } finally {
      spark.conf.unset(Barrier.ConfKey)
      // the context checkpoint dir stays set (context-global by design)
      // but must not dangle at the temp dir this block deletes: any
      // later same-session code relying on the context dir would fail
      // or write into a recreated stale path — re-point it at a
      // surviving scratch dir first, then clear the temp files
      val scratch = java.nio.file.Paths.get("target", "barrier-spec-ckpt")
      java.nio.file.Files.createDirectories(scratch)
      spark.sparkContext.setCheckpointDir(scratch.toString)
      val p = java.nio.file.Paths.get(dir)
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("conf unset again: subsequent cuts revert to localCheckpoint") {
    // the opt-in is the CONF, not the context's (sticky) checkpoint dir:
    // after the conf is unset, cuts must not silently keep writing
    // reliable checkpoints just because some loop set the context dir
    assert(spark.conf.getOption(Barrier.ConfKey).isEmpty)
    val cut = Barrier.cut((1L to 10L).toDF("id"))
    assert(cut.as[Long].collect().toSet == (1L to 10L).toSet)
    assert(cut.rdd.getCheckpointFile.isEmpty,
      "cut wrote a reliable checkpoint with the conf unset")
  }

  test("observed: the metric rides the cut's job and the fallback never runs") {
    val obs = org.apache.spark.sql.Observation()
    Barrier.cut((1L to 10L).toDF("id").observe(obs, sum(col("id")).as("s")))
    var fallbacks = 0
    val s = Barrier.observed(obs)(_.getLong(0)) { fallbacks += 1; -1L }
    assert(s == 55L)
    assert(fallbacks == 0, "the fallback ran although the metric arrived")
  }

  test("observed: an observation whose frame never runs returns the fallback") {
    // pays the full bounded wait once: no action ever runs this frame
    val obs = org.apache.spark.sql.Observation()
    (1L to 3L).toDF("id").observe(obs, count(lit(1)).as("n"))
    assert(Barrier.observed(obs)(_.getLong(0))(-1L) == -1L)
  }
}
