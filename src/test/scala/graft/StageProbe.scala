package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

import scala.collection.mutable

/** Dev-only stage-level profiler (the optimization guide's "empirical"
  * loop without a live UI): runs a registry query under the Bench session
  * shape and prints, per completed stage, the task count, total task
  * runtime, max single-task runtime, and shuffle read/write bytes —
  * enough to spot single-task map stages (input skew, guide §2.5) and
  * AQE-coalesced-to-1 CPU-heavy reducers without screenshots.
  *
  * `sbt 'Test/runMain graft.StageProbe <qname>[,<qname>...] <sfDir> [runs]'`
  */
object StageProbe {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(',').toSeq
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val runs = if (args.length > 2) args(2).toInt else 2
    val spark = LocalSession()

    final case class St(name: String, tasks: Int, runMs: Long, maxMs: Long,
                        srMB: Double, swMB: Double, rows: Long)
    val stages = mutable.ArrayBuffer.empty[St]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val m = si.taskMetrics
        stages += St(si.name.takeWhile(_ != '\n').take(70), si.numTasks,
          m.executorRunTime, 0L,
          m.shuffleReadMetrics.totalBytesRead / 1e6,
          m.shuffleWriteMetrics.bytesWritten / 1e6,
          m.outputMetrics.recordsWritten)
      }
    })

    names.foreach { name =>
      (1 to runs).foreach { i =>
        stages.clear()
        val t0 = System.nanoTime()
        SparkEntry.queries(name)(spark, dir)
          .write.format("noop").mode("overwrite").save()
        val wall = (System.nanoTime() - t0) / 1e9
        Thread.sleep(200) // let listener drain
        println(f"[probe] $name run $i wall=$wall%.2f s  stages=${stages.size}")
        if (i == runs) {
          val top = stages.sortBy(-_.runMs).take(14)
          top.foreach { s =>
            println(f"[probe]   tasks=${s.tasks}%4d run=${s.runMs}%6d ms  " +
              f"sr=${s.srMB}%8.2f MB sw=${s.swMB}%8.2f MB  ${s.name}")
          }
          val total = stages.map(_.runMs).sum
          val single = stages.filter(_.tasks == 1).map(_.runMs).sum
          println(f"[probe]   total task-time=${total}ms  in 1-task stages=${single}ms (${if (total > 0) single * 100 / total else 0}%%)")
        }
      }
    }
    spark.stop()
  }
}
