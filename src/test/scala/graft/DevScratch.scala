package graft

/** Dev-only plan/timing scratch:
  * `sbt 'Test/runMain graft.DevScratch <qname>[,<qname>...] <sfDir> [runs] [noExplain]'`. */
object DevScratch {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(',').toSeq
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val runs = if (args.length > 2) args(2).toInt else 3
    val explain = args.length <= 3
    val spark = LocalSession()
    names.foreach { name =>
      if (explain) SparkEntry.queries(name)(spark, dir).explain("formatted")
      (1 to runs).foreach { i =>
        // fn runs INSIDE the timer (as in Bench.timeOnce): queries that do
        // eager work at construction (index builds, k-means training) must
        // have it measured, not hidden in plan setup
        val t0 = System.nanoTime()
        SparkEntry.queries(name)(spark, dir)
          .write.format("noop").mode("overwrite").save()
        println(f"[scratch] $name run $i: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      }
      if (args.length > 3 && args(3) == "count")
        println(s"[scratch] $name rows=${SparkEntry.queries(name)(spark, dir).count()}")
    }
    spark.stop()
  }
}
