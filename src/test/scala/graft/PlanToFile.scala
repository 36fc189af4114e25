package graft

import org.apache.spark.sql.execution.ExplainMode

/** Dev helper: write the FULL formatted plan of registry queries to
  * `<outDir>/<name>_<suffix>.txt` — the before/after evidence files the
  * optimization rounds commit under plans/r*. Runs under the Bench
  * session ([[LocalSession]]) so the dumped plan is the one the bench
  * runs. Args: names(comma-sep) sfDir outDir suffix. */
object PlanToFile {
  def main(args: Array[String]): Unit = {
    if (args.length < 4) {
      System.err.println(
        "usage: Test/runMain graft.PlanToFile <n1,n2,...> <sfDir> <outDir> <suffix>")
      sys.exit(2)
    }
    val names = args(0).split(",").toSeq
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val spark = LocalSession()
    val outDir = java.nio.file.Paths.get(args(2))
    java.nio.file.Files.createDirectories(outDir)
    names.foreach { name =>
      val p = SparkEntry.queries(name)(spark, args(1))
        .queryExecution.explainString(ExplainMode.fromString("formatted"))
      val f = outDir.resolve(s"${name}_${args(3)}.txt")
      java.nio.file.Files.write(f, p.getBytes("UTF-8"))
      System.err.println(s"[plan] wrote $f")
    }
    spark.stop()
  }
}
