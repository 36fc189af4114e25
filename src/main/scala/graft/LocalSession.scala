package graft

import org.apache.spark.sql.SparkSession

/** The one local session shape every driver entry point and dev tool
  * runs under (Bench, Verify, Smoke, StageProbe, DevScratch, PlanToFile
  * and the spec session), so a correctness dump, a timing and a plan
  * dump all see the same partitioning. `Main.run` keeps its own builder:
  * its `--master` is a deployment setting.
  *
  * `SPARK_GRAFT_CPUS` (default 4) sets the default core count, which is
  * also the shuffle partition count.
  *
  * `SPARK_GRAFT_MIN_COALESCE` (default 64k) is AQE's post-shuffle
  * coalescing floor. With the 1m default, any shuffle under cores×1 MB
  * coalesces to a handful of partitions — correct when stages are
  * byte-bound, but it re-serializes CPU-bound kernels over small-byte
  * rows (candidate-pair edit distance, ANN scoring). 64k only changes
  * shuffles smaller than cores×1 MB — at production bytes-per-core the
  * two values behave identically, so this is not a local-only tune
  * (optimization guide §2.2/§2.5); parameterized for cluster
  * experiments. Correctness is verified under the same floor the bench
  * runs. */
object LocalSession {

  def apply(cores: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
      : SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
        sys.env.getOrElse("SPARK_GRAFT_MIN_COALESCE", "64k"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
