package graft

/** Local replica of the driver's t1 smoke: SparkEntry.entry(spark) must
  * return >0 rows on sf0.001. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = LocalSession()
    val df = SparkEntry.entry(spark)
    val n = df.count()
    println(s"[smoke] entry rows=$n schema=${df.schema.simpleString}")
    assert(n > 0, "entry() returned no rows")
    spark.stop()
  }
}
