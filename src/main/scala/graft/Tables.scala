package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated synthetic star schema (TESTDATA.md).
  *
  * One parquet file per table under the scale-factor dir. Reads are plain
  * parquet scans so Catalyst pushes filters/column pruning into the scan
  * (verify with `.explain("formatted")`: PushedFilters / ReadSchema).
  */
object Tables {
  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame     = apply(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = apply(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = apply(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = apply(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = apply(s, d, "lineitem")
  /** events.parquet has shipped as either TIMESTAMP(NANOS) (which Spark's
    * vectorized reader rejects — we read nanos as long and truncate to
    * microseconds, exactly DuckDB's ns→µs cast, so oracles agree) or plain
    * timestamp[us]. Adapt on the parquet footer schema rather than assuming
    * one: upstream files regenerate and the physical type drifts. Integer
    * `div` — a double division would lose precision above 2^53 ns.
    *
    * [[normalizeEventsTs]] is the ONE copy of that dispatch — the
    * streaming source (graft.streaming.EventsStreams.readEvents) applies
    * the same function, keeping the batch and streaming twins bit-for-bit
    * aligned on the next physical-type drift too. */
  def normalizeEventsTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampType}
    df.schema("ts").dataType match {
      case LongType      => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampType => df
      case _             => df.withColumn("ts", col("ts").cast(TimestampType))
    }
  }

  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeEventsTs(apply(s, d, "events"))
  }
  def documents(s: SparkSession, d: String): DataFrame  = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")
}
