package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Structured Streaming pipelines over the events table.
  *
  * The reference is pure batch (SURVEY.md §1.3 — weekly cron), so streaming
  * is a north-star extension: q48's windowed aggregate ([[windowCounts]])
  * run over `readStream` under a watermark, in tumbling (q35's keys) and
  * sliding (q48's) form. Tested with `Trigger.AvailableNow` against the
  * batch results (EventsStreamsSpec).
  *
  * Scale notes: the watermark bounds state; the window aggregation
  * shuffles on (window, event_type) exactly like the batch groupBy.
  */
object EventsStreams {

  /** File-stream source with the events schema (parquet directory —
    * stands in for Kafka etc.). The testdata has shipped as either
    * TIMESTAMP(NANOS) (read as long nanos, truncate to microseconds) or
    * plain timestamp[us]; a streaming source needs an explicit schema, so
    * take it from the parquet footer via a driver-side batch read and
    * apply the same normalization as Tables.events, keeping the streaming
    * and batch twins bit-for-bit aligned whichever physical type the
    * upstream regeneration produced. */
  def readEvents(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // a stream may be defined before the producer writes its first file:
    // when footer inference has nothing to read, fall back to the
    // canonical events schema instead of failing construction
    val footer =
      try spark.read.parquet(dir).schema
      catch { case _: org.apache.spark.sql.AnalysisException =>
        org.apache.spark.sql.types.StructType.fromDDL(
          "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, " +
            "event_type STRING, value DOUBLE, props STRING")
      }
    graft.Tables.normalizeEventsTs(
      spark.readStream.schema(footer).parquet(dir))
  }

  /** Per-window event counts and decimal-exact value sums, grouped by
    * `timeWindow` (a `window(...)` column, read back by its name
    * `window`) and event_type — the one windowed aggregate behind q48
    * and the streaming twins below. `total` stays `decimal(14,2)`; q48
    * casts it to double for the oracle. */
  def windowCounts(events: DataFrame, timeWindow: Column): DataFrame =
    events
      .groupBy(timeWindow, col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(14,2)")).as("total"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("total"))

  /** Tumbling 1-hour [[windowCounts]] with a 2-hour watermark — the
    * streaming form of q35 (same grouping keys, decimal-exact sums). */
  def tumblingCounts(events: DataFrame): DataFrame =
    windowCounts(events.withWatermark("ts", "2 hours"),
      window(col("ts"), "1 hour"))

  /** Sliding 1-hour windows every 30 minutes — q48's [[windowCounts]]
    * under a watermark. Each event lands in exactly two overlapping
    * windows; the watermark bounds state just as for tumbling (state
    * keyed by (window, event_type), ~2× the tumbling cardinality, still
    * O(active windows) not O(events)). */
  def slidingCounts(events: DataFrame): DataFrame =
    windowCounts(events.withWatermark("ts", "2 hours"),
      window(col("ts"), "1 hour", "30 minutes"))
}
