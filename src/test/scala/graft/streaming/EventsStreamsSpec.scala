package graft.streaming

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec
import graft.Tables

/** Streaming twins must agree with the batch queries: run with
  * Trigger.AvailableNow against the same parquet, compare results. */
class EventsStreamsSpec extends SparkSpec {
  import spark.implicits._

  // file-stream sources want a directory; stage the single parquet file
  private lazy val eventsDir: String = {
    val dir = Files.createTempDirectory("events-stream")
    Files.copy(Paths.get(s"$sf001/events.parquet"),
      dir.resolve("events.parquet"), StandardCopyOption.REPLACE_EXISTING)
    dir.toString
  }

  test("tumblingCounts (streaming) == batch groupBy at end of stream") {
    val q = EventsStreams.tumblingCounts(EventsStreams.readEvents(spark, eventsDir))
      .writeStream.format("memory").queryName("tumbling")
      .outputMode("complete")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val streamed = spark.table("tumbling")
      .select("window_start", "event_type", "n", "total")
      .as[(java.sql.Timestamp, String, Long, java.math.BigDecimal)]
      .collect().map(r => (r._1, r._2, r._3, r._4.stripTrailingZeros)).toSet
    val batch = Tables.events(spark, sf001)
      .groupBy(date_trunc("hour", col("ts")).as("window_start"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value").cast("decimal(14,2)")).as("total"))
      .as[(java.sql.Timestamp, String, Long, java.math.BigDecimal)]
      .collect().map(r => (r._1, r._2, r._3, r._4.stripTrailingZeros)).toSet
    assert(streamed == batch)
  }

  test("slidingCounts (streaming) == batch sliding window at end of stream") {
    val q = EventsStreams.slidingCounts(EventsStreams.readEvents(spark, eventsDir))
      .writeStream.format("memory").queryName("sliding")
      .outputMode("complete")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val streamed = spark.table("sliding")
      .select("window_start", "event_type", "n", "total")
      .as[(java.sql.Timestamp, String, Long, java.math.BigDecimal)]
      .collect().map(r => (r._1, r._2, r._3, r._4.stripTrailingZeros)).toSet
    val batch = Tables.events(spark, sf001)
      .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value").cast("decimal(14,2)")).as("total"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("total"))
      .as[(java.sql.Timestamp, String, Long, java.math.BigDecimal)]
      .collect().map(r => (r._1, r._2, r._3, r._4.stripTrailingZeros)).toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("q48 on windowCounts builds the optimized plan it built inline") {
    // md5 recorded while q48 still wrote the aggregate out by hand
    val q48 = graft.SparkEntry.queries("q48_sliding_window")(spark, sf001)
    assert(graft.AnnPlanGoldenSpec.planMd5(q48) == "31da36de141ec100e54d1f699fe7e128")
  }
}
