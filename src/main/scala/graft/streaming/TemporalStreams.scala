package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.operators.TemporalJoins

/** Streaming twins of [[graft.operators.TemporalJoins]] — the continuous
  * forms of the as-of and range joins, completing the streaming suite
  * (every batch operator family now has one: tumbling/sliding/session/
  * dedup/quota/count-min/as-of/range).
  *
  * State bounds (the thing that decides survival on an unbounded stream):
  *  - [[rangeJoinStream]] rides Spark's own watermarked stream-stream
  *    join (with the batch operator's bucket equi-key, which Spark
  *    requires): the `point BETWEEN lo AND lo + maxWidth` time-range
  *    condition lets the state store evict rows older than watermark +
  *    maxWidth on both sides, so state is O(rows within horizon), never
  *    O(stream).
  *  - [[asofJoinStream]] keeps, per key, ONLY the right rows that can
  *    still win a future as-of lookup: everything newer than the latest
  *    right at-or-below the watermark, plus that one row. Left rows are
  *    never buffered. A quiet key's state shrinks to exactly one right
  *    row via an event-time timeout.
  *
  * Causality contract (same stance as [[CorpusStreams.quotaPerSource]]):
  * each left row is matched against the rights KNOWN when its micro-batch
  * runs, in event-time order within the batch. When a key's rows arrive
  * in one batch — or the streams are in event-time order across batches —
  * the result equals the batch [[graft.operators.TemporalJoins.asofJoin]]
  * exactly (TemporalStreamsSpec pins both). A right row arriving later
  * than an already-emitted left does not retro-update it — the only
  * causal option in append mode.
  */
object TemporalStreams {

  /** Streaming point-in-interval join ([lo, hi), like the batch twin).
    *
    * Spark refuses a stream-stream join on a bare range predicate (no
    * equality ⇒ unbounded state), so this runs the batch operator's
    * checks and bucketization ([[TemporalJoins.bucketed]]) on the
    * watermarked streams: intervals explode to the
    * fixed-width epoch buckets they cover, points map to exactly one
    * bucket, and the join is EQUI on the bucket id — plus the
    * `lo <= pt <= lo + maxWidth` time-range condition between the two
    * WATERMARKED event-time columns, which is what lets the state store
    * evict rows beyond watermark + maxWidth on both sides. Each matching
    * pair is emitted once (one bucket per point; an interval covers a
    * bucket once).
    *
    * `points` must carry event-time column `pointTime`; `intervals`
    * carries `loTime` (event time) and `hiTime`; column sets must be
    * disjoint (same contract as the batch operator). Match semantics are
    * SECOND-GRANULAR epoch `[lo, hi)` — identical to the batch twin
    * called with `cast("long")` time expressions; mixing full-precision
    * predicates with second-truncated buckets would silently drop
    * sub-second boundary pairs. The watermarked-timestamp range condition
    * is kept purely as the STATE-EVICTION bound, widened one second each
    * way so truncation can never exclude a pair the second-granular
    * predicate admits. `maxWidth` (seconds) is the guaranteed maximum
    * interval width — intervals wider than it are trimmed to
    * `[lo, lo + maxWidth)`, and the state bound depends on it.
    * `bucketWidth` (seconds) trades explode factor against
    * bucket-collision volume, ≈ typical interval width as in the batch
    * twin. */
  def rangeJoinStream(points: DataFrame, pointTime: String,
                      intervals: DataFrame, loTime: String, hiTime: String,
                      bucketWidth: Long, maxWidth: Long,
                      horizon: String): DataFrame = {
    require(maxWidth > 0, "maxWidth must be positive")
    val lo = col(loTime).cast("long")
    // a null hi must DROP the interval like the batch twin (whose null
    // __hi fails the filter) — least() would skip the null and mint a
    // full-maxWidth interval instead
    val hi = when(col(hiTime).isNotNull, least(col(hiTime).cast("long"), lo + maxWidth))
    val (p, i) = TemporalJoins.bucketed(points.withWatermark(pointTime, horizon),
      col(pointTime), intervals.withWatermark(loTime, horizon), lo, hi, bucketWidth)
    p.join(i, TemporalJoins.bucketMatch &&
        // eviction bound between the two WATERMARKED event-time columns,
        // ±1 s so truncation never excludes an admitted pair
        col(pointTime) >= col(loTime) - expr("INTERVAL 1 SECONDS") &&
        col(pointTime) <= col(loTime) + expr(s"INTERVAL ${maxWidth + 1} SECONDS"))
      .drop(TemporalJoins.BucketCols: _*)
  }

  final case class AsofRow(k: String, ts: java.sql.Timestamp, tag: Int,
                           payload: String)
  final case class AsofJoined(k: String, ts: java.sql.Timestamp,
                              payload: String, rt: Option[java.sql.Timestamp],
                              rpayload: Option[String])
  /** Right rows that can still win a lookup, ascending by time. */
  final case class AsofState(rights: List[(Long, String)])

  /** Streaming backward as-of join. `left`/`right` both carry
    * (k string, ts timestamp, payload string); each left row picks the
    * latest right row with right.ts <= left.ts on the same key
    * (inclusive, right-before-left on ties — identical to the batch
    * operator). Output: every left row with the matched right time and
    * payload (nulls when nothing at or before).
    *
    * Union + tag mirrors the batch implementation's shape, then a
    * per-key flatMapGroupsWithState walks each batch in event-time
    * order: rights append to the bounded buffer, lefts emit immediately
    * against it. Watermark eviction keeps, per key, the newest
    * at-or-below-watermark right plus everything after it — the minimal
    * set a future (>= watermark) left can still match. */
  def asofJoinStream(left: DataFrame, right: DataFrame,
                     horizon: String): DataFrame = {
    import left.sparkSession.implicits._
    val tagged = right
      .select(col("k"), col("ts"), lit(0).as("tag"), col("payload"))
      .unionByName(
        left.select(col("k"), col("ts"), lit(1).as("tag"), col("payload")))
      .withWatermark("ts", horizon)
      .as[AsofRow]
    tagged
      .groupByKey(_.k)
      .flatMapGroupsWithState[AsofState, AsofJoined](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (_, rows, state: GroupState[AsofState]) =>
          val wm = state.getCurrentWatermarkMs()
          def prune(rights: List[(Long, String)]): List[(Long, String)] = {
            val (old, live) = rights.partition(_._1 <= wm)
            old.lastOption.toList ::: live
          }
          if (state.hasTimedOut) {
            // quiet key: prune against the CURRENT watermark — rights still
            // above it can win future lookups and must survive (keeping
            // only rights.last would lose them when the timeout fires
            // before the watermark passes the whole buffer); a fully
            // below-watermark buffer shrinks to its single newest row
            state.getOption.map(_.rights).filter(_.nonEmpty) match {
              case Some(rights) => state.update(AsofState(prune(rights)))
              case None => state.remove()
            }
            Iterator.empty
          } else {
            var rights = state.getOption.map(_.rights).getOrElse(Nil)
            val out = Seq.newBuilder[AsofJoined]
            var maxEvent = Long.MinValue
            // null event times: rights are ignored, lefts emit unmatched —
            // the batch operator's exact contract (and .getTime on a null
            // Timestamp would kill the query)
            val (nullTs, timed) = rows.toSeq.partition(_.ts == null)
            nullTs.foreach { r =>
              if (r.tag == 1) out += AsofJoined(r.k, r.ts, r.payload, None, None)
            }
            // tag 0 (right) before tag 1 (left) on ties → inclusive match.
            // O(n+m) per key per batch: the buffer and the batch's rights
            // are each sorted, so ONE stable merge (state side first on
            // ties — the order the old per-right list splice produced)
            // replaces per-right O(n) inserts, and the lefts — ascending
            // too — scan the merged buffer with one monotone pointer
            // (every right that can match a left sorts before it). A hot
            // key with a disordered batch is linear, not quadratic; state
            // memory stays bounded by the watermark prune below.
            val sorted = timed.sortBy(r => (r.ts.getTime, r.tag))
            sorted.foreach(r => maxEvent = math.max(maxEvent, r.ts.getTime))
            val batchRights = sorted.iterator.filter(_.tag == 0)
              .map(r => (r.ts.getTime, r.payload)).toArray
            val merged = new scala.collection.mutable.ArrayBuffer[(Long, String)](
              rights.length + batchRights.length)
            var bi = 0
            rights.foreach { s =>
              while (bi < batchRights.length && batchRights(bi)._1 < s._1) {
                merged += batchRights(bi); bi += 1
              }
              merged += s
            }
            while (bi < batchRights.length) { merged += batchRights(bi); bi += 1 }
            var ptr = 0
            sorted.iterator.filter(_.tag == 1).foreach { r =>
              while (ptr < merged.length && merged(ptr)._1 <= r.ts.getTime) ptr += 1
              val m = if (ptr > 0) Some(merged(ptr - 1)) else None
              out += AsofJoined(r.k, r.ts, r.payload,
                m.map(t => new java.sql.Timestamp(t._1)), m.map(_._2))
            }
            state.update(AsofState(prune(merged.toList)))
            // flush quiet keys one horizon after their last activity
            if (maxEvent != Long.MinValue)
              state.setTimeoutTimestamp(maxEvent, horizon)
            out.result().iterator
          }
      }.toDF()
  }
}
