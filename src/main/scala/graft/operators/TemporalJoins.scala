package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType}

/** Temporal joins Spark lacks as built-ins, expressed shuffle-minimally.
  *
  * Neither operator exists in the reference (a single-process Python ETL);
  * they belong to the beyond-the-reference training-data-pipeline surface:
  * as-of joins align event/feature streams ("latest signal at or before
  * this example's timestamp"), range joins land points in intervals
  * (promo windows, sessions, outage spans) — both everyday shapes at
  * 100 TB where the naive plan is a nested loop.
  *
  * `asofJoin` — backward as-of join: each left row picks the latest right
  * row with right time <= left time within the same key. Implemented as
  * union + tag + running `last(ignoreNulls)` window rather than an
  * inequality join: ONE shuffle on the key and a single linear pass per
  * key. Spark's native plan for the equivalent `t_r <= t_l` predicate is
  * a BroadcastNestedLoopJoin — O(|left|·|right|) per key. The window is
  * always keyed (never global), so at scale cost is bounded by per-key
  * history, the same contract as SQL window functions.
  *
  * `rangeJoin` — point-in-interval join via bucketization: each interval
  * explodes to the fixed-width buckets it covers, each point maps to
  * exactly ONE bucket, and the join becomes an equi-join on bucket id
  * refined by the residual range predicate. Every matching pair appears
  * exactly once (a point is in one bucket; an interval covers that bucket
  * once), so no dedup pass is needed. Catalyst picks broadcast-hash when
  * the exploded interval side is small and shuffle-hash otherwise — either
  * way a hash join, never the O(n·m) nested loop Spark plans for a bare
  * range predicate. Pick `bucketWidth` ≈ typical interval width: the
  * explode factor is ceil(width/bucketWidth)+1 per interval.
  */
object TemporalJoins {

  /** As-of join (inclusive: right time == left time matches either way).
    *
    * `direction` — "backward" (default): latest right at or before each
    * left time (DuckDB ASOF / pandas default); "forward": earliest right
    * at or after it (pandas merge_asof direction='forward'). Both run
    * the same single-shuffle union+tag+keyed-window plan — forward just
    * flips the frame (unboundedFollowing) and the tie order.
    *
    * Output: all `left` columns, then `rightTime` and the remaining right
    * payload columns from the matched row (null when no right row at or
    * before the left time). Right payload rides in ONE struct through the
    * window, so all emitted right columns always come from the same
    * matched row. Right rows must be unique per (keys, rightTime) —
    * pre-aggregate duplicates first, otherwise the tie winner is
    * unspecified (same contract as DuckDB/pandas ASOF). Right rows with a
    * null time are ignored (never matched) — also the DuckDB/pandas ASOF
    * contract; without the filter they would sort first under nulls-first
    * ascending and be picked as the "latest" match for left rows that
    * precede every real right row. The right time column must up-cast
    * losslessly to the left time type (a silent lossy cast, e.g.
    * timestamp→date, would both coarsen matches and mint nulls).
    *
    * `tolerance` (pandas merge_asof semantics): when set, a match older
    * than `tolerance` before the left time is discarded — the left row
    * keeps nulls instead of a stale right row. Pass an expression addable
    * to the right time (an `INTERVAL` literal for timestamps, a plain
    * number for numeric times). Applied after the window pass: one
    * map-side conditional, same plan otherwise.
    */
  def asofJoin(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      leftTime: String,
      rightTime: String,
      tolerance: Option[Column] = None,
      direction: String = "backward"): DataFrame = {
    require(direction == "backward" || direction == "forward",
      s"direction must be backward|forward, got $direction")
    val fwd = direction == "forward"
    val payload = right.columns.toSeq.filterNot(c => keys.contains(c) || c == rightTime)
    val clash = (rightTime +: payload).intersect(left.columns.toSeq)
    require(clash.isEmpty, s"right columns collide with left: ${clash.mkString(",")} — rename before joining")
    val reserved = Seq("__t", "__tag", "__r", "__m")
      .filter(r => left.columns.contains(r) || right.columns.contains(r))
    require(reserved.isEmpty, s"reserved column names in use: ${reserved.mkString(",")}")
    val (lt, rt) = (left.schema(leftTime).dataType, right.schema(rightTime).dataType)
    require(org.apache.spark.sql.catalyst.expressions.Cast.canUpCast(rt, lt),
      s"right time type $rt does not up-cast losslessly to left time type $lt — " +
        "cast explicitly before joining")
    val leftRest = left.columns.toSeq.filterNot(keys.contains)

    val rStruct = StructType(
      StructField(rightTime, right.schema(rightTime).dataType) +:
        payload.map(c => StructField(c, right.schema(c).dataType)))

    // Backward: tag 0 (right) sorts before tag 1 (left) on time ties so a
    // same-time right lands in the PRECEDING frame; forward: tag 2 sorts
    // after, landing it in the FOLLOWING frame — inclusive either way.
    val rightPart = right.filter(col(rightTime).isNotNull).select(
      keys.map(col) ++ Seq(
        col(rightTime).cast(left.schema(leftTime).dataType).as("__t"),
        lit(if (fwd) 2 else 0).as("__tag"),
        struct((col(rightTime) +: payload.map(col)): _*).as("__r")) ++
        leftRest.map(c => lit(null).cast(left.schema(c).dataType).as(c)): _*)
    val leftPart = left.select(
      keys.map(col) ++ Seq(
        col(leftTime).as("__t"),
        lit(1).as("__tag"),
        lit(null).cast(rStruct).as("__r")) ++
        leftRest.map(col): _*)

    val w0 = Window
      .partitionBy(keys.map(col): _*)
      .orderBy(col("__t"), col("__tag"))
    val w = if (fwd) w0.rowsBetween(Window.currentRow, Window.unboundedFollowing)
            else w0.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val pick = if (fwd) first(col("__r"), ignoreNulls = true)
               else last(col("__r"), ignoreNulls = true)

    // a left row with a NULL time never matches (ASOF contract both
    // directions; backward gets this for free — nulls sort first with an
    // empty preceding frame — but the forward frame would otherwise hand
    // it the globally earliest right)
    val keep = tolerance match {
      case Some(tol) if fwd =>
        col("__t").isNotNull && col("__m").getField(rightTime) <= col("__t") + tol
      case Some(tol) =>
        col("__t").isNotNull && col("__t") <= col("__m").getField(rightTime) + tol
      case None => col("__t").isNotNull
    }
    val matched = when(keep, col("__m"))
    rightPart.unionByName(leftPart)
      .withColumn("__m", pick.over(w))
      .withColumn("__m", matched)
      .filter(col("__tag") === 1)
      .select(
        left.columns.toSeq.map(col) ++
          (rightTime +: payload).map(c => col(s"__m.$c").as(c)): _*)
  }

  /** Inner point-in-interval join over epoch-long expressions: emits each
    * (point row, interval row) pair where `lo <= point < hi`, once.
    * `pointExpr`/`loExpr`/`hiExpr` must be castable to long and in the
    * same unit (e.g. epoch seconds); `bucketWidth` is in that unit.
    * Intervals with `hi <= lo` are empty and dropped.
    */
  def rangeJoin(
      points: DataFrame,
      pointExpr: Column,
      intervals: DataFrame,
      loExpr: Column,
      hiExpr: Column,
      bucketWidth: Long): DataFrame = {
    val (p, i) = bucketed(points, pointExpr, intervals, loExpr, hiExpr, bucketWidth)
    p.join(i, bucketMatch).drop(BucketCols: _*)
  }

  /** The working columns [[rangeJoin]] adds to its sides (and drops). */
  private[graft] val BucketCols = Seq("__pt", "__pbucket", "__lo", "__hi", "__ibucket")

  /** [[rangeJoin]]'s checks and its two bucketed sides: each point in
    * one bucket, each non-empty interval exploded to the buckets it
    * covers. Join them on [[bucketMatch]]; the streaming twin
    * ([[graft.streaming.TemporalStreams.rangeJoinStream]]) adds its
    * state-eviction bound to that condition. */
  private[graft] def bucketed(
      points: DataFrame,
      pointExpr: Column,
      intervals: DataFrame,
      loExpr: Column,
      hiExpr: Column,
      bucketWidth: Long): (DataFrame, DataFrame) = {
    require(bucketWidth > 0, "bucketWidth must be positive")
    val shared = points.columns.toSeq.intersect(intervals.columns.toSeq)
    require(shared.isEmpty,
      s"points and intervals share column names: ${shared.mkString(",")} — rename before joining")
    val reserved = BucketCols
      .filter(r => points.columns.contains(r) || intervals.columns.contains(r))
    require(reserved.isEmpty, s"reserved column names in use: ${reserved.mkString(",")}")
    val p = points
      .withColumn("__pt", pointExpr.cast("long"))
      .withColumn("__pbucket", floor(col("__pt") / bucketWidth).cast("long"))
    val i = intervals
      .withColumn("__lo", loExpr.cast("long"))
      .withColumn("__hi", hiExpr.cast("long"))
      .filter(col("__hi") > col("__lo"))
      // [lo, hi) ⇒ last occupied bucket holds hi-1
      .withColumn("__ibucket", explode(sequence(
        floor(col("__lo") / bucketWidth).cast("long"),
        floor((col("__hi") - 1) / bucketWidth).cast("long"))))
    (p, i)
  }

  /** The match of two [[bucketed]] sides: the bucket equi-key, refined by
    * the residual `lo <= point < hi`. */
  private[graft] def bucketMatch: Column =
    col("__pbucket") === col("__ibucket") &&
      col("__pt") >= col("__lo") && col("__pt") < col("__hi")

  /** SCD TYPE-2 history build from a change-data stream — the
    * dimension-maintenance shape every warehouse runs: per entity key,
    * order the CDC rows by event time (ties broken by `tieCol`, so the
    * history is deterministic under same-timestamp updates), DROP no-op
    * updates (consecutive rows carrying the same tracked value — CDC
    * feeds re-emit unchanged attributes constantly), and emit validity
    * intervals: `valid_from` = the change's own timestamp, `valid_to` =
    * the NEXT change's timestamp (null while current), a 1-based
    * `version`, and `is_current`.
    *
    * Plan shape at 100 TB: ONE shuffle on the entity key and one sort
    * serve all three window functions — change detection (lag), interval
    * close (lead), and versioning (row_number) share the identical
    * (partition, order) spec, and the no-op filter between them
    * preserves both partitioning and order, so Catalyst plans a single
    * Exchange + a single Sort (Scd2Spec pins it). No unpartitioned
    * windows anywhere; skew is bounded by the hottest entity's change
    * count, the same exposure as any per-entity sessionization.
    *
    * Null semantics: the tracked value is compared null-safely (`<=>`),
    * so null→null is a no-op and null→X / X→null are real changes; the
    * first row per key always opens a version (even a null one — the
    * row_number guard, not the lag-null trick, decides "first").
    *
    * DETERMINISM PRECONDITION: (`tsCol`, `tieCol`) must be unique per
    * key — that is what makes the window order, and therefore which
    * no-op rows collapse, reproducible across runs. CDC feeds satisfy
    * this by construction (the tie is the log sequence number / commit
    * id); with duplicate (ts, tie) pairs the surviving history is one
    * of several valid ones and may vary between runs. The streaming
    * twin ([[graft.streaming.Scd2Streams]]) sorts by the same pair and
    * carries the same assumption.
    *
    * RE-RUNS / BACKFILL: the operator is a pure function of the full
    * CDC frame — the intended refresh path is DROP-AND-REBUILD (re-run
    * over the complete, possibly backfilled, CDC log and overwrite the
    * history table), not merging new output into old output. The
    * `require` below rejects input already carrying the output columns
    * precisely to make the wrong path (feeding a built history back in
    * as CDC, or appending histories) fail loudly. Rebuilds are
    * idempotent: the operator is a projection in the algebraic sense —
    * re-running it over its own flattened output (valid_from as ts,
    * version as tie) reproduces the history row-for-row, because no-op
    * collapse already happened (Scd2Spec pins it). Incremental
    * maintenance at 100 TB is the streaming twin's job, which folds
    * per-key state instead of re-deriving. */
  def scd2History(cdc: DataFrame, keyCols: Seq[String], tsCol: String,
                  tieCol: String, valueCol: String): DataFrame = {
    require(keyCols.nonEmpty, "scd2History needs at least one key column")
    val reserved = Seq("__prev", "__rn", "version", "valid_from", "valid_to",
      "is_current").filter(cdc.columns.contains)
    require(reserved.isEmpty,
      s"reserved column names in use: ${reserved.mkString(",")}")
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(tsCol), col(tieCol))
    cdc
      .withColumn("__prev", lag(col(valueCol), 1).over(w))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1 || !(col("__prev") <=> col(valueCol)))
      .withColumn("version", row_number().over(w))
      .withColumn("valid_from", col(tsCol))
      .withColumn("valid_to", lead(col(tsCol), 1).over(w))
      .withColumn("is_current", col("valid_to").isNull)
      .select(keyCols.map(col) ++ Seq(col("version"), col(valueCol),
        col("valid_from"), col("valid_to"), col("is_current")): _*)
  }
}
