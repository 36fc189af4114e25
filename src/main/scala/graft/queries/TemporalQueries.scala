package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.TemporalJoins

/** Temporal join inventory over the events/orders/lineitem tables.
  *
  * Beyond-the-reference operators (the reference is a batch ETL with no
  * temporal alignment), core to a training-data pipeline: as-of joins
  * align the latest feature/signal to each example's timestamp; range
  * joins land fact points in interval windows. Both are implemented
  * shuffle-minimally in [[graft.operators.TemporalJoins]] — the oracle
  * states the same semantics as plain (quadratic) inequality SQL, which
  * DuckDB's IEJoin handles fine at oracle scale.
  */
object TemporalQueries {

  /** As-of join: each click aligned to the user's latest view at or
    * before it. One shuffle on user_id (union + keyed running window);
    * the inequality-join phrasing Spark would otherwise plan is a
    * nested loop. Views are pre-aggregated to one row per (user_id, ts)
    * so the as-of tie winner is well-defined in both engines. */
  val q60AsofJoin = QueryDef(
    "q60_asof_join",
    (s, d) => {
      val ev = Tables.events(s, d)
      val clicks = ev.filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts")
      val views = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id"), col("ts").as("view_ts"))
        .agg(round(max("value"), 6).as("view_value"))
      TemporalJoins.asofJoin(clicks, views, Seq("user_id"), "ts", "view_ts")
        .orderBy("event_id")
    },
    Some("""
      WITH ev AS (SELECT event_id, user_id, event_type, value, ts::TIMESTAMP AS ts FROM events),
      clicks AS (SELECT event_id, user_id, ts FROM ev WHERE event_type = 'click'),
      views AS (
        SELECT user_id, ts AS view_ts, round(max(value), 6) AS view_value
        FROM ev WHERE event_type = 'view' GROUP BY user_id, ts),
      best AS (
        SELECT c.event_id, max(v.view_ts) AS view_ts
        FROM clicks c JOIN views v
          ON c.user_id = v.user_id AND v.view_ts <= c.ts
        GROUP BY c.event_id)
      SELECT c.event_id, c.user_id, c.ts, b.view_ts, v.view_value
      FROM clicks c
      LEFT JOIN best b ON c.event_id = b.event_id
      LEFT JOIN views v ON v.user_id = c.user_id AND v.view_ts = b.view_ts
      ORDER BY c.event_id
    """))

  /** q60 under a 30-minute tolerance (pandas merge_asof semantics): a
    * click whose latest preceding view is older than the tolerance keeps
    * nulls instead of the stale match. Same one-shuffle plan — the
    * tolerance is a post-window conditional, which the oracle states as
    * the extra `view_ts + 30 min >= ts` bound on the inequality join. */
  val q60bAsofTolerance = QueryDef(
    "q60b_asof_tolerance",
    (s, d) => {
      val ev = Tables.events(s, d)
      val clicks = ev.filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts")
      val views = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id"), col("ts").as("view_ts"))
        .agg(round(max("value"), 6).as("view_value"))
      TemporalJoins.asofJoin(clicks, views, Seq("user_id"), "ts", "view_ts",
          tolerance = Some(expr("INTERVAL 30 MINUTES")))
        .orderBy("event_id")
    },
    Some("""
      WITH ev AS (SELECT event_id, user_id, event_type, value, ts::TIMESTAMP AS ts FROM events),
      clicks AS (SELECT event_id, user_id, ts FROM ev WHERE event_type = 'click'),
      views AS (
        SELECT user_id, ts AS view_ts, round(max(value), 6) AS view_value
        FROM ev WHERE event_type = 'view' GROUP BY user_id, ts),
      best AS (
        SELECT c.event_id, max(v.view_ts) AS view_ts
        FROM clicks c JOIN views v
          ON c.user_id = v.user_id AND v.view_ts <= c.ts
         AND v.view_ts + INTERVAL 30 MINUTE >= c.ts
        GROUP BY c.event_id)
      SELECT c.event_id, c.user_id, c.ts, b.view_ts, v.view_value
      FROM clicks c
      LEFT JOIN best b ON c.event_id = b.event_id
      LEFT JOIN views v ON v.user_id = c.user_id AND v.view_ts = b.view_ts
      ORDER BY c.event_id
    """))

  /** q60 reversed: each click aligned to the user's EARLIEST view at or
    * after it (pandas merge_asof direction='forward') — same
    * one-shuffle plan with the window frame flipped; the oracle states
    * it as min(view_ts >= ts). */
  val q60cAsofForward = QueryDef(
    "q60c_asof_forward",
    (s, d) => {
      val ev = Tables.events(s, d)
      val clicks = ev.filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts")
      val views = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id"), col("ts").as("view_ts"))
        .agg(round(max("value"), 6).as("view_value"))
      TemporalJoins.asofJoin(clicks, views, Seq("user_id"), "ts", "view_ts",
          direction = "forward")
        .orderBy("event_id")
    },
    Some("""
      WITH ev AS (SELECT event_id, user_id, event_type, value, ts::TIMESTAMP AS ts FROM events),
      clicks AS (SELECT event_id, user_id, ts FROM ev WHERE event_type = 'click'),
      views AS (
        SELECT user_id, ts AS view_ts, round(max(value), 6) AS view_value
        FROM ev WHERE event_type = 'view' GROUP BY user_id, ts),
      best AS (
        SELECT c.event_id, min(v.view_ts) AS view_ts
        FROM clicks c JOIN views v
          ON c.user_id = v.user_id AND v.view_ts >= c.ts
        GROUP BY c.event_id)
      SELECT c.event_id, c.user_id, c.ts, b.view_ts, v.view_value
      FROM clicks c
      LEFT JOIN best b ON c.event_id = b.event_id
      LEFT JOIN views v ON v.user_id = c.user_id AND v.view_ts = b.view_ts
      ORDER BY c.event_id
    """))

  /** Range join: lineitem ship dates landed in one-week promo windows
    * (high-value orders). Bucketized to a hash equi-join on week id —
    * the exploded interval side is tiny so Catalyst broadcasts it; a
    * bare range predicate would plan BroadcastNestedLoopJoin over the
    * whole fact table. Inner join: windows with no shipments drop. */
  val q61RangeJoin = QueryDef(
    "q61_range_join",
    (s, d) => {
      val promo = Tables.orders(s, d)
        .filter(col("o_totalprice") > 480000.0)
        .select(
          col("o_orderkey"),
          col("o_orderdate").as("lo"),
          (col("o_orderdate") + expr("INTERVAL 7 DAY")).as("hi"))
      // Aggregate pushdown through the range join: overlapping 7-day
      // windows give ~17× pair amplification (10M pairs from 600k rows at
      // sf0.1 — measured 7 s). Points repeat heavily (2.5k distinct ship
      // dates), so pre-aggregate per EXACT point value first, join the
      // distinct values, then sum the partials — semantically identical
      // for any data (grouping by the very value the predicate reads) and
      // the join shrinks to |distinct points| × overlap. Decimal partials
      // keep the regrouped sum exact (doubles would re-order additions and
      // land on .xx5 rounding boundaries — one cent off at sf0.01 when
      // this summed doubles per pair).
      val byDate = Tables.lineitem(s, d)
        .select("l_shipdate", "l_extendedprice", "l_discount")
        .groupBy("l_shipdate")
        .agg(
          count(lit(1)).as("__n"),
          sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .cast("decimal(18,6)")).as("__rev"))
      TemporalJoins.rangeJoin(
          byDate, unix_timestamp(col("l_shipdate")),
          promo, unix_timestamp(col("lo")), unix_timestamp(col("hi")),
          bucketWidth = 7L * 24 * 3600)
        .groupBy("o_orderkey")
        .agg(
          sum("__n").as("n_hits"),
          round(sum("__rev"), 2).cast("double").as("revenue"))
        .orderBy("o_orderkey")
    },
    Some("""
      WITH promo AS (
        SELECT o_orderkey, o_orderdate AS lo, o_orderdate + INTERVAL 7 DAY AS hi
        FROM orders WHERE o_totalprice > 480000.0)
      SELECT p.o_orderkey, count(*) AS n_hits,
             round(sum((l.l_extendedprice * (1.0 - l.l_discount))::DECIMAL(18,6)), 2)::DOUBLE AS revenue
      FROM promo p
      JOIN lineitem l ON l.l_shipdate >= p.lo AND l.l_shipdate < p.hi
      GROUP BY p.o_orderkey
      ORDER BY p.o_orderkey
    """))

  /** Conversion funnel (view → click → purchase, each stage within 24 h
    * of the prior) — the sequential-pattern query of product analytics.
    * Expressed as three chained min-aggregates, NOT a per-user ordered
    * window: each stage is a filter + groupBy(user) min(ts) + join back,
    * so the heavy side shuffles at most once per stage on user_id and
    * partial aggs collapse map-side — per-user event history length
    * never enters a sort. Users missing a stage (or outside the window)
    * report the stages they did reach (1/2/3). */
  val q107Funnel = QueryDef(
    "q107_funnel",
    (s, d) => {
      val ev = Tables.events(s, d)
      val v = ev.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min(col("ts")).as("t_view"))
      val c = ev.filter(col("event_type") === "click")
        .join(v, "user_id")
        .filter(col("ts") > col("t_view") &&
          col("ts") <= col("t_view") + expr("INTERVAL 24 HOURS"))
        .groupBy("user_id").agg(min(col("ts")).as("t_click"))
      val p = ev.filter(col("event_type") === "purchase")
        .join(c, "user_id")
        .filter(col("ts") > col("t_click") &&
          col("ts") <= col("t_click") + expr("INTERVAL 24 HOURS"))
        .groupBy("user_id").agg(min(col("ts")).as("t_purchase"))
      v.join(c, Seq("user_id"), "left")
        .join(p, Seq("user_id"), "left")
        .select(col("user_id"), col("t_view"), col("t_click"), col("t_purchase"),
          (lit(1) + when(col("t_click").isNotNull, 1).otherwise(0) +
            when(col("t_purchase").isNotNull, 1).otherwise(0)).as("stages"))
        .orderBy("user_id")
    },
    Some("""
      WITH v AS (
        SELECT user_id, min(ts::TIMESTAMP) AS t_view
        FROM events WHERE event_type = 'view' GROUP BY user_id),
      c AS (
        SELECT e.user_id, min(e.ts::TIMESTAMP) AS t_click
        FROM events e JOIN v ON e.user_id = v.user_id
        WHERE e.event_type = 'click' AND e.ts::TIMESTAMP > v.t_view
          AND e.ts::TIMESTAMP <= v.t_view + INTERVAL 24 HOUR
        GROUP BY e.user_id),
      p AS (
        SELECT e.user_id, min(e.ts::TIMESTAMP) AS t_purchase
        FROM events e JOIN c ON e.user_id = c.user_id
        WHERE e.event_type = 'purchase' AND e.ts::TIMESTAMP > c.t_click
          AND e.ts::TIMESTAMP <= c.t_click + INTERVAL 24 HOUR
        GROUP BY e.user_id)
      SELECT v.user_id, v.t_view, c.t_click, p.t_purchase,
             1 + (CASE WHEN c.t_click IS NOT NULL THEN 1 ELSE 0 END)
               + (CASE WHEN p.t_purchase IS NOT NULL THEN 1 ELSE 0 END) AS stages
      FROM v LEFT JOIN c ON v.user_id = c.user_id
      LEFT JOIN p ON v.user_id = p.user_id
      ORDER BY v.user_id
    """))

  /** Last-touch attribution: every purchase credits the most recent
    * click at or before it from the same user — the as-of join operator
    * (q60 family) composed into its canonical marketing-analytics use,
    * then rolled up per user: purchases, attributed purchases, and
    * attributed revenue. Same one-shuffle as-of plan (union + keyed
    * window pass), one more partial-aggregated rollup. */
  val q110LastTouchAttribution = QueryDef(
    "q110_last_touch_attribution",
    (s, d) => {
      val ev = Tables.events(s, d)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"),
          col("value").cast("decimal(14,2)").as("revenue"))
      val clicks = ev.filter(col("event_type") === "click")
        .groupBy(col("user_id"), col("ts").as("click_ts"))
        .agg(count(lit(1)).as("n_click_dups"))
        .drop("n_click_dups")
      TemporalJoins.asofJoin(purchases, clicks, Seq("user_id"), "ts", "click_ts")
        .groupBy("user_id")
        .agg(
          count(lit(1)).as("n_purchases"),
          sum(when(col("click_ts").isNotNull, 1L).otherwise(0L)).as("n_attributed"),
          sum(when(col("click_ts").isNotNull, col("revenue"))
            .otherwise(lit(0).cast("decimal(14,2)"))).cast("double").as("attributed_revenue"))
        .orderBy("user_id")
    },
    Some("""
      WITH ev AS (
        SELECT event_id, user_id, event_type, value, ts::TIMESTAMP AS ts
        FROM events),
      purchases AS (
        SELECT event_id, user_id, ts, value::DECIMAL(14,2) AS revenue
        FROM ev WHERE event_type = 'purchase'),
      clicks AS (
        SELECT DISTINCT user_id, ts AS click_ts FROM ev
        WHERE event_type = 'click'),
      best AS (
        SELECT p.event_id, max(c.click_ts) AS click_ts
        FROM purchases p JOIN clicks c
          ON p.user_id = c.user_id AND c.click_ts <= p.ts
        GROUP BY p.event_id)
      SELECT p.user_id,
             count(*) AS n_purchases,
             sum(CASE WHEN b.click_ts IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
               AS n_attributed,
             sum(CASE WHEN b.click_ts IS NOT NULL THEN p.revenue
                 ELSE 0::DECIMAL(14,2) END)::DOUBLE AS attributed_revenue
      FROM purchases p LEFT JOIN best b ON p.event_id = b.event_id
      GROUP BY p.user_id
      ORDER BY p.user_id
    """))

  /** Frame-based running aggregates (ROWS BETWEEN): per-user 5-row
    * trailing moving average and running decimal sum over the event
    * stream — the ordered-frame window family (the rank family is
    * covered elsewhere). Partitioned by user, so no global window; the
    * decimal running sum keeps both engines bit-identical and the final
    * cast to double is representation-stable. */
  val q111MovingAvg = QueryDef(
    "q111_moving_avg",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts"), col("event_id"))
      val trail = w.rowsBetween(-4, 0)
      Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("ts"),
          col("value").cast("decimal(14,2)").as("v"))
        .select(col("event_id"), col("user_id"),
          round(avg(col("v")).over(trail), 4).cast("double").as("ma5"),
          sum(col("v")).over(trail.rowsBetween(Window.unboundedPreceding, 0))
            .cast("double").as("running"))
        .orderBy("event_id")
    },
    Some("""
      WITH ev AS (
        SELECT event_id, user_id, ts::TIMESTAMP AS ts,
               value::DECIMAL(14,2) AS v
        FROM events)
      SELECT event_id, user_id,
             round(avg(v) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), 4)::DOUBLE AS ma5,
             sum(v) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::DOUBLE
               AS running
      FROM ev
      ORDER BY event_id
    """))

  /** Time-series resampling with forward fill: each user's event stream
    * regularized onto an hourly grid spanning their active range, every
    * grid point carrying the last observation at or before it — the
    * gap-filling step of metric pipelines. The grid is `sequence()` +
    * explode (no driver loop, no cross join with a calendar table); the
    * fill is the as-of join operator, so the whole query is one grid
    * explode + one keyed window pass. Grid points before the first
    * event in their opening hour keep nulls (nothing to carry). */
  val q116GapFill = QueryDef(
    "q116_gap_fill",
    (s, d) => {
      val ev = Tables.events(s, d)
      val obs = ev.groupBy(col("user_id"), col("ts").as("ev_ts"))
        .agg(round(max("value"), 6).as("ev_value"))
      val grid = ev.groupBy("user_id")
        .agg(date_trunc("hour", min("ts")).as("t0"),
          date_trunc("hour", max("ts")).as("t1"))
        .select(col("user_id"),
          explode(sequence(col("t0"), col("t1"), expr("INTERVAL 1 HOUR")))
            .as("grid_ts"))
      TemporalJoins.asofJoin(grid, obs, Seq("user_id"), "grid_ts", "ev_ts")
        .select(col("user_id"), col("grid_ts"), col("ev_ts"), col("ev_value"))
        .orderBy("user_id", "grid_ts")
    },
    Some("""
      WITH ev AS (
        SELECT user_id, ts::TIMESTAMP AS ts, value FROM events),
      obs AS (
        SELECT user_id, ts AS ev_ts, round(max(value), 6) AS ev_value
        FROM ev GROUP BY user_id, ts),
      span AS (
        SELECT user_id, date_trunc('hour', min(ts)) AS t0,
               date_trunc('hour', max(ts)) AS t1
        FROM ev GROUP BY user_id),
      grid AS (
        SELECT user_id, unnest(generate_series(t0, t1, INTERVAL 1 HOUR))
                 AS grid_ts
        FROM span),
      best AS (
        SELECT g.user_id, g.grid_ts, max(o.ev_ts) AS ev_ts
        FROM grid g JOIN obs o
          ON o.user_id = g.user_id AND o.ev_ts <= g.grid_ts
        GROUP BY g.user_id, g.grid_ts)
      SELECT g.user_id, g.grid_ts, b.ev_ts, o.ev_value
      FROM grid g
      LEFT JOIN best b ON b.user_id = g.user_id AND b.grid_ts = g.grid_ts
      LEFT JOIN obs o ON o.user_id = g.user_id AND o.ev_ts = b.ev_ts
      ORDER BY g.user_id, g.grid_ts
    """))

  /** First-order Markov transition matrix over per-user event sequences
    * (LEAD within user, then a global (from, to) count + row-normalized
    * probabilities) — the path-analysis aggregate behind "what do users
    * do after X". One per-user window pass + two small aggregations;
    * the 5×5 output is driver-sized however large the event log is. */
  val q118TransitionMatrix = QueryDef(
    "q118_transition_matrix",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val trans = Tables.events(s, d)
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("to_type", lead(col("event_type"), 1).over(w))
        .filter(col("to_type").isNotNull)
      val counts = trans
        .groupBy(col("event_type").as("from_type"), col("to_type"))
        .agg(count(lit(1)).as("n"))
      val totals = counts.groupBy("from_type").agg(sum(col("n")).as("total"))
      counts.join(totals, "from_type")
        .select(col("from_type"), col("to_type"), col("n"),
          round(col("n").cast("double") / col("total"), 6).as("p"))
        .orderBy("from_type", "to_type")
    },
    Some("""
      WITH ev AS (
        SELECT user_id, event_id, event_type, ts::TIMESTAMP AS ts FROM events),
      trans AS (
        SELECT event_type AS from_type,
               lead(event_type, 1) OVER (PARTITION BY user_id
                 ORDER BY ts, event_id) AS to_type
        FROM ev),
      counts AS (
        SELECT from_type, to_type, count(*) AS n
        FROM trans WHERE to_type IS NOT NULL
        GROUP BY from_type, to_type),
      totals AS (
        SELECT from_type, sum(n)::BIGINT AS total FROM counts GROUP BY from_type)
      SELECT c.from_type, c.to_type, c.n,
             round(c.n::DOUBLE / t.total, 6) AS p
      FROM counts c JOIN totals t USING (from_type)
      ORDER BY from_type, to_type
    """))

  /** SCD TYPE-2 dimension history from the events CDC stream
    * ([[TemporalJoins.scd2History]]): each user's event_type is treated
    * as the tracked dimension attribute, consecutive no-op updates
    * collapse, and each surviving change becomes a versioned validity
    * interval with `is_current` on the open one — the
    * warehouse-maintenance shape (Delta/Iceberg MERGE-based SCD2 builds
    * compute exactly this frame before writing). One shuffle on
    * user_id, one sort, three window functions sharing it (Scd2Spec
    * pins the single-Exchange plan). */
  val q128Scd2History = QueryDef(
    "q128_scd2_history",
    (s, d) => {
      val ev = Tables.events(s, d)
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      TemporalJoins.scd2History(ev, Seq("user_id"), "ts", "event_id",
          "event_type")
        .withColumnRenamed("event_type", "status")
        .orderBy("user_id", "version")
    },
    Some("""
      WITH src AS (
        SELECT user_id, ts::TIMESTAMP AS ts, event_id, event_type FROM events),
      ordered AS (
        SELECT user_id, ts, event_id, event_type,
               lag(event_type) OVER w AS prev,
               row_number() OVER w AS rn
        FROM src WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      changes AS (
        SELECT user_id, ts, event_id, event_type FROM ordered
        WHERE rn = 1 OR prev IS DISTINCT FROM event_type),
      hist AS (
        SELECT user_id, event_type, ts,
               row_number() OVER w2 AS version,
               lead(ts) OVER w2 AS valid_to
        FROM changes WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id))
      SELECT user_id, version, event_type AS status, ts AS valid_from,
             valid_to, valid_to IS NULL AS is_current
      FROM hist ORDER BY user_id, version
    """))

  /** The READ side of q128 — the point-in-time lookup a warehouse user
    * runs daily against an SCD2 dimension: each fact row (purchases)
    * joined to the dimension version valid AT FACT TIME, i.e. the
    * version with `ts ∈ [valid_from, valid_to)` for the fact's key.
    *
    * Because non-empty SCD2 intervals tile each key's timeline, the
    * interval-membership join IS a backward as-of join on valid_from —
    * so this composes [[TemporalJoins.scd2History]] with
    * [[TemporalJoins.asofJoin]]: ONE keyed shuffle for the history
    * build and one union+keyed-window pass for the lookup, never an
    * inequality nested loop and no interval explosion (the q61
    * bucketized range join is the tool when intervals OVERLAP; SCD2
    * intervals never do). Same-instant versions make empty intervals
    * ([t, t)) — superseded in the same commit instant — which are
    * filtered first, exactly the rows interval semantics says no fact
    * can land in; that filter also restores the as-of uniqueness
    * precondition (non-empty starts are strictly increasing per key).
    * Facts at the exact change instant take the NEW version
    * (ts == valid_from is in [valid_from, valid_to)) — both the as-of
    * inclusivity and the oracle's >= agree. The oracle states the same
    * semantics as the bare interval-membership join. */
  val q128bScd2PointInTime = QueryDef(
    "q128b_scd2_point_in_time",
    (s, d) => {
      val ev = Tables.events(s, d)
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      val hist = TemporalJoins.scd2History(ev, Seq("user_id"), "ts",
          "event_id", "event_type")
        .filter(col("valid_to").isNull || col("valid_to") > col("valid_from"))
        .select(col("user_id"), col("valid_from"), col("version"),
          col("event_type").as("status"))
      val facts = Tables.events(s, d)
        .filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      TemporalJoins.asofJoin(facts, hist, Seq("user_id"), "ts", "valid_from")
        .select(col("event_id"), col("user_id"), col("ts"),
          col("version"), col("status"), col("valid_from"))
        .orderBy("event_id")
    },
    Some("""
      WITH src AS (
        SELECT user_id, ts::TIMESTAMP AS ts, event_id, event_type FROM events),
      ordered AS (
        SELECT user_id, ts, event_id, event_type,
               lag(event_type) OVER w AS prev,
               row_number() OVER w AS rn
        FROM src WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      changes AS (
        SELECT user_id, ts, event_id, event_type FROM ordered
        WHERE rn = 1 OR prev IS DISTINCT FROM event_type),
      hist AS (
        SELECT user_id, event_type AS status, ts AS valid_from,
               row_number() OVER w2 AS version,
               lead(ts) OVER w2 AS valid_to
        FROM changes WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id)),
      dim AS (
        SELECT user_id, version, status, valid_from, valid_to FROM hist
        WHERE valid_to IS NULL OR valid_to > valid_from),
      facts AS (
        SELECT event_id, user_id, ts FROM src WHERE event_type = 'purchase')
      SELECT f.event_id, f.user_id, f.ts, d.version, d.status, d.valid_from
      FROM facts f
      LEFT JOIN dim d
        ON d.user_id = f.user_id
       AND f.ts >= d.valid_from
       AND (d.valid_to IS NULL OR f.ts < d.valid_to)
      ORDER BY f.event_id
    """))

  def all: Seq[QueryDef] = Seq(q60AsofJoin, q60bAsofTolerance,
    q60cAsofForward, q61RangeJoin, q107Funnel, q110LastTouchAttribution,
    q111MovingAvg, q116GapFill, q118TransitionMatrix, q128Scd2History,
    q128bScd2PointInTime)
}
