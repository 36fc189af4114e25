package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed graph algorithms over plain (src, dst) edge DataFrames —
  * the iterative-computation family (PageRank) and the multi-way
  * self-join family (triangles), both expressed as relational plans so
  * Catalyst owns the physical strategy.
  *
  * Scale notes:
  *  - PageRank is the canonical shuffle-per-iteration workload: each
  *    step is join(ranks ⋈ edges on src) → groupBy(dst) sum. At 100 TB
  *    the win is pre-partitioning `edges` by src (bucketed table) so the
  *    per-iteration join reuses the layout and only the skinny rank
  *    frame shuffles; iteration count is fixed (driver loop over lazy
  *    plans — nothing materializes until the action).
  *  - Triangle counting uses the degree-orientation trick: orient every
  *    undirected edge from the lower-(degree, id) endpoint to the
  *    higher, count directed wedges closed by an oriented edge. Each
  *    wedge join is bounded by Σ orientedDeg² where oriented out-degree
  *    is ≤ √(2m) — the standard m^{3/2} bound instead of Σ deg².
  */
object GraphAlgos {

  /** `iters` PageRank steps at damping `d` over `edges` (src, dst).
    * Returns (node, rank). Node set = src ∪ dst. DANGLING nodes (no
    * out-edge — ubiquitous in real host graphs) are handled with the
    * standard mass-redistribution term: each step adds
    * `damping · Σ(rank over dangling) / n` uniformly, so Σrank stays 1
    * instead of silently leaking toward (1-d) (the spec pins mass
    * conservation; on sink-free graphs the term is exactly 0.0 and the
    * update reproduces the plain form bit-for-bit — the q112 oracle has
    * no dangling term and still hash-matches).
    *
    * `hasSinks` is the caller's knowledge when supplied (a generator
    * that guarantees out-edges, a crawl frontier that never does), else
    * a one-time probe of the static dangling set (`limit 1` on nodes ∖
    * out-degree keys; one extra pass over the edge derivation, cheap
    * next to the iteration shuffles but not free — that is why callers
    * may assert it away). `Some(false)` on a graph that DOES have sinks
    * silently re-opens the mass leak — assert only what the edge source
    * guarantees. On sink-free graphs the dangling term is elided
    * (exactly 0.0) and the update reproduces the plain form bit-for-bit.
    *
    * Execution shape (BOTH cases): an eager per-iteration loop over
    * once-materialized static frames — the GraphX/ALS discipline.
    * Each step is join(ranks ⋈ edges⋈deg on src) → groupBy(dst) sum,
    * with the skinny (node, rank) frame `localCheckpoint`ed between
    * steps: constant plan depth, the wide edge frame never re-shuffles
    * (pre-bucket it by src at 100 TB), and the previous step's blocks
    * are freed as soon as the next exists, so live memory stays O(one
    * rank frame). The earlier sink-free form built the ten steps as ONE
    * lazy plan (ReusedExchange sharing the static subtrees) — measured
    * this round at 0.55 s of task time under a 4.8 s wall: ~90% of the
    * query was the driver analyzing/optimizing/codegen-compiling the
    * 10-deep tree, the cost the guide's §7.3 "very large plans" note
    * warns about, and it grows with iteration count while the eager
    * loop's per-step planning cost is constant. The out-degree is also
    * pre-joined onto the edge list ONCE (it never changes between
    * iterations) instead of re-joining deg inside every step — same
    * `rank / outdeg` division, one join per step instead of two. */
  def pageRank(edges0: DataFrame, iters: Int, damping: Double,
               hasSinks: Option[Boolean] = None): DataFrame = {
    require(iters >= 1)
    def derive(edges: DataFrame) = {
      val nodes = edges.select(col("src").as("node"))
        .union(edges.select(col("dst").as("node"))).distinct()
      val deg = edges.groupBy("src")
        .agg(count(lit(1)).cast("double").as("outdeg"))
      (nodes, deg)
    }
    val hasDangling = hasSinks.getOrElse {
      val (nodes0, deg0) = derive(edges0)
      !nodes0.join(deg0.select(col("src").as("node")), Seq("node"), "left_anti")
        .isEmpty
    }
    // Static frames materialize ONCE up front — the GraphX "cache the
    // edges" step; MEMORY_AND_DISK, so 100 TB edge frames spill rather
    // than OOM (or hand pageRank an already-materialized bucketed edge
    // table). `ew` carries the sender's out-degree on every edge row.
    // Every cut routes through [[Barrier.cut]] so the session-wide
    // `graft.barrier.checkpointDir` opt-in upgrades a multi-hour
    // PageRank to RELIABLE checkpoints (executor-local blocks die with
    // their executors under dynamic allocation / spot kills) exactly
    // like every other barrier site; the explicit previous-block
    // unpersist pairing below stays owned HERE (block management a
    // generic helper must not have — a no-op on the reliable path,
    // where files outlive the RDD handle).
    val edges = Barrier.cut(edges0.select(col("src"), col("dst")))
    val (nodesL, deg) = derive(edges)
    // the node count rides the nodes cut's materialization job as an
    // observed metric (the ivfPqTopK seed-gather pattern) instead of a
    // separate count/checkpoint action — same count of the same
    // materialized frame, one driver round-trip fewer; n then enters
    // the update as a driver literal (1/n, (1−d)/n and dm/n divide the
    // same IEEE operands wherever the division runs, so every rank
    // float is unchanged — the oracle replays the same formula).
    // Bounded wait + count fallback ([[Barrier.observed]]).
    val obs = org.apache.spark.sql.Observation()
    val nodes = Barrier.cut(nodesL.observe(obs, count(lit(1)).as("n")))
    val ew = Barrier.cut(edges.join(deg, "src"))
    val dang = if (hasDangling) Barrier.cut(nodes.join(
      deg.select(col("src").as("node")), Seq("node"), "left_anti"))
      else null
    val n: Double =
      Barrier.observed(obs)(_.getLong(0).toDouble)(nodes.count().toDouble)
    var ranks = nodes.select(col("node"), (lit(1.0) / lit(n)).as("rank"))
    var prevRdd: Option[org.apache.spark.rdd.RDD[_]] = None
    // Cut cadence: on the sink-free shape each rank frame feeds the next
    // step ONCE (a linear chain), so the cut can amortize over several
    // steps — fewer materialization jobs, bounded plan depth (measured
    // 1.8 → 1.3 s at 10 iterations going from every-step to every-5).
    // The dangling shape reads each rank frame TWICE per step (the
    // contribution join AND the dangling-mass aggregate), so a lazy
    // k-step batch holds 2^k copies of the chain — analysis blows up
    // exponentially; it keeps the every-step cut.
    val cutEvery = if (hasDangling) 1 else 5
    (1 to iters).foreach { it =>
      if ((it - 1) % cutEvery == 0) {
        ranks = Barrier.cut(ranks)
        prevRdd.foreach(_.unpersist(false))
        prevRdd = Some(ranks.queryExecution.toRdd)
      }
      val contrib = ranks.join(ew, col("node") === col("src"))
        .groupBy(col("dst"))
        .agg(sum(col("rank") / col("outdeg")).as("c"))
      // Σ rank over sink nodes: semi-join against the broadcast static
      // dangling set + 1-row aggregate. Skipped (exactly-0 term elided)
      // on sink-free graphs, where the update below reproduces the plain
      // form bit-for-bit.
      val danglingTerm =
        if (hasDangling) {
          val dm = ranks.join(broadcast(dang), Seq("node"), "left_semi")
            .agg(coalesce(sum(col("rank")), lit(0.0)).as("dm"))
          Some(broadcast(dm))
        } else None
      val withDm = danglingTerm.map(nodes.crossJoin).getOrElse(nodes)
      val collected =
        if (danglingTerm.isDefined)
          coalesce(col("c"), lit(0.0)) + col("dm") / lit(n)
        else coalesce(col("c"), lit(0.0))
      ranks = withDm
        .join(contrib, col("node") === col("dst"), "left")
        .select(col("node"),
          (lit(1.0 - damping) / lit(n) +
            lit(damping) * collected).as("rank"))
    }
    ranks
  }

  /** Multi-source BFS hop distances over directed edges — the
    * FRONTIER-EXPANSION workload (crawl-depth analysis, link-distance
    * quality features over a host graph). Returns (node, dist) for every
    * node reachable from `sources` (a (node) frame) within `maxIters`
    * hops; unreachable nodes are absent.
    *
    * Scale shape: each step joins only the NEWLY-DISCOVERED frontier
    * against the edges (not the whole visited set — after the frontier
    * peak that is the difference between O(frontier) and O(reached) work
    * per step), anti-joins the visited set to keep first-discovery
    * distances, and eagerly materializes the skinny frontier
    * (`localCheckpoint`, the [[pageRank]] sinks-loop discipline — each
    * frontier is consumed twice: expansion and the emptiness probe). The
    * visited set stays a LAZY union of the ≤ maxIters checkpointed
    * frontiers (RDD-backed leaves — constant recompute, linear plan
    * width). The wide edge frame materializes once up front
    * (MEMORY_AND_DISK; at 100 TB hand it an already-bucketed-by-src
    * table instead). Early-exits when a frontier is empty. */
  def bfsDistances(edges0: DataFrame, sources: DataFrame,
                   maxIters: Int): DataFrame = {
    require(maxIters >= 0)
    val edges = Barrier.cut(edges0.select(col("src"), col("dst")))
    var frontier = Barrier.cut(sources.select(col("node")).distinct()
      .withColumn("dist", lit(0L)))
    var dist = frontier
    var i = 0
    var done = frontier.isEmpty
    while (!done && i < maxIters) {
      val next = Barrier.cut(frontier.join(edges, col("node") === col("src"))
        .select(col("dst").as("node")).distinct()
        .join(dist.select("node"), Seq("node"), "left_anti")
        .withColumn("dist", lit(i + 1L)))
      if (next.isEmpty) done = true
      else {
        dist = dist.unionByName(next)
        frontier = next
        i += 1
      }
    }
    dist
  }

  /** Per-node triangle counts of the UNDIRECTED graph given as a
    * symmetric-free edge list (each undirected edge once, src < dst not
    * required; self-loops and duplicates are cleaned here). Returns
    * (node, n_triangles) for nodes in ≥1 triangle. */
  def triangles(edges: DataFrame): DataFrame = {
    // canonical undirected form: a < b, deduped, no loops
    val und = edges.select(
        least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    val deg = und.select(col("a").as("v"))
      .union(und.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("d"))
    // orient from the (degree, id)-smaller endpoint
    val da = deg.select(col("v").as("a"), col("d").as("da"))
    val db = deg.select(col("v").as("b"), col("d").as("db"))
    val oriented = und.join(da, "a").join(db, "b")
      .select(
        when(col("da") < col("db") ||
          (col("da") === col("db") && col("a") < col("b")), col("a"))
          .otherwise(col("b")).as("lo"),
        when(col("da") < col("db") ||
          (col("da") === col("db") && col("a") < col("b")), col("b"))
          .otherwise(col("a")).as("hi"))
    // wedges lo→x, lo→y (x < y by id) closed by oriented edge x→y or y→x:
    // since orientation is total, the closing edge is oriented from the
    // (degree,id)-smaller of x,y — join both legs via the canonical
    // undirected form instead
    val w1 = oriented.select(col("lo"), col("hi").as("x"))
    val w2 = oriented.select(col("lo"), col("hi").as("y"))
    val wedges = w1.join(w2, "lo").filter(col("x") < col("y"))
    val closed = wedges.join(
      und.select(col("a").as("x"), col("b").as("y")), Seq("x", "y"))
    closed.select(explode(array(col("lo"), col("x"), col("y"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_triangles"))
  }
}
