package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.GraphAlgos

/** Graph-analytics operators ([[graft.operators.GraphAlgos]]) over a
  * deterministic synthetic graph on the document ids (four out-edges
  * per node: d+1, d+2, 7d+3, 13d+5 mod N, loops dropped — the d+1/d+2
  * ring closes a triangle at every consecutive triple, and the affine
  * families add irregular chords) — link analysis is
  * the web-corpus quality signal family (host-graph PageRank feeds page
  * quality scores; triangle density flags spam farms).
  */
object GraphQueries {

  /** Shared edge derivation, mirrored verbatim in the oracles. */
  private def edgesDf(s: org.apache.spark.sql.SparkSession, d: String) = {
    val n = Tables.documents(s, d).agg(count(lit(1)).as("n"))
    Tables.documents(s, d).crossJoin(broadcast(n))
      .select(col("doc_id").as("src"), col("n"),
        explode(array(
          (col("doc_id") + 1) % col("n"),
          (col("doc_id") + 2) % col("n"),
          (col("doc_id") * 7 + 3) % col("n"),
          (col("doc_id") * 13 + 5) % col("n"))).as("dst"))
      .filter(col("src") =!= col("dst"))
      .select("src", "dst").distinct()
  }

  private val EdgesSql = """
      nn AS (SELECT count(*)::BIGINT AS n FROM documents),
      edges0 AS (
        SELECT doc_id AS src, (doc_id + 1) % (SELECT n FROM nn) AS dst FROM documents
        UNION ALL
        SELECT doc_id, (doc_id + 2) % (SELECT n FROM nn) FROM documents
        UNION ALL
        SELECT doc_id, (doc_id * 7 + 3) % (SELECT n FROM nn) FROM documents
        UNION ALL
        SELECT doc_id, (doc_id * 13 + 5) % (SELECT n FROM nn) FROM documents),
      edges AS (SELECT DISTINCT src, dst FROM edges0 WHERE src <> dst)"""

  /** 10 damped PageRank iterations — the shuffle-per-iteration workload.
    * The oracle unrolls the same ten steps as chained CTEs (recursive
    * CTEs cannot aggregate in the recursive term), with the identical
    * update expression, so ranks match at 1e-9 after ten rounds of
    * engine-local float summation (drift ~1e-15/step, far below). */
  val q112PageRank = QueryDef(
    "q112_pagerank",
    (s, d) =>
      // hasSinks=false is a generator guarantee: every doc_id appears as
      // src with a surviving out-edge ((d+1)%n ≠ d for n ≥ 2)
      GraphAlgos.pageRank(edgesDf(s, d), iters = 10, damping = 0.85,
        hasSinks = Some(false))
        .select(col("node"), round(col("rank"), 9).as("rank"))
        .orderBy("node"),
    Some {
      val iters = (1 to 10).map { i =>
        s"""r$i AS (
        SELECT n.node, 0.15 / (SELECT n FROM nd) + 0.85 * coalesce(c.c, 0) AS rank
        FROM nodes n LEFT JOIN (
          SELECT e.dst, sum(r.rank / g.outdeg) AS c
          FROM r${i - 1} r JOIN edges e ON r.node = e.src
          JOIN deg g ON g.src = e.src
          GROUP BY e.dst) c ON c.dst = n.node)"""
      }.mkString(",\n      ")
      s"""
      WITH $EdgesSql,
      nodes AS (
        SELECT src AS node FROM edges UNION SELECT dst FROM edges),
      nd AS (SELECT count(*)::DOUBLE AS n FROM nodes),
      deg AS (SELECT src, count(*)::DOUBLE AS outdeg FROM edges GROUP BY src),
      r0 AS (SELECT node, 1.0 / (SELECT n FROM nd) AS rank FROM nodes),
      $iters
      SELECT node, round(rank, 9) AS rank FROM r10
      ORDER BY node
      """
    })

  /** PageRank on a graph WITH sinks: dropping every out-edge of nodes
    * ≡ 0 (mod 17) makes them DANGLING (they keep in-edges — real host
    * graphs are full of such pages). Gates the mass-redistribution term
    * of [[GraphAlgos.pageRank]]: each oracle step folds
    * `0.85 · Σ(rank over dangling)/n` in exactly like the engine, so a
    * rank vector that silently leaks mass (the naive update: Σrank
    * decays toward 0.15) cannot hash-match. GraphAlgosSpec additionally
    * pins Σrank ≈ 1 on this shape. */
  val q112bPageRankDangling = QueryDef(
    "q112b_pagerank_dangling",
    (s, d) =>
      GraphAlgos.pageRank(
        edgesDf(s, d).filter(pmod(col("src"), lit(17)) =!= 0),
        iters = 10, damping = 0.85, hasSinks = Some(true))
        .select(col("node"), round(col("rank"), 9).as("rank"))
        .orderBy("node"),
    Some {
      // MATERIALIZED on every iteration CTE: each r(i-1) is referenced
      // TWICE (the dangling-mass aggregate d(i) and the contribution join
      // in r(i)); inlined, DuckDB expands ~2^10 copies of the base
      // subtree and effectively hangs (>2 min at sf0.01; materialized it
      // runs in ~0.1 s). This is what zeroed CORRECTNESS_r08.
      val iters = (1 to 10).map { i =>
        s"""d$i AS MATERIALIZED (
        SELECT coalesce(sum(rank), 0) AS dm FROM r${i - 1}
        WHERE node NOT IN (SELECT src FROM sedges)),
      r$i AS MATERIALIZED (
        SELECT n.node, 0.15 / (SELECT n FROM nd)
               + 0.85 * (coalesce(c.c, 0) + (SELECT dm FROM d$i) / (SELECT n FROM nd)) AS rank
        FROM nodes n LEFT JOIN (
          SELECT e.dst, sum(r.rank / g.outdeg) AS c
          FROM r${i - 1} r JOIN sedges e ON r.node = e.src
          JOIN deg g ON g.src = e.src
          GROUP BY e.dst) c ON c.dst = n.node)"""
      }.mkString(",\n      ")
      s"""
      WITH $EdgesSql,
      -- MATERIALIZED: the 10 unrolled steps reference sedges ~30× (contrib
      -- join, deg, NOT IN); inlined, DuckDB re-opens the parquet per
      -- reference and exhausts file descriptors
      sedges AS MATERIALIZED (SELECT src, dst FROM edges WHERE src % 17 <> 0),
      nodes AS MATERIALIZED (
        SELECT src AS node FROM sedges UNION SELECT dst FROM sedges),
      nd AS (SELECT count(*)::DOUBLE AS n FROM nodes),
      deg AS MATERIALIZED (
        SELECT src, count(*)::DOUBLE AS outdeg FROM sedges GROUP BY src),
      r0 AS MATERIALIZED (
        SELECT node, 1.0 / (SELECT n FROM nd) AS rank FROM nodes),
      $iters
      SELECT node, round(rank, 9) AS rank FROM r10
      ORDER BY node
      """
    })

  /** Multi-source BFS hop distances ([[GraphAlgos.bfsDistances]]) — the
    * frontier-expansion workload: sources are the nodes ≡ 0 (mod 97),
    * six expansion rounds. The oracle computes the same capped min-hop
    * distances by SIX MATERIALIZED relaxation steps (d_{i+1} =
    * min(d_i, 1 + d_i of in-neighbors) — relaxation and frontier BFS
    * agree exactly on "distance of every node within k hops", and
    * distances are integers, so the match is exact, no float
    * conventions). The engine side joins only the newly-discovered
    * frontier per step; the oracle's whole-set relaxation is the
    * SQL-expressible equivalent, not the scale shape. */
  val q112cBfsHops = QueryDef(
    "q112c_bfs_hops",
    (s, d) =>
      GraphAlgos.bfsDistances(
        edgesDf(s, d),
        Tables.documents(s, d).filter(col("doc_id") % 97 === 0)
          .select(col("doc_id").as("node")),
        maxIters = 6)
        .select(col("node"), col("dist"))
        .orderBy("node"),
    Some {
      val steps = (1 to 6).map { i =>
        s"""d$i AS MATERIALIZED (
        SELECT node, min(dist)::BIGINT AS dist FROM (
          SELECT node, dist FROM d${i - 1}
          UNION ALL
          SELECT e.dst AS node, r.dist + 1 AS dist
          FROM d${i - 1} r JOIN edges e ON r.node = e.src)
        GROUP BY node)"""
      }.mkString(",\n      ")
      s"""
      WITH $EdgesSql,
      d0 AS MATERIALIZED (
        SELECT doc_id AS node, 0::BIGINT AS dist FROM documents
        WHERE doc_id % 97 = 0),
      $steps
      SELECT node, dist FROM d6
      ORDER BY node
      """
    })

  /** Per-node triangle counts with the degree-orientation bound
    * (Σ orientedDeg² ≤ m^{3/2}, not Σ deg²) — the oracle replays the
    * same canonicalization, orientation, wedge join, and closure. */
  val q113Triangles = QueryDef(
    "q113_triangles",
    (s, d) =>
      GraphAlgos.triangles(edgesDf(s, d))
        .orderBy("node"),
    Some(s"""
      WITH $EdgesSql,
      und AS (
        SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
        FROM edges WHERE src <> dst),
      deg AS (
        SELECT v, count(*)::BIGINT AS dv FROM (
          SELECT a AS v FROM und UNION ALL SELECT b FROM und) GROUP BY v),
      oriented AS (
        SELECT CASE WHEN da.dv < db.dv OR (da.dv = db.dv AND u.a < u.b)
                 THEN u.a ELSE u.b END AS lo,
               CASE WHEN da.dv < db.dv OR (da.dv = db.dv AND u.a < u.b)
                 THEN u.b ELSE u.a END AS hi
        FROM und u JOIN deg da ON da.v = u.a JOIN deg db ON db.v = u.b),
      wedges AS (
        SELECT w1.lo, w1.hi AS x, w2.hi AS y
        FROM oriented w1 JOIN oriented w2 ON w1.lo = w2.lo
        WHERE w1.hi < w2.hi),
      closed AS (
        SELECT w.lo, w.x, w.y
        FROM wedges w JOIN und ON und.a = w.x AND und.b = w.y)
      SELECT node, count(*) AS n_triangles FROM (
        SELECT lo AS node FROM closed
        UNION ALL SELECT x FROM closed
        UNION ALL SELECT y FROM closed)
      GROUP BY node
      ORDER BY node
    """))

  val all: Seq[QueryDef] =
    Seq(q112PageRank, q112bPageRankDangling, q112cBfsHops, q113Triangles)
}
