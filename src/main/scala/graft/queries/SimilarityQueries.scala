package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.Similarity

/** Similarity-search suite over the `embeddings` table (SURVEY.md north
  * star): exact brute-force cosine top-k as the baseline, IVF
  * (centroid-bucketed) search as the 100 TB scale path.
  *
  * Centroids are the embedding of the smallest vec_id per label — a
  * deterministic "seed medoid" choice both engines reproduce exactly
  * (a float mean would be accumulation-order-sensitive across engines).
  */
object SimilarityQueries {

  private def emb(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d).select(
      col("vec_id"), col("label"), col("embedding").cast("array<double>").as("e"))

  // fanOut for the PQ TRAINING corpora only (guide §2.5; layout-adaptive
  // no-op on many-file tables): the literal-codebook Lloyd rounds and the
  // encode+ADC pipeline run entirely map-side, so a single-row-group
  // embeddings file serializes them on one core. Applied ONLY where the
  // timed body trains/encodes (q127/q127b) — a blanket emb()-level fan-out
  // was A/B-measured and REVERTED: the ivfTopK/recall/hybrid family's
  // heavy work is already post-exchange parallel, and the extra 51 MB
  // exchange cost +0.5–1.5 s per query (the q86/q88 precedent). Seed-
  // gather IN filters still push through the repartition to the scan.
  private def fanned(df: DataFrame, d: String, key: String): DataFrame =
    graft.operators.ScanLayout.fanOut(df, s"$d/embeddings.parquet", col(key))

  /** Exact ANN baseline: 20 probes × full corpus, top-5 by cosine. */
  val q27AnnBruteForce = QueryDef(
    "q27_ann_bruteforce",
    (s, d) => {
      val corpus = emb(s, d).select(col("vec_id").as("id"), col("e"))
      val probes = emb(s, d).filter(col("vec_id") < 20)
        .select(col("vec_id").as("probe_id"), col("e").as("p"))
      Similarity.bruteForceTopK(corpus, probes, 5)
        .select(col("probe_id"), col("rank"), col("id"), round(col("cos"), 9).as("cos"))
        .orderBy("probe_id", "rank")
    },
    Some("""
      WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
      u AS (
        SELECT vec_id, list_transform(e, x -> x / nrm) AS ue
        FROM (SELECT vec_id, e, sqrt(list_dot_product(e, e)) AS nrm FROM emb)),
      probes AS (SELECT vec_id AS probe_id, ue AS up FROM u WHERE vec_id < 20),
      scored AS (
        SELECT probe_id, vec_id AS id, list_dot_product(up, ue) AS cos,
               row_number() OVER (PARTITION BY probe_id
                 ORDER BY list_dot_product(up, ue) DESC, vec_id) AS rank
        FROM u CROSS JOIN probes
        WHERE vec_id <> probe_id)
      SELECT probe_id, rank, id, round(cos, 9) AS cos
      FROM scored WHERE rank <= 5
      ORDER BY probe_id, rank
    """))

  /** (corpus, seed centroids, probes) — the ONE input construction the
    * whole IVF gate family shares. */
  private def ivfInputs(s: SparkSession, d: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val e = emb(s, d)
    // first-vector-per-label as a partial-aggregable min(struct): the
    // same row the previous row_number window picked (vec_id is unique,
    // so the struct ordering never reaches the vector), without the
    // window's sort — the agg combines map-side and the exchange
    // carries one row per label per partition (guide §2.3 "aggregate
    // before you shuffle"); this subplan fronts ~30 ANN gates
    val centroids = e
      .groupBy(col("label"))
      .agg(min(struct(col("vec_id"), col("e"))).as("__w"))
      .select(col("label").as("c_id"), col("__w.e").as("c"))
    val corpus = e.select(col("vec_id").as("id"), col("e"))
    val probes = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("probe_id"), col("e").as("p"))
    (corpus, centroids, probes)
  }

  /** IVF ANN: corpus bucketed by nearest seed-centroid; probes scan only
    * their 2 nearest clusters. */
  val q28AnnIvf = QueryDef(
    "q28_ann_ivf",
    (s, d) => {
      val (corpus, centroids, probes) = ivfInputs(s, d)
      Similarity.ivfTopK(corpus, centroids, probes, k = 3, nprobe = 2)
        .select(col("probe_id"), col("rank"), col("id"), round(col("cos"), 9).as("cos"))
        .orderBy("probe_id", "rank")
    },
    Some(ivfOracleSql))

  /** The MATERIALIZED IVF path: the index is written as a centroid-
    * bucketed table ([[Similarity.writeIvfIndex]]) and probed through
    * bucket pruning — result-identical to q28 (same oracle), with the
    * physical layout guard in IvfIndexSpec (SelectedBucketsCount <
    * total, no index-side Exchange). benchSkip: the timed body would be
    * the one-off index WRITE, not the probe path being demonstrated. */
  val q28bAnnIvfIndexed = QueryDef(
    "q28b_ann_ivf_indexed",
    (s, d) => {
      val (corpus, centroids, probes) = ivfInputs(s, d)
      Similarity.writeIvfIndex(corpus, centroids, "graft_ivf_index", numBuckets = 8)
      Similarity.ivfTopKIndexed("graft_ivf_index", centroids, probes, k = 3, nprobe = 2)
        .select(col("probe_id"), col("rank"), col("id"), round(col("cos"), 9).as("cos"))
        .orderBy("probe_id", "rank")
    },
    Some(ivfOracleSql),
    benchSkip = true)

  /** INCREMENTAL index maintenance ([[Similarity.appendIvfIndex]]) —
    * the growing-corpus shape: the index is built from HALF the corpus
    * (even vec_ids), the other half appends later against the frozen
    * centroids (map-only assign + bucketed insertInto — appended rows
    * hash into the same bucket numbering), and the probe path is
    * byte-identical to q28b's. Result-identical to q28 on the full
    * corpus (same oracle); IvfIndexSpec pins append ≡ rebuild and that
    * probe-side bucket pruning survives the append. benchSkip: the
    * timed body would be two index writes (q28b convention). */
  val q28dAnnIvfAppend = QueryDef(
    "q28d_ann_ivf_append",
    (s, d) => {
      val (corpus, centroids, probes) = ivfInputs(s, d)
      Similarity.writeIvfIndex(corpus.filter(col("id") % 2 === 0),
        centroids, "graft_ivf_inc_index", numBuckets = 8)
      Similarity.appendIvfIndex(corpus.filter(col("id") % 2 === 1),
        centroids, "graft_ivf_inc_index")
      Similarity.ivfTopKIndexed("graft_ivf_inc_index", centroids, probes,
        k = 3, nprobe = 2)
        .select(col("probe_id"), col("rank"), col("id"), round(col("cos"), 9).as("cos"))
        .orderBy("probe_id", "rank")
    },
    Some(ivfOracleSql),
    benchSkip = true)

  /** The full index-maintenance CYCLE q28d's scaladoc promises:
    * detect centroid drift → retrain → rebuild. The index is built from
    * the even-vec_id half; the frozen per-bucket occupancy profile is
    * collected (≤|centroids| rows); then a SKEWED batch appends — the
    * odd vec_ids that assign to clusters 0-4 under the frozen
    * centroids, so half the buckets roughly double while the rest
    * starve: exactly the distribution shift that degrades probe
    * selectivity while every appended row is still correctly bucketed.
    * [[Similarity.occupancyPsi]] over (frozen, current) occupancy — one
    * metadata-cheap aggregate on the bucketed table — fires the
    * retrain: [[Similarity.ivfRetrainFromIndex]] (one Lloyd update read
    * straight from the index, no corpus re-scan), then a fresh
    * [[Similarity.writeIvfIndex]] on the current corpus, then the
    * standard pruned probe. The 0.05 trigger is deliberately below the
    * classic 0.1 "moderate shift" PSI line — a rebuild costs one batch
    * job while a skewed index taxes EVERY probe — and the engineered
    * shift measures ≥ 0.117 at sf 0.001/0.01/0.1 (deterministic
    * arithmetic, so the ≥ 2.3× margin cannot flake). The retrain branch
    * is genuinely conditional (driver-side 1-row read of psi); on this
    * data the drift is real so the oracle replays the rebuilt path.
    * Output rows carry (psi_occ, drifted) so the detection is gated,
    * not just the probe. benchSkip: the timed body would be two index
    * writes. */
  val q28eAnnIvfDriftRebuild = QueryDef(
    "q28e_ann_ivf_drift_rebuild",
    (s, d) => {
      import s.implicits._
      val e = emb(s, d)
      val (_, centroids, probes) = ivfInputs(s, d)
      val idx = "graft_ivf_drift_index"
      val idx2 = "graft_ivf_drift_rebuilt"
      Similarity.writeIvfIndex(
        e.filter(col("vec_id") % 2 === 0).select(col("vec_id").as("id"), col("e")),
        centroids, idx, numBuckets = 8)
      // FROZEN reference profile: collected eagerly BEFORE the append —
      // the table read is lazy, so an un-materialized frame would see
      // the appended rows and PSI would measure nothing
      val refOcc = s.table(idx).groupBy("c_id")
        .agg(count(lit(1)).as("n_ref"))
        .as[(Int, Long)].collect().toSeq.toDF("c_id", "n_ref")
      val odd = e.filter(col("vec_id") % 2 === 1)
        .select(col("vec_id").as("id"), col("e"))
      val newBatch = odd.join(
        Similarity.ivfAssign(odd, centroids).filter(col("c_id") < 5)
          .select("id"), "id")
      Similarity.appendIvfIndex(newBatch, centroids, idx)
      val curOcc = s.table(idx).groupBy("c_id").agg(count(lit(1)).as("n_cur"))
      val psiOcc = Similarity.occupancyPsi(refOcc, curOcc).head().getDouble(0)
      val drifted = psiOcc > 0.05
      val probeIdx = if (drifted) {
        val retrained = Similarity.ivfRetrainFromIndex(s, idx)
        Similarity.writeIvfIndex(
          e.filter(col("vec_id") % 2 === 0)
            .select(col("vec_id").as("id"), col("e")).unionByName(newBatch),
          retrained, idx2, numBuckets = 8)
        Similarity.ivfTopKIndexed(idx2, retrained, probes, k = 3, nprobe = 2)
      } else Similarity.ivfTopKIndexed(idx, centroids, probes, k = 3, nprobe = 2)
      probeIdx
        .select(col("probe_id"), col("rank"), col("id"),
          round(col("cos"), 9).as("cos"),
          lit(psiOcc).as("psi_occ"), lit(drifted).as("drifted"))
        .orderBy("probe_id", "rank")
    },
    Some("""
      WITH emb AS (SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings),
      u AS (
        SELECT vec_id, label, list_transform(e, x -> x / nrm) AS ue
        FROM (SELECT vec_id, label, e, sqrt(list_dot_product(e, e)) AS nrm FROM emb)),
      seeds AS (SELECT label, min(vec_id) AS seed_id FROM u GROUP BY label),
      c0 AS (
        SELECT s.label AS c_id, u.ue AS uc
        FROM seeds s JOIN u ON u.vec_id = s.seed_id),
      a_all AS (
        SELECT vec_id AS id, ue, c_id FROM (
          SELECT u.vec_id, u.ue, c0.c_id,
                 row_number() OVER (PARTITION BY u.vec_id
                   ORDER BY list_dot_product(ue, uc) DESC, c0.c_id) AS rn
          FROM u CROSS JOIN c0) WHERE rn = 1),
      a_cur AS (
        SELECT id, ue, c_id FROM a_all WHERE id % 2 = 0 OR c_id < 5),
      occ AS (
        SELECT c_id,
               count(*) FILTER (WHERE id % 2 = 0) AS n_ref,
               count(*) AS n_cur
        FROM a_cur GROUP BY c_id),
      p AS (
        SELECT (n_ref + 0.5) / (sum(n_ref) OVER () + 0.5 * count(*) OVER ()) AS pr,
               (n_cur + 0.5) / (sum(n_cur) OVER () + 0.5 * count(*) OVER ()) AS pc
        FROM occ),
      psi AS (SELECT round(sum((pc - pr) * ln(pc / pr)), 4) AS psi_occ FROM p),
      m1 AS (
        SELECT c_id, j, (sum((ue[j])::DECIMAL(28,12)))::DOUBLE / count(*) AS m
        FROM a_cur, range(1, 65) AS t(j) GROUP BY c_id, j),
      c1 AS (
        SELECT c_id, list_transform(c, x -> x / sqrt(list_dot_product(c, c))) AS uc
        FROM (SELECT c_id, list(m ORDER BY j) AS c FROM m1 GROUP BY c_id)),
      af AS (
        SELECT id, ue, c_id FROM (
          SELECT a_cur.id, a_cur.ue, c1.c_id,
                 row_number() OVER (PARTITION BY a_cur.id
                   ORDER BY list_dot_product(ue, uc) DESC, c1.c_id) AS rn
          FROM a_cur CROSS JOIN c1) WHERE rn = 1),
      pf AS (
        SELECT probe_id, up, c_id FROM (
          SELECT u.vec_id AS probe_id, u.ue AS up, c1.c_id,
                 row_number() OVER (PARTITION BY u.vec_id
                   ORDER BY list_dot_product(u.ue, c1.uc) DESC, c1.c_id) AS rn
          FROM u CROSS JOIN c1
          WHERE u.vec_id < 20) WHERE rn <= 2),
      scored AS (
        SELECT p.probe_id, a.id, list_dot_product(p.up, a.ue) AS cos,
               row_number() OVER (PARTITION BY p.probe_id
                 ORDER BY list_dot_product(p.up, a.ue) DESC, a.id) AS rank
        FROM pf p JOIN af a ON a.c_id = p.c_id
        WHERE a.id <> p.probe_id)
      SELECT probe_id, rank, id, round(cos, 9) AS cos,
             (SELECT psi_occ FROM psi) AS psi_occ,
             (SELECT psi_occ FROM psi) > 0.05 AS drifted
      FROM scored WHERE rank <= 3
      ORDER BY probe_id, rank
    """),
    benchSkip = true)

  /** The BULK kNN-join shape ([[Similarity.ivfTopKBulk]]): the probe
    * side is the ENTIRE corpus (self-kNN — what corpus-wide semantic
    * dedup and batch re-embedding runs look like), so the indexed
    * path's collect-and-prune convention doesn't apply; instead probes
    * assign map-side and shuffle ONCE onto the index's bucket layout
    * for a shuffled-hash join that reads the index in place and
    * hash-builds it per bucket (IvfIndexSpec pins: one c_id Exchange
    * total, index scan `Bucketed: true`, build side = index). Same
    * oracle family as q28 with the probe predicate opened to the whole
    * corpus. Deliberately UNDER-CELLED (10 coarse cells at every SF) to
    * demonstrate the fixed-centroid quadratic failure mode the sf1 soak
    * row measures — so it passes `maxShareFactor = ∞` to the guard that
    * otherwise rejects exactly this shape ([[Similarity.ivfTopKBulk]]);
    * q28g is the √n-sized corrected form, which runs under the default
    * guard. benchSkip: the timed body would be the index write. */
  val q28fAnnIvfBulk = QueryDef(
    "q28f_ann_ivf_bulk",
    (s, d) => {
      val (corpus, centroids, _) = ivfInputs(s, d)
      val probes = corpus.select(col("id").as("probe_id"), col("e").as("p"))
      Similarity.writeIvfIndex(corpus, centroids, "graft_ivf_bulk_index",
        numBuckets = 8)
      // maxShareFactor = ∞: this query EXISTS to demonstrate the
      // fixed-centroid mis-sizing regime the guard otherwise rejects
      // (10 cells on the whole corpus — see the cost model in
      // Similarity.ivfTopKBulk; q28g is the correctly-sized form)
      Similarity.ivfTopKBulk("graft_ivf_bulk_index", centroids, probes,
        k = 3, nprobe = 2, maxShareFactor = Double.PositiveInfinity)
        .select(col("probe_id"), col("rank"), col("id"),
          round(col("cos"), 9).as("cos"))
        .orderBy("probe_id", "rank")
    },
    Some(ivfOracle("true")),
    benchSkip = true)

  /** q28f with the COST-MODEL DIAL TURNED: same bulk self-kNN join,
    * but 40 coarse cells (the q65 medoid seeds — min vec_id per
    * (label, vec_id%4)) instead of 10, i.e. |centroids| grown with the
    * corpus as [[Similarity.ivfTopKBulk]]'s scaladoc prescribes.
    * Candidate volume is n·nprobe·(n/|centroids|), so 4× the cells ≈
    * 4× fewer scored pairs at equal nprobe — the measured sf1 rows in
    * SOAK.md pin the ratio. Same plan shape (one probe-side Exchange,
    * index read in place); the oracle is the shared IVF replay with the
    * 40-cell seeds. benchSkip: the timed body would be the index
    * write. */
  val q28gAnnIvfBulkCells = QueryDef(
    "q28g_ann_ivf_bulk_cells",
    (s, d) => {
      val e = emb(s, d)
      val seedIds = e.groupBy(col("label"), pmod(col("vec_id"), lit(4)))
        .agg(min("vec_id").as("c_id"))
      val centroids = seedIds.join(e, col("c_id") === col("vec_id"))
        .select(col("c_id"), col("e").as("c"))
      val corpus = e.select(col("vec_id").as("id"), col("e"))
      val probes = corpus.select(col("id").as("probe_id"), col("e").as("p"))
      Similarity.writeIvfIndex(corpus, centroids, "graft_ivf_bulk40_index",
        numBuckets = 16)
      Similarity.ivfTopKBulk("graft_ivf_bulk40_index", centroids, probes,
        k = 3, nprobe = 2)
        .select(col("probe_id"), col("rank"), col("id"),
          round(col("cos"), 9).as("cos"))
        .orderBy("probe_id", "rank")
    },
    Some(ivfOracle("true", """
      seeds AS (SELECT min(vec_id) AS c_id FROM u GROUP BY label, vec_id % 4),
      cent AS (SELECT s.c_id, u.ue AS uc FROM seeds s JOIN u ON u.vec_id = s.c_id)""")),
    benchSkip = true)

  /** Seed-centroid CTE (first vector per label class), the default
    * centroid set of every direct IVF oracle AND the q130 recall oracle
    * built on [[ivfCtes]] — ONE definition so the two can't diverge.
    * `lazy` is load-bearing: the QueryDef vals ABOVE this declaration
    * force ivfOracleSql (and so this default) during object init — a
    * plain val would still be null at that point and interpolate the
    * string "null" into every seed-centroid oracle. */
  private lazy val SeedCentSql: String = """
      seeds AS (SELECT label, min(vec_id) AS seed_id FROM u GROUP BY label),
      cent AS (
        SELECT s.label AS c_id, u.ue AS uc
        FROM seeds s JOIN u ON u.vec_id = s.seed_id)"""

  /** The IVF CTE chain through `scored` (all ranks), parameterized by
    * the probe-set predicate (q28/q28b/q28d use the 20-probe query set;
    * q28f probes the WHOLE corpus, the predicate degenerating to true),
    * the centroid CTE, and the CANDIDATE predicate (`candWhere` over
    * `a.*` — q133b's inline metadata filter, q134's tombstone
    * exclusion; degenerates to TRUE elsewhere). `assigned`/`scored`
    * carry `label` through so filtered variants can predicate on it
    * without a second chain. Shared by the direct IVF oracles
    * ([[ivfOracle]] appends the rank-filtered SELECT) and the q130
    * recall oracle, which joins `scored` against a brute-force chain
    * over the same `u`. */
  private def ivfCtes(probeWhere: String,
      centSql: String = SeedCentSql,
      candWhere: String = "TRUE"): String = s"""
      WITH emb AS (SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings),
      u AS (
        SELECT vec_id, label, list_transform(e, x -> x / nrm) AS ue
        FROM (SELECT vec_id, label, e, sqrt(list_dot_product(e, e)) AS nrm FROM emb)),
      $centSql,
      assigned AS (
        SELECT vec_id AS id, ue, c_id, label FROM (
          SELECT u.vec_id, u.ue, cent.c_id, u.label,
                 row_number() OVER (PARTITION BY u.vec_id
                   ORDER BY list_dot_product(ue, uc) DESC, cent.c_id) AS rn
          FROM u CROSS JOIN cent)
        WHERE rn = 1),
      probes AS (
        SELECT probe_id, up, c_id, plabel FROM (
          SELECT u.vec_id AS probe_id, u.ue AS up, cent.c_id,
                 u.label AS plabel,
                 row_number() OVER (PARTITION BY u.vec_id
                   ORDER BY list_dot_product(ue, uc) DESC, cent.c_id) AS rn
          FROM u CROSS JOIN cent
          WHERE $probeWhere)
        WHERE rn <= 2),
      scored AS (
        SELECT p.probe_id, p.plabel, a.id, a.label,
               list_dot_product(p.up, a.ue) AS cos,
               row_number() OVER (PARTITION BY p.probe_id
                 ORDER BY list_dot_product(p.up, a.ue) DESC, a.id) AS rank
        FROM probes p JOIN assigned a ON a.c_id = p.c_id
        WHERE a.id <> p.probe_id AND ($candWhere))"""

  private def ivfOracle(probeWhere: String,
      centSql: String = SeedCentSql,
      candWhere: String = "TRUE"): String = s"""
      ${ivfCtes(probeWhere, centSql, candWhere)}
      SELECT probe_id, rank, id, round(cos, 9) AS cos
      FROM scored WHERE rank <= 3
      ORDER BY probe_id, rank
    """

  private lazy val ivfOracleSql: String = ivfOracle("u.vec_id < 20")

  /** The 2-iteration Lloyd training CTE chain, shared by q65/q28c.
    * `seedsSql` must define `c0(c_id, uc)` — the unitized seed centroids.
    * Produces `a2` (corpus assigned to iteration-1 centroids) and `m2`
    * (iteration-2 per-dimension means = the trained centroids). Means sum
    * in DECIMAL(28,12) and divide as DOUBLE — exactly the Spark operator's
    * order-independent arithmetic, so every float is bit-identical. */
  private def kmeansTrainCte(seedsSql: String): String = s"""
      WITH emb AS (SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings),
      u AS (
        SELECT vec_id, label, list_transform(e, x -> x / nrm) AS ue
        FROM (SELECT vec_id, label, e, sqrt(list_dot_product(e, e)) AS nrm FROM emb)),
      $seedsSql,
      a1 AS (
        SELECT id, ue, c_id FROM (
          SELECT u.vec_id AS id, u.ue, c0.c_id,
                 row_number() OVER (PARTITION BY u.vec_id
                   ORDER BY list_dot_product(ue, uc) DESC, c0.c_id) AS rn
          FROM u CROSS JOIN c0) WHERE rn = 1),
      m1 AS (
        SELECT c_id, j, (sum((ue[j])::DECIMAL(28,12)))::DOUBLE / count(*) AS m
        FROM a1, range(1, 65) AS t(j) GROUP BY c_id, j),
      c1 AS (
        SELECT c_id, list_transform(c, x -> x / sqrt(list_dot_product(c, c))) AS uc
        FROM (SELECT c_id, list(m ORDER BY j) AS c FROM m1 GROUP BY c_id)),
      a2 AS (
        SELECT id, ue, c_id FROM (
          SELECT a1.id, a1.ue, c1.c_id,
                 row_number() OVER (PARTITION BY a1.id
                   ORDER BY list_dot_product(a1.ue, c1.uc) DESC, c1.c_id) AS rn
          FROM a1 CROSS JOIN c1) WHERE rn = 1),
      m2 AS (
        SELECT c_id, j, (sum((ue[j])::DECIMAL(28,12)))::DOUBLE / count(*) AS m
        FROM a2, range(1, 65) AS t(j) GROUP BY c_id, j)"""

  /** K-means (Lloyd) centroid training under a cross-engine oracle: 40
    * deterministic seed medoids (min vec_id per (label, vec_id%4) — the
    * q26b seed set), 2 full assign/update rounds, per-dimension means
    * emitted exactly. DuckDB re-runs both unrolled iterations from the
    * same seeds; one flipped assignment anywhere changes some mean and
    * breaks the hash. */
  val q65KmeansTrain = QueryDef(
    "q65_kmeans_train",
    (s, d) => {
      val e = emb(s, d)
      val seedIds = e.groupBy(col("label"), pmod(col("vec_id"), lit(4)))
        .agg(min("vec_id").as("c_id"))
      val seeds = seedIds.join(e, col("c_id") === col("vec_id"))
        .select(col("c_id"), col("e").as("c"))
      val corpus = e.select(col("vec_id").as("id"), col("e"))
      Similarity.kmeansTrain(corpus, seeds, iters = 2)
        .select(col("c_id"), posexplode(col("c")).as(Seq("dim", "m")))
        .select(col("c_id"), col("dim"), round(col("m"), 9).as("m"))
        .orderBy("c_id", "dim")
    },
    Some(kmeansTrainCte("""
      seeds AS (SELECT min(vec_id) AS c_id FROM emb GROUP BY label, vec_id % 4),
      c0 AS (SELECT s.c_id, u.ue AS uc FROM seeds s JOIN u ON u.vec_id = s.c_id)""") +
      """
      SELECT c_id, (j - 1)::INT AS dim, round(m, 9) AS m
      FROM m2 ORDER BY c_id, dim
    """))

  /** q28 on TRAINED centroids: the same label-medoid seeds, improved by 2
    * Lloyd rounds ([[Similarity.kmeansTrain]]), then the identical IVF
    * probe path at equal nprobe. SimilaritySpec pins recall(trained) ≥
    * recall(seeds) against the brute-force exact answer. */
  val q28cAnnIvfTrained = QueryDef(
    "q28c_ann_ivf_trained",
    (s, d) => {
      val (corpus, centroids, probes) = ivfInputs(s, d)
      val trained = Similarity.kmeansTrain(corpus, centroids, iters = 2)
      Similarity.ivfTopK(corpus, trained, probes, k = 3, nprobe = 2)
        .select(col("probe_id"), col("rank"), col("id"), round(col("cos"), 9).as("cos"))
        .orderBy("probe_id", "rank")
    },
    Some(kmeansTrainCte("""
      seeds AS (SELECT label, min(vec_id) AS seed_id FROM u GROUP BY label),
      c0 AS (
        SELECT s.label AS c_id, u.ue AS uc
        FROM seeds s JOIN u ON u.vec_id = s.seed_id)""") +
      """,
      c2 AS (
        SELECT c_id, list_transform(c, x -> x / sqrt(list_dot_product(c, c))) AS uc
        FROM (SELECT c_id, list(m ORDER BY j) AS c FROM m2 GROUP BY c_id)),
      af AS (
        SELECT id, ue, c_id FROM (
          SELECT a2.id, a2.ue, c2.c_id,
                 row_number() OVER (PARTITION BY a2.id
                   ORDER BY list_dot_product(a2.ue, c2.uc) DESC, c2.c_id) AS rn
          FROM a2 CROSS JOIN c2) WHERE rn = 1),
      pf AS (
        SELECT probe_id, up, c_id FROM (
          SELECT u.vec_id AS probe_id, u.ue AS up, c2.c_id,
                 row_number() OVER (PARTITION BY u.vec_id
                   ORDER BY list_dot_product(u.ue, c2.uc) DESC, c2.c_id) AS rn
          FROM u CROSS JOIN c2
          WHERE u.vec_id < 20) WHERE rn <= 2),
      scored AS (
        SELECT p.probe_id, a.id, list_dot_product(p.up, a.ue) AS cos,
               row_number() OVER (PARTITION BY p.probe_id
                 ORDER BY list_dot_product(p.up, a.ue) DESC, a.id) AS rank
        FROM pf p JOIN af a ON a.c_id = p.c_id
        WHERE a.id <> p.probe_id)
      SELECT probe_id, rank, id, round(cos, 9) AS cos
      FROM scored WHERE rank <= 3
      ORDER BY probe_id, rank
    """))

  /** Hyperplane-LSH ANN ([[Similarity.lshTopK]]): 16 md5-derived random
    * hyperplanes → sign signatures → 2-bit band collisions (8 bands;
    * measured recall 1.0 @k=3 vs brute force) → exact cosine re-rank.
    * The training-free rung of the ANN ladder; DuckDB
    * regenerates the identical planes from the same md5 formula (the
    * long→double and power-of-two division are exact in both engines),
    * so every signature bit, candidate pair, and re-ranked score
    * matches. */
  val q72AnnLsh = QueryDef(
    "q72_ann_lsh",
    (s, d) => {
      val (corpus, _, probes) = ivfInputs(s, d)
      Similarity.lshTopK(corpus, probes, k = 3, dim = 64)
        .select(col("probe_id"), col("rank"), col("id"), round(col("cos"), 9).as("cos"))
        .orderBy("probe_id", "rank")
    },
    Some("""
      WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
      u AS (
        SELECT vec_id, list_transform(e, x -> x / nrm) AS ue
        FROM (SELECT vec_id, e, sqrt(list_dot_product(e, e)) AS nrm FROM emb)),
      sig AS (
        SELECT vec_id, ue,
          list_aggregate(list_transform(range(0, 16), j ->
            CASE WHEN list_dot_product(ue, list_transform(range(0, 64), i ->
              ('0x' || substr(md5('srp' || j::VARCHAR || '|' || i::VARCHAR), 1, 15))::BIGINT
                / 576460752303423488.0 - 1.0)) >= 0
            THEN '1' ELSE '0' END), 'string_agg', '') AS sg
        FROM u),
      cb AS (
        SELECT vec_id AS id, ue, b.band, substr(sg, (b.band*2+1)::INT, 2) AS chunk
        FROM sig, (SELECT unnest(range(8)) AS band) b),
      pairs AS (
        SELECT DISTINCT p.id AS probe_id, p.ue AS up, c.id, c.ue
        FROM cb p JOIN cb c ON p.band = c.band AND p.chunk = c.chunk
                           AND c.id <> p.id
        WHERE p.id < 20),
      scored AS (
        SELECT probe_id, id, list_dot_product(up, ue) AS cos,
               row_number() OVER (PARTITION BY probe_id
                 ORDER BY list_dot_product(up, ue) DESC, id) AS rank
        FROM pairs)
      SELECT probe_id, rank, id, round(cos, 9) AS cos
      FROM scored WHERE rank <= 3
      ORDER BY probe_id, rank
    """))

  /** Random ±1 (Johnson–Lindenstrauss) projection 64 → 8 dims — the
    * storage-free dimensionality-reduction front of the ANN ladder: sign
    * rows rederive from the seed anywhere, each output dim is one
    * codegen dot against a literal array, the stage is map-only. The
    * oracle embeds the IDENTICAL sign literals (both sides call
    * [[graft.operators.Similarity.jlSigns]] at plan/SQL build time) and
    * `list_dot_product`'s left-to-right accumulation matches the
    * DotProduct kernel bit-for-bit, so projections round-trip exactly at
    * 1e-6. */
  val q105RandomProjection = QueryDef(
    "q105_random_projection",
    (s, d) => {
      val ps = Similarity.randomProjection(col("e"), outDims = 8, dim = 64,
        seed = "jl7")
      emb(s, d)
        .select(col("vec_id") +: ps: _*)
        .select(col("vec_id") +:
          (0 until 8).map(k => round(col(s"p$k"), 6).as(s"p$k")): _*)
        .orderBy("vec_id")
    },
    Some {
      val rows = (0 until 8).map { k =>
        val lits = Similarity.jlSigns(k, 64, "jl7")
          .map(v => if (v > 0) "1.0" else "-1.0").mkString(", ")
        s"round(list_dot_product(e, [$lits]::DOUBLE[]), 6) AS p$k"
      }.mkString(",\n             ")
      s"""
      WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings)
      SELECT vec_id,
             $rows
      FROM emb
      ORDER BY vec_id
      """
    })

  /** Symmetric int8 quantization of the embedding column — the 4×
    * memory/IO reduction a 100 TB vector store runs before ANN: per
    * vector, scale = amax/127 and q_i = round(127·v_i/amax) ∈ [-127,127]
    * (symmetric, zero-point-free, the faiss/SQ8 shape). Map-only; both
    * engines evaluate the identical per-element expression (round is
    * half-away-from-zero in both), and the quantized checksum + bounds
    * pin every element without shipping the arrays. Null-amax (all-zero
    * vector) would divide by zero — guarded to an all-zero code, and the
    * synthetic corpus has none (n_nonzero pins that visibly). */
  val q108EmbeddingQuantize = QueryDef(
    "q108_embedding_quantize",
    (s, d) => {
      // amax is projected FIRST so the per-element lambda reads a
      // computed column — inlining it into transform would recompute the
      // O(d) max for every element (O(d²)/row; measured 7× slower)
      val q = transform(col("e"), v =>
        when(lit(0.0) < col("amax0"),
          round(lit(127.0) * v / col("amax0"), 0).cast("int"))
          .otherwise(lit(0)))
      emb(s, d)
        .select(col("vec_id"), col("e"),
          array_max(transform(col("e"), v => abs(v))).as("amax0"))
        .select(col("vec_id"), round(col("amax0"), 6).as("amax"), q.as("q"))
        .select(col("vec_id"), col("amax"),
          aggregate(col("q"), lit(0L), (acc, x) => acc + x).as("q_sum"),
          array_min(col("q")).as("q_min"), array_max(col("q")).as("q_max"),
          size(filter(col("q"), x => x =!= 0)).as("n_nonzero"))
        .orderBy("vec_id")
    },
    Some("""
      WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
      qz AS (
        SELECT vec_id,
               list_max(list_transform(e, v -> abs(v))) AS amax,
               list_transform(e, v ->
                 CASE WHEN list_max(list_transform(e, w -> abs(w))) > 0.0
                   THEN round(127.0 * v / list_max(list_transform(e, w -> abs(w))))::INT
                   ELSE 0 END) AS q
        FROM emb)
      SELECT vec_id, round(amax, 6) AS amax,
             list_sum(q)::BIGINT AS q_sum,
             list_min(q)::INT AS q_min, list_max(q)::INT AS q_max,
             len(list_filter(q, x -> x <> 0))::INT AS n_nonzero
      FROM qz
      ORDER BY vec_id
    """))

  /** Product quantization ([[Similarity.pqTrain]]/[[Similarity.pqEncode]]/
    * [[Similarity.pqTopK]]) — the fourth rung of the ANN ladder (exact /
    * IVF / LSH / PQ) and the memory-scale one: m=16 L2 subquantizers of
    * kSub=16 centroids each (seeded on vec_id 0–15, 2 Lloyd rounds),
    * corpus encoded to 16 4-bit codes/vector, probes answered by
    * asymmetric-distance (ADC) lookup tables — O(m) per pair instead of
    * O(d), and 8 bytes/vector of index state instead of 64 doubles. The
    * oracle replays EVERYTHING: both unrolled training rounds per
    * subspace (decimal means, x·c−½c·c assignment with smaller-code
    * ties), the encoding argmax, and the left-associated 16-term ADC sum
    * — one flipped assignment or reordered float addition anywhere
    * breaks the hash. Recall vs the exact baseline is pinned in
    * SimilaritySpec (quality), not here (determinism). */
  val q127AnnPq = QueryDef(
    "q127_ann_pq",
    (s, d) => {
      val e = emb(s, d)
      val corpus = fanned(e, d, "vec_id").select(col("vec_id").as("id"), col("e"))
      val probes = e.filter(col("vec_id") < 20)
        .select(col("vec_id").as("probe_id"), col("e").as("p"))
      val bk = Similarity.pqTrain(corpus, m = 16, dim = 64,
        seedIds = 0L until 16L, iters = 2)
      val encoded = Similarity.pqEncode(corpus, bk)
      Similarity.pqTopK(encoded, probes, bk, k = 3)
        .select(col("probe_id"), col("rank"), col("id"),
          round(col("adc"), 9).as("adc"))
        .orderBy("probe_id", "rank")
    },
    Some("""
      WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
      subv AS (
        SELECT vec_id, s, e[(s*4+1):(s*4+4)] AS x
        FROM emb, range(0, 16) t(s)),
      c0 AS (
        SELECT s, vec_id::INT AS c_id, x AS c FROM subv WHERE vec_id < 16),
      a1 AS (
        SELECT vec_id, s, x, c_id FROM (
          SELECT subv.vec_id, subv.s, subv.x, c0.c_id,
                 row_number() OVER (PARTITION BY subv.vec_id, subv.s
                   ORDER BY (list_dot_product(x, c) - 0.5 * list_dot_product(c, c)) DESC,
                            c0.c_id) AS rn
          FROM subv JOIN c0 ON c0.s = subv.s) WHERE rn = 1),
      m1 AS (
        SELECT s, c_id, j, (sum((x[j])::DECIMAL(28,12)))::DOUBLE / count(*) AS mv
        FROM a1, range(1, 5) t(j) GROUP BY s, c_id, j),
      c1 AS (
        SELECT s, c_id, list(mv ORDER BY j) AS c FROM m1 GROUP BY s, c_id),
      a2 AS (
        SELECT vec_id, s, x, c_id FROM (
          SELECT a1.vec_id, a1.s, a1.x, c1.c_id,
                 row_number() OVER (PARTITION BY a1.vec_id, a1.s
                   ORDER BY (list_dot_product(x, c) - 0.5 * list_dot_product(c, c)) DESC,
                            c1.c_id) AS rn
          FROM a1 JOIN c1 ON c1.s = a1.s) WHERE rn = 1),
      m2 AS (
        SELECT s, c_id, j, (sum((x[j])::DECIMAL(28,12)))::DOUBLE / count(*) AS mv
        FROM a2, range(1, 5) t(j) GROUP BY s, c_id, j),
      c2 AS (
        SELECT s, c_id, list(mv ORDER BY j) AS c FROM m2 GROUP BY s, c_id),
      codes AS (
        SELECT vec_id, s, c_id AS code FROM (
          SELECT subv.vec_id, subv.s, c2.c_id,
                 row_number() OVER (PARTITION BY subv.vec_id, subv.s
                   ORDER BY (list_dot_product(x, c) - 0.5 * list_dot_product(c, c)) DESC,
                            c2.c_id) AS rn
          FROM subv JOIN c2 ON c2.s = subv.s) WHERE rn = 1),
      pairs AS (
        SELECT p.vec_id AS probe_id, codes.vec_id AS id, codes.s,
               list_dot_product(p.x, c2.c) AS ds
        FROM subv p
        JOIN codes ON codes.s = p.s AND codes.vec_id <> p.vec_id
        JOIN c2 ON c2.s = codes.s AND c2.c_id = codes.code
        WHERE p.vec_id < 20),
      adc AS (
        SELECT probe_id, id,
               max(CASE WHEN s = 0 THEN ds END) + max(CASE WHEN s = 1 THEN ds END) + max(CASE WHEN s = 2 THEN ds END) + max(CASE WHEN s = 3 THEN ds END) + max(CASE WHEN s = 4 THEN ds END) + max(CASE WHEN s = 5 THEN ds END) + max(CASE WHEN s = 6 THEN ds END) + max(CASE WHEN s = 7 THEN ds END) + max(CASE WHEN s = 8 THEN ds END) + max(CASE WHEN s = 9 THEN ds END) + max(CASE WHEN s = 10 THEN ds END) + max(CASE WHEN s = 11 THEN ds END) + max(CASE WHEN s = 12 THEN ds END) + max(CASE WHEN s = 13 THEN ds END) + max(CASE WHEN s = 14 THEN ds END) + max(CASE WHEN s = 15 THEN ds END)
                 AS adc
        FROM pairs GROUP BY probe_id, id),
      ranked AS (
        SELECT probe_id, id, adc,
               row_number() OVER (PARTITION BY probe_id
                 ORDER BY adc DESC, id) AS rank
        FROM adc)
      SELECT probe_id, rank, id, round(adc, 9) AS adc
      FROM ranked WHERE rank <= 3
      ORDER BY probe_id, rank
    """))

  /** IVF-PQ ([[Similarity.ivfPqTopK]]) — the composed index every
    * billion-vector system ships: a TRAINED L2 coarse quantizer (2
    * Lloyd rounds from the label-medoid seeds — means, not medoids:
    * medoid residuals are member-to-member differences and DOUBLED the
    * ADC error), RESIDUAL product codes (m=16 × 16 centroids trained on
    * x − c by the q127 machinery), probes scanning nprobe=2 buckets and
    * scoring `q·c + ADC(residual)` ≈ q·x. The candidate join shuffles
    * on the coarse id only. The oracle replays the coarse TRAINING and
    * assignment, the exact per-element residual subtraction, both Lloyd
    * rounds per subspace, the encoding, and the `pc + (t0 + … + t15)`
    * association of the final sum. */
  val q127bAnnIvfPq = QueryDef(
    "q127b_ann_ivfpq",
    (s, d) => {
      val (corpus0, seeds, probes) = ivfInputs(s, d)
      val corpus = fanned(corpus0, d, "id")
      val coarse = Similarity.kmeansTrainL2(corpus, seeds, iters = 2)
      Similarity.ivfPqTopK(corpus, coarse, probes, m = 16, dim = 64,
        seedIds = 0L until 16L, iters = 2, k = 3, nprobe = 2)
        .select(col("probe_id"), col("rank"), col("id"),
          round(col("adc"), 9).as("adc"))
        .orderBy("probe_id", "rank")
    },
    Some(ivfPqOracleSql))

  /** The PRODUCTION IVF-PQ flow ([[Similarity.writeIvfPqIndex]] /
    * [[Similarity.readPqBooks]] / [[Similarity.ivfPqTopKIndexed]]) —
    * the recurring-query shape at 100 TB: train+encode happen ONCE into
    * a c_id-bucketed table of (id, c_id, codes) with the codebooks
    * persisted alongside, then probes prune the index scan to their
    * nprobe buckets (SelectedBucketsCount, no index-side Exchange, no
    * corpus re-encode — IvfIndexSpec pins the physical plan) and
    * ADC-score only the surviving code rows. Result-identical to q127b
    * by construction, so it runs under the SAME oracle. benchSkip: the
    * timed body would be the one-off index WRITE, not the probe path
    * being demonstrated (the q28b convention). */
  val q127cAnnIvfPqIndexed = QueryDef(
    "q127c_ann_ivfpq_indexed",
    (s, d) => {
      val (corpus, seeds, probes) = ivfInputs(s, d)
      val coarse = Similarity.kmeansTrainL2(corpus, seeds, iters = 2)
      Similarity.writeIvfPqIndex(corpus, coarse, "graft_ivfpq_index",
        m = 16, dim = 64, seedIds = 0L until 16L, iters = 2, numBuckets = 8)
      // probe through the PERSISTED books — proving the index is
      // self-contained (a later session needs no retraining)
      val bk = Similarity.readPqBooks(s, "graft_ivfpq_index", dim = 64)
      Similarity.ivfPqTopKIndexed("graft_ivfpq_index", coarse, probes,
        bk, k = 3, nprobe = 2)
        .select(col("probe_id"), col("rank"), col("id"),
          round(col("adc"), 9).as("adc"))
        .orderBy("probe_id", "rank")
    },
    Some(ivfPqOracleSql),
    benchSkip = true)

  /** The full IVF-PQ CTE chain through `ranked` (coarse training, the
    * exact residual subtraction, both Lloyd rounds per subspace, the
    * encoding argmax, and the left-associated `pc + (t0 + … + t15)` ADC
    * sum) — shared by the q127b/q127c result oracles ([[ivfPqOracleSql]]
    * appends the rank-filtered SELECT), the q130b recall oracle, and the
    * q127d/q130c re-rank oracles ([[pqRerankCtes]] appends the
    * exact-cosine re-scoring over `ranked`'s top-32), so no two gates
    * can pin different ADC arithmetic. `kSub` parameterizes the
    * per-subspace codebook size (seeds = vec_id < kSub, matching
    * pqTrain's `seedIds = 0L until kSub`): 16 is the gated
    * quantization-bound anchor, 64 the capacity fix q130d gates.
    * `trainWhere` restricts the TRAINING population (coarse seeds,
    * both coarse Lloyd rounds, both PQ Lloyd rounds) while assignment
    * and encoding still cover every row — the q127e append shape,
    * where the index was built (and trained) on the initial half and
    * later rows encode against the frozen coarse/codebooks.
    * `pqSeedWhere` picks the PQ seed subvectors; codebook ids densify
    * by ascending vec_id (dense_rank−1), matching pqTrain's
    * position-in-sorted-seed-list c_id — an order-preserving relabel,
    * so Lloyd's ties-to-smaller-c_id breaks identically. `candWhere`
    * (over `cand.*`) restricts the SCORED candidate set — q134c's
    * tombstone exclusion; TRUE elsewhere. `probeWhere` (over `emb.*`)
    * picks the probe set — the 20-vector query batch by default,
    * opened up for the bulk kNN-join gate (q127f). */
  private def ivfPqCtesK(kSub: Int, trainWhere: String = "TRUE",
      pqSeedWhere: String = "", candWhere: String = "TRUE",
      probeWhere: String = "emb.vec_id < 20"): String = {
      val seedW = if (pqSeedWhere.nonEmpty) pqSeedWhere else s"vec_id < $kSub"
      val tChain = (0 until 16).map(i => s"max(CASE WHEN s = $i THEN ds END)")
        .mkString(" + ")
      s"""
      WITH emb AS (SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings),
      seeds AS (SELECT label, min(vec_id) AS sid FROM emb
                WHERE $trainWhere GROUP BY label),
      cc0 AS (
        SELECT emb.label AS cc_id, emb.e AS c
        FROM emb JOIN seeds ON emb.vec_id = seeds.sid),
      ca1 AS (
        SELECT vec_id, e, cc_id FROM (
          SELECT emb.vec_id, emb.e, cc0.cc_id,
                 row_number() OVER (PARTITION BY emb.vec_id
                   ORDER BY (list_dot_product(e, c) - 0.5 * list_dot_product(c, c)) DESC,
                            cc0.cc_id) AS rn
          FROM emb CROSS JOIN cc0 WHERE $trainWhere) WHERE rn = 1),
      cm1 AS (
        SELECT cc_id, j, (sum((e[j])::DECIMAL(28,12)))::DOUBLE / count(*) AS mv
        FROM ca1, range(1, 65) t(j) GROUP BY cc_id, j),
      cc1 AS (
        SELECT cc_id, list(mv ORDER BY j) AS c FROM cm1 GROUP BY cc_id),
      ca2 AS (
        SELECT vec_id, e, cc_id FROM (
          SELECT ca1.vec_id, ca1.e, cc1.cc_id,
                 row_number() OVER (PARTITION BY ca1.vec_id
                   ORDER BY (list_dot_product(e, c) - 0.5 * list_dot_product(c, c)) DESC,
                            cc1.cc_id) AS rn
          FROM ca1 CROSS JOIN cc1) WHERE rn = 1),
      cm2 AS (
        SELECT cc_id, j, (sum((e[j])::DECIMAL(28,12)))::DOUBLE / count(*) AS mv
        FROM ca2, range(1, 65) t(j) GROUP BY cc_id, j),
      coarse AS (
        SELECT cc_id, list(mv ORDER BY j) AS c FROM cm2 GROUP BY cc_id),
      ca AS (
        SELECT vec_id, cc_id,
               list_transform(range(64), j -> e[j+1] - c[j+1]) AS r
        FROM (
          SELECT emb.vec_id, emb.e, coarse.cc_id, coarse.c,
                 row_number() OVER (PARTITION BY emb.vec_id
                   ORDER BY (list_dot_product(e, c) - 0.5 * list_dot_product(c, c)) DESC,
                            coarse.cc_id) AS rn
          FROM emb CROSS JOIN coarse) WHERE rn = 1),
      subv AS (
        SELECT vec_id, cc_id, s, r[(s*4+1):(s*4+4)] AS x
        FROM ca, range(0, 16) t(s)),
      c0 AS (
        SELECT s, (dense_rank() OVER (PARTITION BY s ORDER BY vec_id) - 1)::INT AS c_id,
               x AS c
        FROM subv WHERE $seedW),
      a1 AS (
        SELECT vec_id, s, x, c_id FROM (
          SELECT subv.vec_id, subv.s, subv.x, c0.c_id,
                 row_number() OVER (PARTITION BY subv.vec_id, subv.s
                   ORDER BY (list_dot_product(x, c) - 0.5 * list_dot_product(c, c)) DESC,
                            c0.c_id) AS rn
          FROM subv JOIN c0 ON c0.s = subv.s
          WHERE $trainWhere) WHERE rn = 1),
      m1 AS (
        SELECT s, c_id, j, (sum((x[j])::DECIMAL(28,12)))::DOUBLE / count(*) AS mv
        FROM a1, range(1, 5) t(j) GROUP BY s, c_id, j),
      c1 AS (
        SELECT s, c_id, list(mv ORDER BY j) AS c FROM m1 GROUP BY s, c_id),
      a2 AS (
        SELECT vec_id, s, x, c_id FROM (
          SELECT a1.vec_id, a1.s, a1.x, c1.c_id,
                 row_number() OVER (PARTITION BY a1.vec_id, a1.s
                   ORDER BY (list_dot_product(x, c) - 0.5 * list_dot_product(c, c)) DESC,
                            c1.c_id) AS rn
          FROM a1 JOIN c1 ON c1.s = a1.s) WHERE rn = 1),
      m2 AS (
        SELECT s, c_id, j, (sum((x[j])::DECIMAL(28,12)))::DOUBLE / count(*) AS mv
        FROM a2, range(1, 5) t(j) GROUP BY s, c_id, j),
      c2 AS (
        SELECT s, c_id, list(mv ORDER BY j) AS c FROM m2 GROUP BY s, c_id),
      codes AS (
        SELECT vec_id, s, c_id AS code FROM (
          SELECT subv.vec_id, subv.s, c2.c_id,
                 row_number() OVER (PARTITION BY subv.vec_id, subv.s
                   ORDER BY (list_dot_product(x, c) - 0.5 * list_dot_product(c, c)) DESC,
                            c2.c_id) AS rn
          FROM subv JOIN c2 ON c2.s = subv.s) WHERE rn = 1),
      cand AS (SELECT vec_id, cc_id FROM ca),
      pb AS (
        SELECT probe_id, cc_id, pc, pe FROM (
          SELECT emb.vec_id AS probe_id, coarse.cc_id,
                 list_dot_product(emb.e, coarse.c) AS pc, emb.e AS pe,
                 row_number() OVER (PARTITION BY emb.vec_id
                   ORDER BY (list_dot_product(e, c) - 0.5 * list_dot_product(c, c)) DESC,
                            coarse.cc_id) AS rn
          FROM emb CROSS JOIN coarse
          WHERE $probeWhere) WHERE rn <= 2),
      pairs AS (
        SELECT pb.probe_id, cand.vec_id AS id, pb.pc, codes.s,
               list_dot_product(pb.pe[(codes.s*4+1):(codes.s*4+4)], c2.c) AS ds
        FROM pb
        JOIN cand ON cand.cc_id = pb.cc_id AND cand.vec_id <> pb.probe_id
                 AND ($candWhere)
        JOIN codes ON codes.vec_id = cand.vec_id
        JOIN c2 ON c2.s = codes.s AND c2.c_id = codes.code),
      adc AS (
        SELECT probe_id, id, any_value(pc) + ($tChain) AS adc
        FROM pairs GROUP BY probe_id, id),
      ranked AS (
        SELECT probe_id, id, adc,
               row_number() OVER (PARTITION BY probe_id
                 ORDER BY adc DESC, id) AS rank
        FROM adc)"""
  }

  /** The gated default configuration (kSub = 16). */
  private lazy val ivfPqCtes: String = ivfPqCtesK(16)

  /** The top-3 tail of the ADC-scored oracles (over a `ranked` CTE). */
  private lazy val adcTop3Sql: String = """
      SELECT probe_id, rank, id, round(adc, 9) AS adc
      FROM ranked WHERE rank <= 3
      ORDER BY probe_id, rank
    """

  private lazy val ivfPqOracleSql: String = ivfPqCtes + adcTop3Sql

  /** The top-3 tail of the re-ranked oracles (over an `rr` CTE). */
  private lazy val cosTop3Sql: String = """
      SELECT probe_id, rank, id, round(cos, 9) AS cos
      FROM rr WHERE rank <= 3
      ORDER BY probe_id, rank
    """

  /** Unit-vector CTE over `emb` — the brute-force/re-rank cosine side of
    * the PQ-family oracles (must follow a chain that defines `emb`). */
  private lazy val unitCteSql: String = """
      u AS (
        SELECT vec_id, list_transform(e, x -> x / sqrt(list_dot_product(e, e))) AS ue
        FROM emb)"""

  /** [[ivfPqCtes]] + the EXACT-COSINE RE-RANK stage
    * ([[Similarity.ivfPqTopKRerankIndexed]]'s arithmetic): `ranked`'s
    * top-32 ADC candidates per probe re-scored by the true unit-vector
    * dot product — the q27 brute-force chain scoped to the candidate
    * set — and re-ranked on (cos desc, id). Shared by the q127d result
    * oracle and the q130c recall oracle, the same one-definition
    * discipline as [[ivfPqCtes]] itself. */
  private lazy val pqRerankCtes: String = ivfPqCtes + s""",
      $unitCteSql,
      cr AS (SELECT probe_id, id FROM ranked WHERE rank <= 32),
      rr AS (
        SELECT cr.probe_id, cr.id, list_dot_product(pu.ue, cu.ue) AS cos,
               row_number() OVER (PARTITION BY cr.probe_id
                 ORDER BY list_dot_product(pu.ue, cu.ue) DESC, cr.id) AS rank
        FROM cr
        JOIN u cu ON cu.vec_id = cr.id
        JOIN u pu ON pu.vec_id = cr.probe_id)"""

  /** The recall@k tail every PQ-family recall oracle appends: the q27
    * brute-force top-3 chain over `u` (which must already be defined),
    * the approx side supplied as `apxSelect`, then the hit-count
    * arithmetic — one definition shared by q130b/q130c/q130d so the
    * three gates measure recall identically. */
  private def pqRecallTailSql(apxSelect: String): String = s""",
      bfp AS (SELECT vec_id AS probe_id, ue AS up FROM u WHERE vec_id < 20),
      bfs AS (
        SELECT probe_id, vec_id AS id,
               row_number() OVER (PARTITION BY probe_id
                 ORDER BY list_dot_product(up, ue) DESC, vec_id) AS rank
        FROM u CROSS JOIN bfp
        WHERE vec_id <> probe_id),
      bf AS (SELECT probe_id, id FROM bfs WHERE rank <= 3),
      apx AS ($apxSelect),
      hits AS (
        SELECT bf.probe_id, count(*) AS n_hit
        FROM bf JOIN apx ON apx.probe_id = bf.probe_id AND apx.id = bf.id
        GROUP BY bf.probe_id),
      bfn AS (SELECT probe_id, count(*) AS n_ex FROM bf GROUP BY probe_id)
      SELECT p.probe_id,
             coalesce(h.n_hit, 0)::BIGINT AS n_hit,
             round(coalesce(h.n_hit, 0) / least(3, p.n_ex), 6) AS recall
      FROM bfn p
      LEFT JOIN hits h ON h.probe_id = p.probe_id
      ORDER BY p.probe_id
    """

  /** Recall@k evaluation ([[Similarity.recallAtK]]) — the EVALUATE leg
    * of the index lifecycle, and the number every ANN deployment tunes
    * nprobe/bands/m against: the q28 seed-centroid IVF at nprobe=2
    * scored per-probe against the q27 exact baseline over the same 20
    * probes. SimilaritySpec's quality pins (trained ≥ seeds, LSH ≥ 0.9)
    * use the same definition; this gates the COMPUTATION itself — both
    * top-k sets, the (probe_id, id) intersection, and the per-probe
    * ratio — under the cross-engine oracle. At 100 TB the exact side is
    * the cost (O(|probe sample|·n), the documented baseline shape); the
    * comparison here is |sample|·k rows on both sides, metadata-cheap
    * at any corpus size. */
  val q130AnnRecall = QueryDef(
    "q130_ann_recall",
    (s, d) => {
      val (corpus, centroids, probes) = ivfInputs(s, d)
      val exact = Similarity.bruteForceTopK(corpus, probes, 3)
      val approx = Similarity.ivfTopK(corpus, centroids, probes, k = 3, nprobe = 2)
      Similarity.recallAtK(approx, exact, 3).orderBy("probe_id")
    },
    Some(ivfCtes("u.vec_id < 20") + """,
      bfp AS (SELECT vec_id AS probe_id, ue AS up FROM u WHERE vec_id < 20),
      bfs AS (
        SELECT probe_id, vec_id AS id,
               row_number() OVER (PARTITION BY probe_id
                 ORDER BY list_dot_product(up, ue) DESC, vec_id) AS rank
        FROM u CROSS JOIN bfp
        WHERE vec_id <> probe_id),
      bf AS (SELECT probe_id, id FROM bfs WHERE rank <= 3),
      ivf AS (SELECT probe_id, id FROM scored WHERE rank <= 3),
      hits AS (
        SELECT bf.probe_id, count(*) AS n_hit
        FROM bf JOIN ivf ON ivf.probe_id = bf.probe_id AND ivf.id = bf.id
        GROUP BY bf.probe_id),
      bfn AS (SELECT probe_id, count(*) AS n_ex FROM bf GROUP BY probe_id)
      SELECT p.probe_id,
             coalesce(h.n_hit, 0)::BIGINT AS n_hit,
             round(coalesce(h.n_hit, 0) / least(3, p.n_ex), 6) AS recall
      FROM bfn p
      LEFT JOIN hits h ON h.probe_id = p.probe_id
      ORDER BY p.probe_id
    """))

  /** Recall@k for the QUANTIZED ladder — the quality gate q130 gives the
    * unquantized IVF, applied to the PERSISTED IVF-PQ index (q127c's
    * flow: coarse training → writeIvfPqIndex → readPqBooks →
    * ivfPqTopKIndexed): quantization error is precisely what PQ trades
    * for its 16× compression, so a user tuning m/bk/nprobe on the
    * persisted index needs this number, not just the determinism gates.
    * Scored per-probe against the q27 exact baseline through the SAME
    * [[Similarity.recallAtK]] (same min(k,|exact|) denominator, same
    * oversize guards). The oracle composes [[ivfPqCtes]] — every float
    * of the coarse training, residual codes, and ADC sum — with the
    * brute-force chain over the same embeddings, then the hit-count
    * arithmetic, so a flipped assignment anywhere upstream breaks this
    * gate exactly as it breaks q127b/q127c. Measured at sf0.01 (5k
    * vectors): IVF-PQ at nprobe=2 scores mean recall@3 0.33 vs the
    * unquantized IVF's 0.63 at the same nprobe, and the RecallProbe
    * nprobe sweep shows the PQ number is QUANTIZATION-bound (saturates
    * ~0.38 while IVF climbs to 0.97 — the fix is m/kSub, not nprobe;
    * SOAK.md round 12). benchSkip: the timed body would be the one-off index
    * WRITE plus two training runs (the q127c convention); the probe
    * path is what production re-runs. */
  val q130bPqRecall = QueryDef(
    "q130b_pq_recall",
    (s, d) => {
      val (corpus, seeds, probes) = ivfInputs(s, d)
      val coarse = Similarity.kmeansTrainL2(corpus, seeds, iters = 2)
      Similarity.writeIvfPqIndex(corpus, coarse, "graft_ivfpq_recall_index",
        m = 16, dim = 64, seedIds = 0L until 16L, iters = 2, numBuckets = 8)
      val bk = Similarity.readPqBooks(s, "graft_ivfpq_recall_index", dim = 64)
      val approx = Similarity.ivfPqTopKIndexed("graft_ivfpq_recall_index",
        coarse, probes, bk, k = 3, nprobe = 2)
      val exact = Similarity.bruteForceTopK(corpus, probes, 3)
      Similarity.recallAtK(approx, exact, 3).orderBy("probe_id")
    },
    Some(ivfPqCtes + "," + unitCteSql +
      pqRecallTailSql("SELECT probe_id, id FROM ranked WHERE rank <= 3")),
    benchSkip = true)

  /** ADC RE-RANK over the persisted IVF-PQ index
    * ([[Similarity.ivfPqTopKRerankIndexed]]) — the production operator
    * for quantization-bound recall, closing the tuning loop q130b
    * opened: top-32 candidates per probe by ADC (m code-byte lookups),
    * then ONLY those 32 vectors fetched from the corpus (broadcast
    * candidate ids — the corpus never shuffles), exact cosine
    * recomputed, top-3 emitted. The emitted `cos` is the TRUE cosine
    * (directly comparable to q27's), not the ADC approximation — the
    * oracle replays the whole chain: coarse training, residual codes,
    * the ADC shortlist, and the exact re-scoring join, so a candidate
    * swap OR a re-rank float anywhere breaks the hash. Same
    * refine-after-candidates shape as q117's verify-after-banding.
    * benchSkip: the timed body would be the one-off index write plus
    * two training runs (the q127c convention). */
  val q127dAnnIvfPqRerank = QueryDef(
    "q127d_ann_ivfpq_rerank",
    (s, d) => {
      val (corpus, seeds, probes) = ivfInputs(s, d)
      val coarse = Similarity.kmeansTrainL2(corpus, seeds, iters = 2)
      Similarity.writeIvfPqIndex(corpus, coarse, "graft_ivfpq_rr_index",
        m = 16, dim = 64, seedIds = 0L until 16L, iters = 2, numBuckets = 8)
      val bk = Similarity.readPqBooks(s, "graft_ivfpq_rr_index", dim = 64)
      Similarity.ivfPqTopKRerankIndexed("graft_ivfpq_rr_index", coarse,
          probes, corpus, bk, k = 3, nprobe = 2, rerank = 32)
        .select(col("probe_id"), col("rank"), col("id"),
          round(col("cos"), 9).as("cos"))
        .orderBy("probe_id", "rank")
    },
    Some(pqRerankCtes + cosTop3Sql),
    benchSkip = true)

  /** INCREMENTAL IVF-PQ maintenance ([[Similarity.appendIvfPqIndex]])
    * — the growing-corpus shape for the QUANTIZED index, completing
    * the lifecycle symmetry with q28d: the index is built (coarse
    * trained, codebooks trained, evens encoded) from HALF the corpus,
    * the odd half appends later — coarse-assigned and PQ-encoded
    * against the FROZEN centroids and the PERSISTED codebooks
    * ([[Similarity.readPqBooks]], the later-session path) — and the
    * probe is byte-identical to q127c's. The oracle replays training
    * restricted to the even half (the shared [[ivfPqCtesK]] chain with
    * `trainWhere`) while assignment and encoding cover every row, so a
    * flipped coarse pick, a mis-encoded appended code, or an ADC float
    * anywhere breaks the hash. benchSkip: two index writes + training
    * in the timed body (q28b convention). */
  val q127eAnnIvfPqAppend = QueryDef(
    "q127e_ann_ivfpq_append",
    (s, d) => {
      val e = emb(s, d)
      val evens = e.filter(col("vec_id") % 2 === 0)
      val ws = org.apache.spark.sql.expressions.Window
        .partitionBy("label").orderBy("vec_id")
      val seedsE = evens
        .withColumn("rn", row_number().over(ws)).filter(col("rn") === 1)
        .select(col("label").as("c_id"), col("e").as("c"))
      val corpusE = evens.select(col("vec_id").as("id"), col("e"))
      val corpusO = e.filter(col("vec_id") % 2 === 1)
        .select(col("vec_id").as("id"), col("e"))
      val probes = e.filter(col("vec_id") < 20)
        .select(col("vec_id").as("probe_id"), col("e").as("p"))
      val coarse = Similarity.kmeansTrainL2(corpusE, seedsE, iters = 2)
      Similarity.writeIvfPqIndex(corpusE, coarse, "graft_ivfpq_app_index",
        m = 16, dim = 64, seedIds = 0L until 32L by 2, iters = 2,
        numBuckets = 8)
      val bk = Similarity.readPqBooks(s, "graft_ivfpq_app_index", dim = 64)
      Similarity.appendIvfPqIndex(corpusO, coarse, "graft_ivfpq_app_index", bk)
      Similarity.ivfPqTopKIndexed("graft_ivfpq_app_index", coarse, probes,
          bk, k = 3, nprobe = 2)
        .select(col("probe_id"), col("rank"), col("id"),
          round(col("adc"), 9).as("adc"))
        .orderBy("probe_id", "rank")
    },
    Some(ivfPqCtesK(16, trainWhere = "vec_id % 2 = 0",
      pqSeedWhere = "vec_id % 2 = 0 AND vec_id < 32") + adcTop3Sql),
    benchSkip = true)

  /** BULK kNN join on the QUANTIZED index
    * ([[Similarity.ivfPqTopKBulk]]) — q28f's whole-corpus self-kNN
    * shape moved to the PQ ladder, completing the serve-path symmetry
    * (every probe is the corpus itself: semantic dedup and batch
    * re-embedding joins at 8 code bytes per candidate instead of d
    * doubles). Probes coarse-assign and build their m ADC tables
    * MAP-SIDE, shuffle once on c_id onto the code table's bucket
    * layout, and the index is read in place and hash-built per bucket
    * — no driver-side probe collect anywhere (the indexed path's
    * convention doesn't scale to corpus-sized probe sets). Like q28f,
    * this runs the label-seeded 10-cell coarse set at EVERY SF — the
    * fixed-centroid regime the sizing guard exists to reject once the
    * corpus outgrows it (√20000/8 ≈ 18 cells at sf1) — so it passes
    * maxShareFactor = ∞ loudly at the call site; the guard's active
    * form is spec-pinned in IvfIndexSpec's PQ bulk case, and q28g is
    * the corrected-√n-sizing demonstration (vector ladder — the dial
    * is the coarse set, which the two ladders share). The oracle is
    * the full IVF-PQ replay
    * with the probe predicate opened to the whole corpus — a flipped
    * coarse pick or ADC float for ANY probe breaks the hash.
    * benchSkip: index write + two training runs in the timed body
    * (q127c convention). */
  val q127fAnnIvfPqBulk = QueryDef(
    "q127f_ann_ivfpq_bulk",
    (s, d) => {
      val (corpus, seeds, _) = ivfInputs(s, d)
      val coarse = Similarity.kmeansTrainL2(corpus, seeds, iters = 2)
      Similarity.writeIvfPqIndex(corpus, coarse, "graft_ivfpq_bulk_index",
        m = 16, dim = 64, seedIds = 0L until 16L, iters = 2, numBuckets = 8)
      val bk = Similarity.readPqBooks(s, "graft_ivfpq_bulk_index", dim = 64)
      val probes = corpus.select(col("id").as("probe_id"), col("e").as("p"))
      // maxShareFactor = ∞: the 10 label-seeded cells are fixed at every
      // SF while the corpus grows — the mis-sizing regime the guard
      // rejects from sf1 up (see the scaladoc above; q28f's convention)
      Similarity.ivfPqTopKBulk("graft_ivfpq_bulk_index", coarse, probes, bk,
          k = 3, nprobe = 2, maxShareFactor = Double.PositiveInfinity)
        .select(col("probe_id"), col("rank"), col("id"),
          round(col("adc"), 9).as("adc"))
        .orderBy("probe_id", "rank")
    },
    Some(ivfPqCtesK(16, probeWhere = "TRUE") + adcTop3Sql),
    benchSkip = true)

  /** Recall@3 of the RE-RANKED persisted IVF-PQ index (q127d's flow)
    * against the q27 exact baseline — the number that closes q130b's
    * loop WITH AN OPERATOR instead of a dial: same index, same m=16
    * codebooks, same nprobe=2, and the re-rank stage lifts recall@3
    * from 0.33 to 0.75 at sf0.01 and 0.23 to 0.57 at sf0.1 (SOAK.md
    * round 13) at the cost of 32 exact dot products per probe. The
    * residual gap is PRUNING-bound, measured, not asserted: the
    * RecallProbe rerank sweep re-scores EVERY probed-bucket member
    * exactly (the R→∞ ceiling) and R=32 sits ON that ceiling at sf0.01
    * (0.75 = 0.75), within 0.07 of it at sf0.1 (0.57 vs 0.63 — bucket
    * occupancy grew 10×, so a shortlist term appears; R=128 closes
    * it). Quantization error is fully recovered; what remains responds
    * to nprobe (pruning) and R (shortlist) — the two dials that
    * actually work, where q130b proved nprobe alone could not move the
    * un-reranked number. Oracle: [[pqRerankCtes]] (the q127d chain) +
    * the shared recall tail. benchSkip: index write + training
    * dominates (q127c convention). */
  val q130cPqRerankRecall = QueryDef(
    "q130c_pq_rerank_recall",
    (s, d) => {
      val (corpus, seeds, probes) = ivfInputs(s, d)
      val coarse = Similarity.kmeansTrainL2(corpus, seeds, iters = 2)
      Similarity.writeIvfPqIndex(corpus, coarse, "graft_ivfpq_rrq_index",
        m = 16, dim = 64, seedIds = 0L until 16L, iters = 2, numBuckets = 8)
      val bk = Similarity.readPqBooks(s, "graft_ivfpq_rrq_index", dim = 64)
      val approx = Similarity.ivfPqTopKRerankIndexed("graft_ivfpq_rrq_index",
        coarse, probes, corpus, bk, k = 3, nprobe = 2, rerank = 32)
      val exact = Similarity.bruteForceTopK(corpus, probes, 3)
      Similarity.recallAtK(approx, exact, 3).orderBy("probe_id")
    },
    Some(pqRerankCtes +
      pqRecallTailSql("SELECT probe_id, id FROM rr WHERE rank <= 3")),
    benchSkip = true)

  /** Recall@3 of the persisted IVF-PQ index at kSub = 64 — the CAPACITY
    * fix the round-12 RecallProbe sweep diagnosed and validated
    * (quantization-bound at kSub=16: nprobe sweeps saturate ~0.38 while
    * kSub=64 lifts recall everywhere), now pinned under the cross-engine
    * oracle instead of living only in a test-main probe: same m=16,
    * same nprobe=2, 4× the codebook entries (index codes are still m
    * bytes/vector — capacity costs codebook metadata and encode-time
    * argmax width, not index size). Gated recall@3 0.53 at sf0.01 /
    * 0.38 at sf0.1 vs kSub=16's 0.33 / 0.23 (q130b) — the dial's
    * number; q130c's re-rank is the OPERATOR answer at fixed capacity
    * (0.75 / 0.57 there), and they compose. Oracle:
    * [[ivfPqCtesK]](64) + the shared recall tail. benchSkip: index
    * write + training dominates (q127c convention). */
  val q130dPqRecallKsub64 = QueryDef(
    "q130d_pq_recall_ksub64",
    (s, d) => {
      val (corpus, seeds, probes) = ivfInputs(s, d)
      val coarse = Similarity.kmeansTrainL2(corpus, seeds, iters = 2)
      Similarity.writeIvfPqIndex(corpus, coarse, "graft_ivfpq_k64_index",
        m = 16, dim = 64, seedIds = 0L until 64L, iters = 2, numBuckets = 8)
      val bk = Similarity.readPqBooks(s, "graft_ivfpq_k64_index", dim = 64)
      val approx = Similarity.ivfPqTopKIndexed("graft_ivfpq_k64_index",
        coarse, probes, bk, k = 3, nprobe = 2)
      val exact = Similarity.bruteForceTopK(corpus, probes, 3)
      Similarity.recallAtK(approx, exact, 3).orderBy("probe_id")
    },
    Some(ivfPqCtesK(64) + "," + unitCteSql +
      pqRecallTailSql("SELECT probe_id, id FROM ranked WHERE rank <= 3")),
    benchSkip = true)

  // ---------------------------------------------------------------- //
  // FILTERED vector search (q133 family): predicate + top-k, the       //
  // production serve shape ("nearest docs WHERE lang = …"). Two        //
  // strategies with opposite trade-offs, both gated cross-engine:      //
  //  - INLINE (q133b): the predicate column is index PAYLOAD           //
  //    (writeIvfIndex payload=…) and ivfTopKIndexed ranks over         //
  //    matching rows only — recall is selectivity-independent, the     //
  //    predicate reaches the parquet scan (PushedFilters).             //
  //  - POST-FILTER (q133c): the predicate lives on an EXTERNAL         //
  //    allow-list; an over-fetched shortlist is filtered after         //
  //    retrieval — no index change, but recall decays with             //
  //    selectivity (short probes are visible, not padded).             //
  // q133 is the exact filtered baseline; q133d gates both strategies'  //
  // recall against it through the same Similarity.recallAtK.           //
  // ---------------------------------------------------------------- //

  /** Exact FILTERED top-k baseline: brute-force cosine over the corpus
    * restricted to the predicate (label % 3 = 0 — a stand-in for any
    * metadata class: language, license, tenant). The filtered ground
    * truth the two approximate strategies (q133b inline, q133c
    * post-filter) are scored against in q133d. Same scale shape as q27:
    * O(|probes|·|corpus|) by design, the evaluation-leg cost. */
  val q133AnnFiltered = QueryDef(
    "q133_ann_filtered",
    (s, d) => {
      val e = emb(s, d)
      val corpus = e.filter(col("label") % 3 === 0)
        .select(col("vec_id").as("id"), col("e"))
      val probes = e.filter(col("vec_id") < 20)
        .select(col("vec_id").as("probe_id"), col("e").as("p"))
      Similarity.bruteForceTopK(corpus, probes, 3)
        .select(col("probe_id"), col("rank"), col("id"),
          round(col("cos"), 9).as("cos"))
        .orderBy("probe_id", "rank")
    },
    Some("""
      WITH emb AS (SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings),
      u AS (
        SELECT vec_id, label, list_transform(e, x -> x / nrm) AS ue
        FROM (SELECT vec_id, label, e, sqrt(list_dot_product(e, e)) AS nrm FROM emb)),
      probes AS (SELECT vec_id AS probe_id, ue AS up FROM u WHERE vec_id < 20),
      scored AS (
        SELECT probe_id, vec_id AS id, list_dot_product(up, ue) AS cos,
               row_number() OVER (PARTITION BY probe_id
                 ORDER BY list_dot_product(up, ue) DESC, vec_id) AS rank
        FROM u CROSS JOIN probes
        WHERE vec_id <> probe_id AND label % 3 = 0)
      SELECT probe_id, rank, id, round(cos, 9) AS cos
      FROM scored WHERE rank <= 3
      ORDER BY probe_id, rank
    """))

  /** INLINE-filtered IVF over a PAYLOAD-carrying persisted index: the
    * index is written with `label` stored in its rows
    * ([[Similarity.writeIvfIndex]] payload), and the probe ranks over
    * exactly the rows passing `indexFilter` — top-k backfills from the
    * filtered pool inside the probed buckets, so recall against the
    * filtered ground truth equals the unfiltered path's (q133d measures
    * it). The predicate composes UNDER the bucket pruning: the scan
    * reads nprobe buckets AND pushes the label predicate to parquet
    * (`PushedFilters` — FilteredAnnSpec pins both, plus parity with
    * ivfTopK over the pre-filtered corpus, which is the same operator
    * semantics since per-row assignment commutes with filtering).
    * Oracle: the shared IVF chain with the candidate predicate.
    * benchSkip: the timed body would be the index write (q28b
    * convention). */
  val q133bAnnFilteredIvf = QueryDef(
    "q133b_ann_filtered_ivf",
    (s, d) => {
      val e = emb(s, d)
      val (_, centroids, probes) = ivfInputs(s, d)
      val corpus = e.select(col("vec_id").as("id"), col("e"), col("label"))
      Similarity.writeIvfIndex(corpus, centroids, "graft_ivf_filt_index",
        numBuckets = 8, payload = Seq("label"))
      Similarity.ivfTopKIndexed("graft_ivf_filt_index", centroids, probes,
          k = 3, nprobe = 2, indexFilter = col("label") % 3 === 0)
        .select(col("probe_id"), col("rank"), col("id"),
          round(col("cos"), 9).as("cos"))
        .orderBy("probe_id", "rank")
    },
    Some(ivfOracle("u.vec_id < 20", candWhere = "a.label % 3 = 0")),
    benchSkip = true)

  /** POST-FILTER strategy ([[Similarity.postFilterTopK]]): the same
    * predicate as an EXTERNAL allow-list (metadata the index does not
    * carry — permissions, freshness), applied to a 3× over-fetched IVF
    * shortlist, survivors re-ranked, top-3 emitted. A probe whose
    * 9-candidate shortlist holds fewer than 3 allowed ids comes back
    * SHORT — the oracle replays exactly that (both engines emit the
    * same short probes), and q133d prices the recall loss against
    * q133b's inline strategy. The allow-list side STREAMS through one
    * broadcast-hash join against the shortlist; it never shuffles. */
  val q133cAnnPostfilter = QueryDef(
    "q133c_ann_postfilter",
    (s, d) => {
      val (corpus, centroids, probes) = ivfInputs(s, d)
      val allowed = emb(s, d).filter(col("label") % 3 === 0)
        .select(col("vec_id").as("id"))
      val shortlist = Similarity.ivfTopK(corpus, centroids, probes,
        k = 9, nprobe = 2)
      Similarity.postFilterTopK(shortlist, allowed, 3)
        .select(col("probe_id"), col("rank"), col("id"),
          round(col("cos"), 9).as("cos"))
        .orderBy("probe_id", "rank")
    },
    Some(ivfCtes("u.vec_id < 20") + """,
      pf AS (
        SELECT probe_id, id, cos,
               row_number() OVER (PARTITION BY probe_id
                 ORDER BY cos DESC, id) AS prank
        FROM scored WHERE rank <= 9 AND label % 3 = 0)
      SELECT probe_id, prank AS rank, id, round(cos, 9) AS cos
      FROM pf WHERE prank <= 3
      ORDER BY probe_id, rank
    """))

  /** Recall@3 of BOTH filtered-search strategies against the exact
    * filtered baseline (q133), through the same
    * [[Similarity.recallAtK]] as the whole recall family — the number
    * that makes the strategy choice a measurement instead of folklore:
    * inline ranks over filtered candidates in the probed buckets
    * (selectivity-independent), post-filter spends its 9-candidate
    * shortlist on rows the predicate then discards (recall decays with
    * selectivity, and SHORT probes score their true partial credit).
    * Measured mean recall@3 (SOAK.md round 13): inline 0.633 / 0.667,
    * post-filter 0.617 / 0.617 at sf0.01 / sf0.1 — close at 1/3
    * selectivity with a 3× over-fetch, and the gap is one dial-turn
    * wide: tighten selectivity or drop the over-fetch and the
    * post-filter side falls away (FilteredAnnSpec's R = k case starves
    * probes below k) while inline holds. The inline side runs [[Similarity.ivfTopK]]
    * on the pre-filtered corpus — the SAME semantics as q133b's
    * indexed path (assignment commutes with filtering; FilteredAnnSpec
    * pins frame equality) without paying an index write in a timed
    * body. Oracle: ONE shared IVF chain, both strategies' top-3 and
    * the filtered brute-force ground truth derived from it, recall
    * arithmetic replayed per strategy. */
  val q133dFilteredRecall = QueryDef(
    "q133d_filtered_recall",
    (s, d) => {
      val (corpus, centroids, probes) = ivfInputs(s, d)
      val fcorpus = emb(s, d).filter(col("label") % 3 === 0)
        .select(col("vec_id").as("id"), col("e"))
      val exact = Similarity.bruteForceTopK(fcorpus, probes, 3)
      val inline = Similarity.ivfTopK(fcorpus, centroids, probes,
        k = 3, nprobe = 2)
      val post = Similarity.postFilterTopK(
        Similarity.ivfTopK(corpus, centroids, probes, k = 9, nprobe = 2),
        fcorpus.select("id"), 3)
      Similarity.recallAtK(inline, exact, 3)
        .withColumn("strategy", lit("inline"))
        .unionByName(Similarity.recallAtK(post, exact, 3)
          .withColumn("strategy", lit("postfilter")))
        .select(col("strategy"), col("probe_id"), col("n_hit"), col("recall"))
        .orderBy("strategy", "probe_id")
    },
    Some(ivfCtes("u.vec_id < 20") + """,
      inl AS (
        SELECT probe_id, id,
               row_number() OVER (PARTITION BY probe_id
                 ORDER BY cos DESC, id) AS rnk
        FROM scored WHERE label % 3 = 0),
      inl3 AS (SELECT probe_id, id FROM inl WHERE rnk <= 3),
      pfc AS (
        SELECT probe_id, id,
               row_number() OVER (PARTITION BY probe_id
                 ORDER BY cos DESC, id) AS rnk
        FROM scored WHERE rank <= 9 AND label % 3 = 0),
      pf3 AS (SELECT probe_id, id FROM pfc WHERE rnk <= 3),
      bfp AS (SELECT vec_id AS probe_id, ue AS up FROM u WHERE vec_id < 20),
      bfs AS (
        SELECT probe_id, vec_id AS id,
               row_number() OVER (PARTITION BY probe_id
                 ORDER BY list_dot_product(up, ue) DESC, vec_id) AS rank
        FROM u CROSS JOIN bfp
        WHERE vec_id <> probe_id AND label % 3 = 0),
      bf AS (SELECT probe_id, id FROM bfs WHERE rank <= 3),
      bfn AS (SELECT probe_id, count(*) AS n_ex FROM bf GROUP BY probe_id),
      hin AS (
        SELECT bf.probe_id, count(*) AS n_hit
        FROM bf JOIN inl3 ON inl3.probe_id = bf.probe_id AND inl3.id = bf.id
        GROUP BY bf.probe_id),
      hpf AS (
        SELECT bf.probe_id, count(*) AS n_hit
        FROM bf JOIN pf3 ON pf3.probe_id = bf.probe_id AND pf3.id = bf.id
        GROUP BY bf.probe_id)
      SELECT 'inline' AS strategy, p.probe_id,
             coalesce(h.n_hit, 0)::BIGINT AS n_hit,
             round(coalesce(h.n_hit, 0) / least(3, p.n_ex), 6) AS recall
      FROM bfn p LEFT JOIN hin h ON h.probe_id = p.probe_id
      UNION ALL
      SELECT 'postfilter' AS strategy, p.probe_id,
             coalesce(h.n_hit, 0)::BIGINT AS n_hit,
             round(coalesce(h.n_hit, 0) / least(3, p.n_ex), 6) AS recall
      FROM bfn p LEFT JOIN hpf h ON h.probe_id = p.probe_id
      ORDER BY strategy, probe_id
    """))

  /** The PQ-LADDER FILTERED-SERVE COMPOSITION the re-rank operator's
    * scaladoc prescribes, now gated instead of documented: the code
    * table carries no payload columns, so a quantized index filters
    * POST-retrieval — [[Similarity.ivfPqTopKRerankIndexed]] fetches an
    * over-sized exact-cosine shortlist (k = 9 from the rerank = 32 ADC
    * candidates), and [[Similarity.postFilterTopK]] applies the
    * external allow-list (label % 3 = 0) and re-ranks the survivors to
    * the final top-3. This pins the rank-column HANDOFF between the
    * two operators cross-engine: the re-rank emits (probe_id, rank,
    * id, cos) with exact cosines, exactly the shortlist contract
    * postFilterTopK consumes — a drift in either frame's ordering or
    * score breaks the hash. Short probes stay honest (the q133c
    * contract); a frequently-filtered corpus belongs in a payload IVF
    * index instead (q133b — the selectivity-independent path). Oracle:
    * the shared [[pqRerankCtes]] chain (coarse training, residual
    * codes, ADC top-32, exact re-rank) + the allow-list restriction
    * and re-rank over its rank ≤ 9 rows. benchSkip: index write +
    * training in the timed body (q127c convention). */
  val q133eAnnPqPostfilter = QueryDef(
    "q133e_ann_pq_postfilter",
    (s, d) => {
      val (corpus, seeds, probes) = ivfInputs(s, d)
      val coarse = Similarity.kmeansTrainL2(corpus, seeds, iters = 2)
      Similarity.writeIvfPqIndex(corpus, coarse, "graft_ivfpq_pf_index",
        m = 16, dim = 64, seedIds = 0L until 16L, iters = 2, numBuckets = 8)
      val bk = Similarity.readPqBooks(s, "graft_ivfpq_pf_index", dim = 64)
      val allowed = emb(s, d).filter(col("label") % 3 === 0)
        .select(col("vec_id").as("id"))
      val shortlist = Similarity.ivfPqTopKRerankIndexed("graft_ivfpq_pf_index",
        coarse, probes, corpus, bk, k = 9, nprobe = 2, rerank = 32)
      Similarity.postFilterTopK(shortlist, allowed, 3)
        .select(col("probe_id"), col("rank"), col("id"),
          round(col("cos"), 9).as("cos"))
        .orderBy("probe_id", "rank")
    },
    Some(pqRerankCtes + """,
      pf AS (
        SELECT rr.probe_id, rr.id, rr.cos,
               row_number() OVER (PARTITION BY rr.probe_id
                 ORDER BY rr.cos DESC, rr.id) AS prank
        FROM rr JOIN emb ON emb.vec_id = rr.id
        WHERE rr.rank <= 9 AND emb.label % 3 = 0)
      SELECT probe_id, prank AS rank, id, round(cos, 9) AS cos
      FROM pf WHERE prank <= 3
      ORDER BY probe_id, rank
    """),
    benchSkip = true)

  /** PER-PROBE EXCLUSION serve ([[Similarity.excludePairsTopK]]) — the
    * "docs this user already saw" case: exclusion sets that are both
    * EXTERNAL to the index (q133c's axis) and PER-PROBE (q137's axis).
    * A synthetic seen-log — every (probe, id) pair with
    * (probe_id + id) % 4 = 0, i.e. a quarter of each probe's world —
    * is excluded from a 3× over-fetched IVF shortlist; survivors
    * re-rank, top-3 emit, short probes stay honest. The log side is
    * |probes|·|corpus|-scale by construction and STREAMS through the
    * semi-then-anti broadcast composition (the operator's scaladoc;
    * FilteredAnnSpec pins the no-log-Exchange plan). The oracle
    * replays shortlist, exclusion, and re-rank from the shared IVF
    * chain. */
  /** The synthetic per-probe seen-log the exclusion gates share —
    * every (probe, id) pair with (probe_id + id) % 4 = 0, a quarter of
    * each probe's world. ONE definition for q133f and q138c, matching
    * the shared oracle below (the Spark side must not be able to drift
    * either). */
  private def seenLog(probes: DataFrame, corpus: DataFrame): DataFrame =
    probes.select(col("probe_id"))
      .crossJoin(corpus.select(col("id")))
      .filter(pmod(col("probe_id") + col("id"), lit(4)) === 0)

  /** The seen-log exclusion oracle (shortlist rank ≤ 9, (probe+id)%4
    * pairs excluded, survivors re-ranked to top-3) — ONE definition
    * shared by q133f (in-plan IVF shortlist) and q138c (the same serve
    * stack over the persisted index; ivfTopKIndexed ≡ ivfTopK on the
    * same inputs, the q28/q28b oracle-sharing precedent), so the two
    * gates cannot pin different exclusion arithmetic. */
  private lazy val seenExclusionOracleSql: String =
    ivfCtes("u.vec_id < 20") + """,
      pf AS (
        SELECT probe_id, id, cos,
               row_number() OVER (PARTITION BY probe_id
                 ORDER BY cos DESC, id) AS prank
        FROM scored
        WHERE rank <= 9 AND (probe_id + id) % 4 <> 0)
      SELECT probe_id, prank AS rank, id, round(cos, 9) AS cos
      FROM pf WHERE prank <= 3
      ORDER BY probe_id, rank
    """

  val q133fAnnSeenExclusion = QueryDef(
    "q133f_ann_seen_exclusion",
    (s, d) => {
      val (corpus, centroids, probes) = ivfInputs(s, d)
      val shortlist = Similarity.ivfTopK(corpus, centroids, probes,
        k = 9, nprobe = 2)
      Similarity.excludePairsTopK(shortlist, seenLog(probes, corpus), 3)
        .select(col("probe_id"), col("rank"), col("id"),
          round(col("cos"), 9).as("cos"))
        .orderBy("probe_id", "rank")
    },
    Some(seenExclusionOracleSql))

  /** PER-PROBE EXTERNAL EXCLUSION on the QUANTIZED ladder — the
    * fourth filtered-serve quadrant (external × per-probe, q133f's
    * "docs this user already saw") composed over the PQ re-rank
    * shortlist, so the matrix is now EXPLICITLY gated on both index
    * kinds along both axes: global×inline (q133b), global×external
    * (q133c vector / q133e PQ), per-probe×attribute (q137 vector /
    * q137b PQ), per-probe×external (q133f vector / THIS gate PQ).
    * [[Similarity.ivfPqTopKRerankIndexed]] fetches a 3× over-fetched
    * exact-cosine shortlist (k = 9 from the rerank = 32 ADC
    * candidates) and [[Similarity.excludePairsTopK]] streams the
    * seen-log through the semi-then-anti broadcast composition —
    * exactly q133f's serve stack with the shortlist produced by the
    * quantized index. The oracle replays the exclusion and re-rank
    * over the shared [[pqRerankCtes]] chain's rank ≤ 9 rows, so a
    * candidate swap in the ADC shortlist, a re-rank float, or a
    * mis-excluded pair anywhere breaks the hash. benchSkip: index
    * write + training in the timed body (q127c convention; the TIMED
    * exclusion serve is q138c). */
  val q133gPqSeenExclusion = QueryDef(
    "q133g_pq_seen_exclusion",
    (s, d) => {
      val (corpus, seeds, probes) = ivfInputs(s, d)
      val coarse = Similarity.kmeansTrainL2(corpus, seeds, iters = 2)
      Similarity.writeIvfPqIndex(corpus, coarse, "graft_ivfpq_seen_index",
        m = 16, dim = 64, seedIds = 0L until 16L, iters = 2, numBuckets = 8)
      val bk = Similarity.readPqBooks(s, "graft_ivfpq_seen_index", dim = 64)
      val shortlist = Similarity.ivfPqTopKRerankIndexed(
        "graft_ivfpq_seen_index", coarse, probes, corpus, bk,
        k = 9, nprobe = 2, rerank = 32)
      Similarity.excludePairsTopK(shortlist, seenLog(probes, corpus), 3)
        .select(col("probe_id"), col("rank"), col("id"),
          round(col("cos"), 9).as("cos"))
        .orderBy("probe_id", "rank")
    },
    Some(pqRerankCtes + """,
      pf AS (
        SELECT probe_id, id, cos,
               row_number() OVER (PARTITION BY probe_id
                 ORDER BY cos DESC, id) AS prank
        FROM rr
        WHERE rank <= 9 AND (probe_id + id) % 4 <> 0)
      SELECT probe_id, prank AS rank, id, round(cos, 9) AS cos
      FROM pf WHERE prank <= 3
      ORDER BY probe_id, rank
    """),
    benchSkip = true)

  /** DELETE from a persisted index ([[Similarity.deleteFromIvfIndex]])
    * — the right-to-be-forgotten leg of the lifecycle, merge-on-read:
    * ids (every 7th vector) tombstone into a side table, and the
    * UNCHANGED probe path excludes them BEFORE ranking (the serve read
    * goes through liveIndexRows' broadcast anti-join), so each deleted
    * id's top-k slot backfills with the next-best live candidate at
    * serve time — no index rewrite on the delete path. The oracle pins
    * exactly that: the shared IVF chain ranking over non-deleted
    * candidates only. benchSkip: the timed body would be the index
    * write (q28b convention). */
  val q134AnnDelete = QueryDef(
    "q134_ann_delete",
    (s, d) => {
      val (corpus, centroids, probes) = ivfInputs(s, d)
      Similarity.writeIvfIndex(corpus, centroids, "graft_ivf_del_index",
        numBuckets = 8)
      Similarity.deleteFromIvfIndex(s, "graft_ivf_del_index",
        corpus.filter(col("id") % 7 === 3).select("id"))
      Similarity.ivfTopKIndexed("graft_ivf_del_index", centroids, probes,
          k = 3, nprobe = 2)
        .select(col("probe_id"), col("rank"), col("id"),
          round(col("cos"), 9).as("cos"))
        .orderBy("probe_id", "rank")
    },
    Some(ivfOracle("u.vec_id < 20", candWhere = "a.id % 7 <> 3")),
    benchSkip = true)

  /** COMPACTION of a deleted index ([[Similarity.compactIvfIndex]]):
    * the merge-on-read debt payment — tombstones fold into a bucketed
    * rewrite (staged + catalog-swap, same bucket count), the side
    * table drops, and the PLAIN probe path (no anti-join — there is
    * nothing left to exclude) serves the identical result: this gate
    * shares q134's oracle verbatim, so "before compaction with
    * tombstones" and "after compaction without" cannot diverge.
    * FilteredAnnSpec additionally pins that bucket pruning
    * (SelectedBucketsCount) survives the rewrite. benchSkip: two index
    * writes in the body. */
  val q134bAnnDeleteCompact = QueryDef(
    "q134b_ann_delete_compact",
    (s, d) => {
      val (corpus, centroids, probes) = ivfInputs(s, d)
      Similarity.writeIvfIndex(corpus, centroids, "graft_ivf_delc_index",
        numBuckets = 8)
      Similarity.deleteFromIvfIndex(s, "graft_ivf_delc_index",
        corpus.filter(col("id") % 7 === 3).select("id"))
      Similarity.compactIvfIndex(s, "graft_ivf_delc_index")
      Similarity.ivfTopKIndexed("graft_ivf_delc_index", centroids, probes,
          k = 3, nprobe = 2)
        .select(col("probe_id"), col("rank"), col("id"),
          round(col("cos"), 9).as("cos"))
        .orderBy("probe_id", "rank")
    },
    Some(ivfOracle("u.vec_id < 20", candWhere = "a.id % 7 <> 3")),
    benchSkip = true)

  /** The oracle of both PQ delete queries (q134c/q134d): the index
    * without the tombstoned ids (`vec_id % 7 = 3`). */
  private lazy val pqDeleteOracleSql: String =
    ivfPqCtesK(16, candWhere = "cand.vec_id % 7 <> 3") + adcTop3Sql

  /** DELETE on the QUANTIZED index — q134's contract proven for the
    * PQ serve path: the q127c flow (train, writeIvfPqIndex, persisted
    * books) with every 7th vector tombstoned
    * ([[Similarity.deleteFromIvfIndex]] — the same side table, the
    * same liveIndexRows read), probed through plain
    * [[Similarity.ivfPqTopKIndexed]]: deleted code rows are excluded
    * BEFORE ADC ranking, so their top-k slots backfill with the
    * next-best live candidates. The oracle is the full IVF-PQ replay
    * with the candidate set restricted — a resurrected (or
    * over-deleted) id anywhere breaks the hash. benchSkip: index
    * write + training in the timed body (q127c convention). */
  val q134cAnnPqDelete = QueryDef(
    "q134c_ann_pq_delete",
    (s, d) => {
      val (corpus, seeds, probes) = ivfInputs(s, d)
      val coarse = Similarity.kmeansTrainL2(corpus, seeds, iters = 2)
      Similarity.writeIvfPqIndex(corpus, coarse, "graft_ivfpq_del_index",
        m = 16, dim = 64, seedIds = 0L until 16L, iters = 2, numBuckets = 8)
      val bk = Similarity.readPqBooks(s, "graft_ivfpq_del_index", dim = 64)
      Similarity.deleteFromIvfIndex(s, "graft_ivfpq_del_index",
        corpus.filter(col("id") % 7 === 3).select("id"))
      Similarity.ivfPqTopKIndexed("graft_ivfpq_del_index", coarse, probes,
          bk, k = 3, nprobe = 2)
        .select(col("probe_id"), col("rank"), col("id"),
          round(col("adc"), 9).as("adc"))
        .orderBy("probe_id", "rank")
    },
    Some(pqDeleteOracleSql),
    benchSkip = true)

  /** COMPACTION on the QUANTIZED index — q134b's contract proven for
    * the PQ code table ([[Similarity.compactIvfIndex]] is index-kind
    * agnostic: c_id-bucketed with an id column, `_books` untouched —
    * this gate pins the claim cross-engine): q134c's exact flow with
    * [[Similarity.compactIvfIndex]] folding the tombstones into the
    * staged bucketed rewrite + self-healing two-rename catalog swap
    * (metadata-only gap between the renames — the operator's own
    * contract) before the probe, which then runs the PLAIN path (nothing left to
    * anti-join). Shares q134c's oracle verbatim, so merge-on-read
    * serve and post-compaction serve cannot diverge on the quantized
    * ladder — the same equivalence pin q134/q134b give the vector
    * ladder. benchSkip: two index writes + training in the timed
    * body. */
  val q134dAnnPqDeleteCompact = QueryDef(
    "q134d_ann_pq_delete_compact",
    (s, d) => {
      val (corpus, seeds, probes) = ivfInputs(s, d)
      val coarse = Similarity.kmeansTrainL2(corpus, seeds, iters = 2)
      Similarity.writeIvfPqIndex(corpus, coarse, "graft_ivfpq_delc_index",
        m = 16, dim = 64, seedIds = 0L until 16L, iters = 2, numBuckets = 8)
      val bk = Similarity.readPqBooks(s, "graft_ivfpq_delc_index", dim = 64)
      Similarity.deleteFromIvfIndex(s, "graft_ivfpq_delc_index",
        corpus.filter(col("id") % 7 === 3).select("id"))
      Similarity.compactIvfIndex(s, "graft_ivfpq_delc_index")
      Similarity.ivfPqTopKIndexed("graft_ivfpq_delc_index", coarse, probes,
          bk, k = 3, nprobe = 2)
        .select(col("probe_id"), col("rank"), col("id"),
          round(col("adc"), 9).as("adc"))
        .orderBy("probe_id", "rank")
    },
    Some(pqDeleteOracleSql),
    benchSkip = true)

  /** Index HEALTH report ([[Similarity.indexHealth]]) with
    * merge-on-read debt in place: build the IVF index, tombstone every
    * 7th vector, and report per-bucket (n_rows, n_tombstoned, n_live)
    * — the skew/debt/thin-bucket diagnostic a production index
    * operator reads before deciding to retrain ([[occupancyPsi]] +
    * q28e's cycle) or compact (q134b's). The oracle replays the
    * assignment and counts per bucket, so a mis-bucketed row or a
    * miscounted tombstone breaks the hash. One pass over the index;
    * benchSkip: the timed body would be the index write (q28b
    * convention). */
  val q136IndexHealth = QueryDef(
    "q136_index_health",
    (s, d) => {
      val (corpus, centroids, _) = ivfInputs(s, d)
      Similarity.writeIvfIndex(corpus, centroids, "graft_ivf_health_index",
        numBuckets = 8)
      Similarity.deleteFromIvfIndex(s, "graft_ivf_health_index",
        corpus.filter(col("id") % 7 === 3).select("id"))
      Similarity.indexHealth(s, "graft_ivf_health_index")
        .orderBy("c_id")
    },
    Some(ivfCtes("u.vec_id < 20") + """
      SELECT c_id, count(*) AS n_rows,
             (sum(CASE WHEN id % 7 = 3 THEN 1 ELSE 0 END))::BIGINT AS n_tombstoned,
             (count(*) - sum(CASE WHEN id % 7 = 3 THEN 1 ELSE 0 END))::BIGINT AS n_live
      FROM assigned
      GROUP BY c_id
      ORDER BY c_id
    """),
    benchSkip = true)

  /** HYBRID retrieval ([[Similarity.rrfFuse]]): the BM25 lexical top-20
    * (q96's exact chain — shared via [[TextAnalytics.bm25Scored]] /
    * `bm25Ctes`, one definition) fused with the vector top-20 (IVF at
    * nprobe=2, probe = document 7's embedding — the synthetic tables
    * are 1:1 doc_id↔vec_id) by reciprocal-rank fusion, top-10 emitted.
    * This is the production search serve shape — keyword AND semantic
    * legs, combined WITHOUT score normalization (ranks only), so
    * neither leg's score scale can drown the other. The oracle replays
    * both legs end-to-end (the full BM25 float chain, the full IVF
    * chain) plus the decimal-exact fusion sum, so a rank flip in EITHER
    * leg breaks the hash. Both legs are top-R selections feeding a
    * |legs|·R-row fuse — at 100 TB each leg bounds its own cost (BM25's
    * TakeOrderedAndProject, IVF's bucket pruning) and the fusion is
    * metadata-cheap. */
  val q135HybridRrf = QueryDef(
    "q135_hybrid_rrf",
    (s, d) => {
      val (corpus, centroids, probes0) = ivfInputs(s, d)
      val vecLeg = Similarity.ivfTopK(corpus, centroids,
          probes0.filter(col("probe_id") === 7), k = 20, nprobe = 2)
        .select(col("id"), col("rank"))
      val lexLeg = graft.operators.Windows.topKRank(
          TextAnalytics.bm25Scored(s, d).filter(col("score") > 0), 20,
          "rank", col("score").desc, col("doc_id"))
        .select(col("doc_id").as("id"), col("rank"))
      Similarity.rrfFuse(Seq(lexLeg, vecLeg), k = 10)
        .select(col("rank"), col("id"), round(col("rrf"), 9).as("rrf"))
        .orderBy("rank")
    },
    Some(ivfCtes("u.vec_id = 7") + "," + TextAnalytics.bm25Ctes("lex") + """,
      vec AS (SELECT id, rank FROM scored WHERE rank <= 20),
      lextop AS (
        SELECT doc_id AS id,
               row_number() OVER (ORDER BY score DESC, doc_id) AS rank
        FROM (SELECT doc_id, score FROM lexscored WHERE score > 0
              ORDER BY score DESC, doc_id LIMIT 20)),
      unioned AS (
        SELECT id, rank FROM lextop
        UNION ALL
        SELECT id, rank FROM vec),
      fused AS (
        SELECT id,
               (sum((1.0::DOUBLE / (60 + rank))::DECIMAL(28,12)))::DOUBLE AS rrf
        FROM unioned GROUP BY id),
      ftop AS (SELECT id, rrf FROM fused ORDER BY rrf DESC, id LIMIT 10)
      SELECT row_number() OVER (ORDER BY rrf DESC, id) AS rank,
             id, round(rrf, 9) AS rrf
      FROM ftop ORDER BY rank
    """))

  /** Index HEALTH on the QUANTIZED index — q136's diagnostic proven
    * over the PQ code table ([[Similarity.indexHealth]] is index-kind
    * agnostic by design; this gate pins that claim cross-engine): the
    * q127c flow (trained coarse, writeIvfPqIndex) with every 7th
    * vector tombstoned, reported per coarse bucket as (n_rows,
    * n_tombstoned, n_live). The oracle counts the full coarse-TRAINING
    * replay's assignment (`ca`), so a mis-bucketed code row or a
    * miscounted tombstone breaks the hash. One columnar pass over
    * (id, c_id) — code bytes never read. benchSkip: index write +
    * training in the timed body. */
  val q136bPqIndexHealth = QueryDef(
    "q136b_pq_index_health",
    (s, d) => {
      val (corpus, seeds, _) = ivfInputs(s, d)
      val coarse = Similarity.kmeansTrainL2(corpus, seeds, iters = 2)
      Similarity.writeIvfPqIndex(corpus, coarse, "graft_ivfpq_health_index",
        m = 16, dim = 64, seedIds = 0L until 16L, iters = 2, numBuckets = 8)
      Similarity.deleteFromIvfIndex(s, "graft_ivfpq_health_index",
        corpus.filter(col("id") % 7 === 3).select("id"))
      Similarity.indexHealth(s, "graft_ivfpq_health_index")
        .orderBy("c_id")
    },
    Some(ivfPqCtesK(16) + """
      SELECT cc_id AS c_id, count(*) AS n_rows,
             (sum(CASE WHEN vec_id % 7 = 3 THEN 1 ELSE 0 END))::BIGINT AS n_tombstoned,
             (count(*) - sum(CASE WHEN vec_id % 7 = 3 THEN 1 ELSE 0 END))::BIGINT AS n_live
      FROM ca
      GROUP BY cc_id
      ORDER BY c_id
    """),
    benchSkip = true)

  /** BATCH hybrid retrieval ([[Similarity.rrfFuseByProbe]]) — q135's
    * serve shape at production cardinality: ALL 20 probes' legs fused
    * in ONE job instead of a driver-side loop of single-query fuses.
    * The vector leg is per-probe (IVF top-20 at nprobe = 2, all
    * probes in one frame — exactly what [[Similarity.ivfTopK]] already
    * returns); the lexical leg is the probe-INDEPENDENT BM25 prior
    * (q96's exact chain via the shared [[TextAnalytics.bm25Scored]]),
    * replicated across the probe batch — the global-prior fusion shape
    * (popularity/recency/keyword context shared by a request batch).
    * Per-probe top-10 emitted; fusing the batch equals fusing each
    * probe alone (SimilaritySpec pins the equivalence against [[rrfFuse]]).
    * The oracle replays both legs end-to-end plus the per-probe
    * decimal-exact fusion, so a rank flip in either leg for ANY probe
    * breaks the hash. Scale shape: |probes|·|legs|·R fused rows, the
    * top-k window partitioned on probe_id — each leg bounds its own
    * cost exactly as in q135. */
  val q135bHybridRrfBatch = QueryDef(
    "q135b_hybrid_rrf_batch",
    (s, d) => {
      val (corpus, centroids, probes0) = ivfInputs(s, d)
      val vecLeg = Similarity.ivfTopK(corpus, centroids, probes0,
          k = 20, nprobe = 2)
        .select(col("probe_id"), col("id"), col("rank"))
      val lexTop = graft.operators.Windows.topKRank(
          TextAnalytics.bm25Scored(s, d).filter(col("score") > 0), 20,
          "rank", col("score").desc, col("doc_id"))
        .select(col("doc_id").as("id"), col("rank"))
      // the probe-independent prior replicates across the batch: 20
      // probe ids × the top-20 prior rows — metadata-sized by both
      // sides' top-k bounds
      val lexLeg = probes0.select(col("probe_id")).crossJoin(lexTop)
      Similarity.rrfFuseByProbe(Seq(lexLeg, vecLeg), k = 10)
        .select(col("probe_id"), col("rank"), col("id"),
          round(col("rrf"), 9).as("rrf"))
        .orderBy("probe_id", "rank")
    },
    Some(ivfCtes("u.vec_id < 20") + "," + TextAnalytics.bm25Ctes("lex") + """,
      vec AS (SELECT probe_id, id, rank FROM scored WHERE rank <= 20),
      lextop AS (
        SELECT doc_id AS id,
               row_number() OVER (ORDER BY score DESC, doc_id) AS rank
        FROM (SELECT doc_id, score FROM lexscored WHERE score > 0
              ORDER BY score DESC, doc_id LIMIT 20)),
      probeids AS (SELECT DISTINCT vec_id AS probe_id FROM emb WHERE vec_id < 20),
      unioned AS (
        SELECT p.probe_id, l.id, l.rank FROM probeids p CROSS JOIN lextop l
        UNION ALL
        SELECT probe_id, id, rank FROM vec),
      fused AS (
        SELECT probe_id, id,
               (sum((1.0::DOUBLE / (60 + rank))::DECIMAL(28,12)))::DOUBLE AS rrf
        FROM unioned GROUP BY probe_id, id),
      rankd AS (
        SELECT probe_id, id, rrf,
               row_number() OVER (PARTITION BY probe_id
                 ORDER BY rrf DESC, id) AS rank
        FROM fused)
      SELECT probe_id, rank, id, round(rrf, 9) AS rrf
      FROM rankd WHERE rank <= 10
      ORDER BY probe_id, rank
    """))

  /** WEIGHTED batch fusion ([[Similarity.rrfFuseByProbe]] with
    * per-leg weights — wRRF, w_i/(c + rank)) — the production dial
    * q135b's scaladoc names: the replicated BM25 prior is demoted to a
    * WEAK prior (w = 0.25) under the per-probe vector leg (w = 1.0),
    * so lexical agreement nudges the fused ranking instead of
    * competing at parity. Same legs, same decimal-exact arithmetic as
    * q135b — the only change is the per-leg multiplier on each
    * reciprocal addend, computed as ONE double division (IEEE-identical
    * cross-engine) before the decimal cast, so the oracle replays the
    * weight verbatim in the shared fusion shape. */
  /** The weighted-hybrid oracle: both legs replayed end-to-end (the
    * shared IVF chain at top-20 per probe, the BM25 prior top-20
    * replicated across the batch) and wRRF-fused per probe at weights
    * (0.25, 1.0) — ONE definition shared by q135c (in-plan vector leg)
    * and q138e (the same fusion over the persisted serve index;
    * [[Similarity.ivfTopKIndexed]] is result-identical to
    * [[Similarity.ivfTopK]] on the same construction — the q28/q28b
    * precedent — so the fused request path shares the arithmetic
    * verbatim). */
  private lazy val weightedHybridOracleSql: String =
    ivfCtes("u.vec_id < 20") + "," + TextAnalytics.bm25Ctes("lex") + """,
      vec AS (SELECT probe_id, id, rank FROM scored WHERE rank <= 20),
      lextop AS (
        SELECT doc_id AS id,
               row_number() OVER (ORDER BY score DESC, doc_id) AS rank
        FROM (SELECT doc_id, score FROM lexscored WHERE score > 0
              ORDER BY score DESC, doc_id LIMIT 20)),
      probeids AS (SELECT DISTINCT vec_id AS probe_id FROM emb WHERE vec_id < 20),
      unioned AS (
        SELECT p.probe_id, l.id, l.rank, 0.25::DOUBLE AS w
        FROM probeids p CROSS JOIN lextop l
        UNION ALL
        SELECT probe_id, id, rank, 1.0::DOUBLE AS w FROM vec),
      fused AS (
        SELECT probe_id, id,
               (sum((w / (60 + rank))::DECIMAL(28,12)))::DOUBLE AS rrf
        FROM unioned GROUP BY probe_id, id),
      rankd AS (
        SELECT probe_id, id, rrf,
               row_number() OVER (PARTITION BY probe_id
                 ORDER BY rrf DESC, id) AS rank
        FROM fused)
      SELECT probe_id, rank, id, round(rrf, 9) AS rrf
      FROM rankd WHERE rank <= 10
      ORDER BY probe_id, rank
    """

  val q135cHybridRrfWeighted = QueryDef(
    "q135c_hybrid_rrf_weighted",
    (s, d) => {
      val (corpus, centroids, probes0) = ivfInputs(s, d)
      val vecLeg = Similarity.ivfTopK(corpus, centroids, probes0,
          k = 20, nprobe = 2)
        .select(col("probe_id"), col("id"), col("rank"))
      val lexTop = graft.operators.Windows.topKRank(
          TextAnalytics.bm25Scored(s, d).filter(col("score") > 0), 20,
          "rank", col("score").desc, col("doc_id"))
        .select(col("doc_id").as("id"), col("rank"))
      val lexLeg = probes0.select(col("probe_id")).crossJoin(lexTop)
      Similarity.rrfFuseByProbe(Seq(lexLeg, vecLeg), k = 10,
          weights = Seq(0.25, 1.0))
        .select(col("probe_id"), col("rank"), col("id"),
          round(col("rrf"), 9).as("rrf"))
        .orderBy("probe_id", "rank")
    },
    Some(weightedHybridOracleSql))

  /** HARD-NEGATIVE MINING ([[Similarity.ivfTopKIndexed]]'s per-probe
    * `pairFilter`) — the contrastive-training data generator every
    * retrieval-model pipeline runs at corpus scale: for each probe,
    * the top-k nearest candidates whose label DIFFERS from the
    * probe's own ("near but not the same class" = the hard negatives;
    * same-class neighbors are the positives, excluded per probe). A
    * GLOBAL predicate (q133b's `indexFilter`) cannot express this —
    * the excluded class varies per probe — so the probe frame carries
    * its label as payload through the assignment and the pair
    * predicate runs on the bucket-pruned candidate stream BEFORE
    * ranking: top-k backfills from passing candidates, per probe.
    * The oracle replays the per-probe ranking over label-mismatched
    * candidates from the shared IVF chain. benchSkip: the timed body
    * would be the index write (q28b convention). */
  val q137HardNegatives = QueryDef(
    "q137_hard_negatives",
    (s, d) => {
      val e = emb(s, d)
      val (_, centroids, _) = ivfInputs(s, d)
      val corpus = e.select(col("vec_id").as("id"), col("e"), col("label"))
      Similarity.writeIvfIndex(corpus, centroids, "graft_ivf_hneg_index",
        numBuckets = 8, payload = Seq("label"))
      val probes = e.filter(col("vec_id") < 20)
        .select(col("vec_id").as("probe_id"), col("e").as("p"),
          col("label").as("plabel"))
      Similarity.ivfTopKIndexed("graft_ivf_hneg_index", centroids, probes,
          k = 5, nprobe = 2,
          probePayload = Seq("plabel"),
          pairFilter = col("label") =!= col("plabel"))
        .select(col("probe_id"), col("rank"), col("id"),
          round(col("cos"), 9).as("cos"))
        .orderBy("probe_id", "rank")
    },
    Some(ivfCtes("u.vec_id < 20") + """,
      hneg AS (
        SELECT probe_id, id, cos,
               row_number() OVER (PARTITION BY probe_id
                 ORDER BY cos DESC, id) AS rnk
        FROM scored WHERE label <> plabel)
      SELECT probe_id, rnk AS rank, id, round(cos, 9) AS cos
      FROM hneg WHERE rnk <= 5
      ORDER BY probe_id, rank
    """),
    benchSkip = true)

  /** The PQ hard-negative oracle: label-mismatch ranking over the
    * shared [[pqRerankCtes]] chain's re-scored top-32, top-3 emitted —
    * ONE definition shared by q137b (in-body index build) and q138d
    * (the same serve over the persisted q138b index; identical
    * deterministic construction, the q28/q28b precedent). */
  private lazy val pqHardNegOracleSql: String = pqRerankCtes + """,
      hneg AS (
        SELECT rr.probe_id, rr.id, rr.cos,
               row_number() OVER (PARTITION BY rr.probe_id
                 ORDER BY rr.cos DESC, rr.id) AS rnk
        FROM rr
        JOIN emb ce ON ce.vec_id = rr.id
        JOIN emb pe ON pe.vec_id = rr.probe_id
        WHERE ce.label <> pe.label)
      SELECT probe_id, rnk AS rank, id, round(cos, 9) AS cos
      FROM hneg WHERE rnk <= 3
      ORDER BY probe_id, rank
    """

  /** HARD-NEGATIVE MINING on the QUANTIZED ladder
    * ([[Similarity.ivfPqTopKRerankIndexed]]'s per-probe
    * `pairFilter`) — q137's contrastive-training serve shape on the
    * index kind a memory-bound 100 TB deployment actually serves from,
    * closing the filtered-serve matrix on BOTH index kinds. The code
    * table stores no attributes, so the label predicate runs POST-ADC
    * on the re-rank candidate fetch (the stage that already touches
    * the corpus — the probe's label rides the broadcast probe side as
    * `plabel` payload), then the top-3 backfills gap-free from the
    * passing rows of the 32-candidate shortlist — the over-fetch dial
    * prices the recall trade (the q133c/q133e contract), unlike the
    * vector path's inline filter. The oracle replays label-mismatch
    * ranking over the shared [[pqRerankCtes]] chain (coarse training,
    * residual codes, ADC top-32, exact re-rank), so a candidate swap,
    * a re-rank float, or a mis-filtered pair anywhere breaks the
    * hash. benchSkip: index write + training in the timed body
    * (q127c convention). */
  val q137bPqHardNegatives = QueryDef(
    "q137b_pq_hard_negatives",
    (s, d) => {
      val e = emb(s, d)
      val (corpus, seeds, _) = ivfInputs(s, d)
      val coarse = Similarity.kmeansTrainL2(corpus, seeds, iters = 2)
      Similarity.writeIvfPqIndex(corpus, coarse, "graft_ivfpq_hneg_index",
        m = 16, dim = 64, seedIds = 0L until 16L, iters = 2, numBuckets = 8)
      val bk = Similarity.readPqBooks(s, "graft_ivfpq_hneg_index", dim = 64)
      val attrCorpus = e.select(col("vec_id").as("id"), col("e"), col("label"))
      val probes = e.filter(col("vec_id") < 20)
        .select(col("vec_id").as("probe_id"), col("e").as("p"),
          col("label").as("plabel"))
      Similarity.ivfPqTopKRerankIndexed("graft_ivfpq_hneg_index", coarse,
          probes, attrCorpus, bk, k = 3, nprobe = 2, rerank = 32,
          probePayload = Seq("plabel"),
          pairFilter = col("label") =!= col("plabel"))
        .select(col("probe_id"), col("rank"), col("id"),
          round(col("cos"), 9).as("cos"))
        .orderBy("probe_id", "rank")
    },
    Some(pqHardNegOracleSql),
    benchSkip = true)

  // ------------------------------------------------------- serve bench
  // Build-once-serve-many gates: 21 of the indexed gates above are
  // benchSkip because index build + training dominate their timed body
  // (the q127c convention) — correct for correctness gating, but it
  // left the HOTTEST production path (the recurring probe) with zero
  // timed bench coverage: a serve regression in ivfTopKIndexed /
  // ivfPqTopKRerankIndexed / the debt-guard read / the exclusion stack
  // was invisible to BENCH and diff_bench. These three gates persist
  // their index ONCE (QueryDef.benchSetup, untimed; the fn re-checks
  // with one driver-side catalog call) and time ONLY the probe batch.

  /** Build-if-absent guard for the persisted serve indexes: keyed on
    * the table AND the data dir, so sessions at different SFs can never
    * serve each other's index; within one session the re-check is one
    * driver-side catalog call per table (no job). Across JVMs the
    * in-memory catalog starts empty and the builds' dropTableAndDir
    * hygiene clears any orphaned warehouse directories.
    *
    * `sideTables`: the companion tables the serve path reads (stored
    * centroids / coarse frame / codebooks) — checked alongside the
    * index itself, so an out-of-band DROP of EITHER piece routes back
    * through the build instead of the serve failing on the missing
    * companion while the conf still claims built.
    *
    * ASSUMPTION (stated, not fingerprinted): the parquet under `d` is
    * immutable for the JVM's lifetime — the driver-testdata contract
    * every gate relies on. A dataset REGENERATED in place under the
    * same dir would serve the stale index until a new JVM; soak
    * tooling that rebuilds data writes to a FRESH dir instead
    * (tools/make_soak_sf.py), which this key distinguishes. */
  private def ensureServeIndex(s: SparkSession, d: String, table: String,
                               sideTables: String*)(build: => Unit): Unit = {
    val key = s"graft.serve.builtDir.$table"
    val allThere = (table +: sideTables).forall(s.catalog.tableExists)
    if (!allThere || !s.conf.getOption(key).contains(d)) {
      build
      s.conf.set(key, d)
    }
  }

  /** The persisted vector serve index (q28b's construction) plus its
    * centroids as a side table — production serves from STORED
    * centroids, not a per-call window over the corpus, so the timed
    * probe body must too. */
  private def ensureServeIvf(s: SparkSession, d: String): Unit =
    ensureServeIndex(s, d, "graft_serve_ivf_index",
        "graft_serve_ivf_index_cent") {
      val (corpus, centroids, _) = ivfInputs(s, d)
      Similarity.writeIvfIndex(corpus, centroids, "graft_serve_ivf_index",
        numBuckets = 8)
      Similarity.dropTableAndDir(s, "graft_serve_ivf_index_cent")
      centroids.write.format("parquet")
        .saveAsTable("graft_serve_ivf_index_cent")
    }

  /** The persisted quantized serve index (q127c/q127d's construction:
    * trained coarse, writeIvfPqIndex) with the coarse centroids stored
    * alongside the codebooks — the self-contained later-session serve
    * entry point. */
  private def ensureServePq(s: SparkSession, d: String): Unit =
    ensureServeIndex(s, d, "graft_serve_pq_index",
        "graft_serve_pq_index_coarse", "graft_serve_pq_index_books") {
      val (corpus, seeds, _) = ivfInputs(s, d)
      val coarse = Similarity.kmeansTrainL2(corpus, seeds, iters = 2)
      Similarity.writeIvfPqIndex(corpus, coarse, "graft_serve_pq_index",
        m = 16, dim = 64, seedIds = 0L until 16L, iters = 2, numBuckets = 8)
      Similarity.dropTableAndDir(s, "graft_serve_pq_index_coarse")
      coarse.write.format("parquet")
        .saveAsTable("graft_serve_pq_index_coarse")
    }

  /** TIMED vector-index serve ([[Similarity.ivfTopKIndexed]]) — the
    * probe batch against the PERSISTED index, index build excluded
    * (benchSetup): what the timed body measures is exactly what
    * production re-runs per request batch — load the stored centroids,
    * assign the 20 probes (broadcast), bucket-pruned scan, rank.
    * Result-identical to q28/q28b (same oracle). */
  val q138ServeIvfIndexed = QueryDef(
    "q138_serve_ivf_indexed",
    (s, d) => {
      ensureServeIvf(s, d)
      val (_, _, probes) = ivfInputs(s, d)
      val cent = s.table("graft_serve_ivf_index_cent")
      Similarity.ivfTopKIndexed("graft_serve_ivf_index", cent, probes,
          k = 3, nprobe = 2)
        .select(col("probe_id"), col("rank"), col("id"),
          round(col("cos"), 9).as("cos"))
        .orderBy("probe_id", "rank")
    },
    Some(ivfOracleSql),
    benchSetup = Some(ensureServeIvf))

  /** TIMED quantized serve ([[Similarity.ivfPqTopKRerankIndexed]]) —
    * the ADC + exact-re-rank probe batch against the PERSISTED IVF-PQ
    * index, training and build excluded: stored coarse centroids and
    * codebooks load (bounded driver metadata), the code table is
    * bucket-pruned and ADC-ranked, the 32-candidate shortlist fetches
    * its vectors for the exact re-rank. Result-identical to q127d
    * (same oracle). */
  val q138bServePqRerank = QueryDef(
    "q138b_serve_pq_rerank",
    (s, d) => {
      ensureServePq(s, d)
      val (corpus, _, probes) = ivfInputs(s, d)
      val coarse = s.table("graft_serve_pq_index_coarse")
      val bk = Similarity.readPqBooks(s, "graft_serve_pq_index", dim = 64)
      Similarity.ivfPqTopKRerankIndexed("graft_serve_pq_index", coarse,
          probes, corpus, bk, k = 3, nprobe = 2, rerank = 32)
        .select(col("probe_id"), col("rank"), col("id"),
          round(col("cos"), 9).as("cos"))
        .orderBy("probe_id", "rank")
    },
    Some(pqRerankCtes + cosTop3Sql),
    benchSetup = Some(ensureServePq))

  /** TIMED filtered-serve stack (q133f's shape over the PERSISTED
    * index): 3× over-fetched [[Similarity.ivfTopKIndexed]] shortlist,
    * per-probe seen-log exclusion through the semi-then-anti broadcast
    * composition, survivors re-ranked to top-3 — the full
    * recommendation-serve request path, index build excluded. Shares
    * q133f's oracle (one exclusion-arithmetic definition). */
  val q138cServeSeenExclusion = QueryDef(
    "q138c_serve_seen_exclusion",
    (s, d) => {
      ensureServeIvf(s, d)
      val (corpus, _, probes) = ivfInputs(s, d)
      val cent = s.table("graft_serve_ivf_index_cent")
      val shortlist = Similarity.ivfTopKIndexed("graft_serve_ivf_index",
        cent, probes, k = 9, nprobe = 2)
      Similarity.excludePairsTopK(shortlist, seenLog(probes, corpus), 3)
        .select(col("probe_id"), col("rank"), col("id"),
          round(col("cos"), 9).as("cos"))
        .orderBy("probe_id", "rank")
    },
    Some(seenExclusionOracleSql),
    benchSetup = Some(ensureServeIvf))

  /** TIMED hard-negative serve on the quantized ladder (q137b's shape
    * over the PERSISTED q138b index, build and training excluded) —
    * the newest serve feature made a measured one: the per-probe
    * label predicate runs post-ADC on the re-rank candidate fetch, so
    * a regression in the predicate's placement (e.g. it stops
    * filtering BEFORE the final rank, or the payload broadcast shape
    * degrades) shows up as a diff_bench row here instead of hiding
    * behind q137b's benchSkip. Shares q137b's oracle (one
    * label-mismatch-ranking definition; the persisted index is the
    * same deterministic construction). */
  val q138dServePqHardNeg = QueryDef(
    "q138d_serve_pq_hardneg",
    (s, d) => {
      ensureServePq(s, d)
      val e = emb(s, d)
      val coarse = s.table("graft_serve_pq_index_coarse")
      val bk = Similarity.readPqBooks(s, "graft_serve_pq_index", dim = 64)
      val attrCorpus = e.select(col("vec_id").as("id"), col("e"), col("label"))
      val probes = e.filter(col("vec_id") < 20)
        .select(col("vec_id").as("probe_id"), col("e").as("p"),
          col("label").as("plabel"))
      Similarity.ivfPqTopKRerankIndexed("graft_serve_pq_index", coarse,
          probes, attrCorpus, bk, k = 3, nprobe = 2, rerank = 32,
          probePayload = Seq("plabel"),
          pairFilter = col("label") =!= col("plabel"))
        .select(col("probe_id"), col("rank"), col("id"),
          round(col("cos"), 9).as("cos"))
        .orderBy("probe_id", "rank")
    },
    Some(pqHardNegOracleSql),
    benchSetup = Some(ensureServePq))

  /** TIMED hybrid serve (q135c's weighted-fusion stack over the
    * PERSISTED vector index, build excluded) — the one
    * production-shaped query a recommendation deployment serves per
    * request batch, completing serve-bench coverage of every
    * production query shape: the vector leg is
    * [[Similarity.ivfTopKIndexed]] top-20 against
    * `graft_serve_ivf_index` (stored centroids, bucket-pruned scan),
    * the lexical leg is the replicated BM25 prior demoted to w = 0.25,
    * fused per probe by [[Similarity.rrfFuseByProbe]]. Shares q135c's
    * oracle (one weighted-fusion-arithmetic definition; the indexed
    * probe path is result-identical to the in-plan one — the q28/q28b
    * precedent, so a regression in EITHER the serve read or the fusion
    * breaks this gate's hash and its diff_bench row). The BM25 leg
    * stays in the timed body deliberately: the prior is request-scoped
    * in q135c's shape, and what this gate times is the full fused
    * request path, not the vector probe alone (that is q138). */
  val q138eServeHybridWeighted = QueryDef(
    "q138e_serve_hybrid_weighted",
    (s, d) => {
      ensureServeIvf(s, d)
      val (_, _, probes) = ivfInputs(s, d)
      val cent = s.table("graft_serve_ivf_index_cent")
      val vecLeg = Similarity.ivfTopKIndexed("graft_serve_ivf_index", cent,
          probes, k = 20, nprobe = 2)
        .select(col("probe_id"), col("id"), col("rank"))
      val lexTop = graft.operators.Windows.topKRank(
          TextAnalytics.bm25Scored(s, d).filter(col("score") > 0), 20,
          "rank", col("score").desc, col("doc_id"))
        .select(col("doc_id").as("id"), col("rank"))
      val lexLeg = probes.select(col("probe_id")).crossJoin(lexTop)
      Similarity.rrfFuseByProbe(Seq(lexLeg, vecLeg), k = 10,
          weights = Seq(0.25, 1.0))
        .select(col("probe_id"), col("rank"), col("id"),
          round(col("rrf"), 9).as("rrf"))
        .orderBy("probe_id", "rank")
    },
    Some(weightedHybridOracleSql),
    benchSetup = Some(ensureServeIvf))

  val all: Seq[QueryDef] = Seq(q27AnnBruteForce, q28AnnIvf, q28bAnnIvfIndexed,
    q28cAnnIvfTrained, q28dAnnIvfAppend, q28eAnnIvfDriftRebuild,
    q28fAnnIvfBulk, q28gAnnIvfBulkCells, q65KmeansTrain, q72AnnLsh,
    q105RandomProjection, q108EmbeddingQuantize, q127AnnPq, q127bAnnIvfPq,
    q127cAnnIvfPqIndexed, q127dAnnIvfPqRerank, q127eAnnIvfPqAppend,
    q127fAnnIvfPqBulk, q130AnnRecall, q130bPqRecall,
    q130cPqRerankRecall, q130dPqRecallKsub64, q133AnnFiltered,
    q133bAnnFilteredIvf, q133cAnnPostfilter, q133dFilteredRecall,
    q133eAnnPqPostfilter, q133fAnnSeenExclusion, q133gPqSeenExclusion,
    q134AnnDelete,
    q134bAnnDeleteCompact,
    q134cAnnPqDelete, q134dAnnPqDeleteCompact, q135HybridRrf,
    q135bHybridRrfBatch, q135cHybridRrfWeighted, q136IndexHealth,
    q136bPqIndexHealth, q137HardNegatives, q137bPqHardNegatives,
    q138ServeIvfIndexed, q138bServePqRerank, q138cServeSeenExclusion,
    q138dServePqHardNeg, q138eServeHybridWeighted)
}
