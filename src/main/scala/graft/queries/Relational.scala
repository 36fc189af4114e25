package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** Relational operator inventory mapped onto the synthetic star schema.
  *
  * Each query exercises one family from SURVEY.md §2 (the reference's
  * operator inventory, re-expressed Spark-first): filters/projections (F*),
  * joins incl. semi/anti/self (J*), aggregations (A*), windows (W*), set ops
  * (SO*), scalar functions (C*), and triple generation (G*).
  *
  * Scale notes: dimension tables (region/nation/supplier/part/customer) are
  * broadcast explicitly; fact-side scans carry pushed filters; every group-by
  * is partial-aggregated map-side by Catalyst. No collect()s, no driver loops.
  */
object Relational {

  /** A1/A3-style pricing summary (ref: omim groupBy+first+collect patterns,
    * omim_txt_parser.py:478-493). TPC-H Q1 shape: one shuffle, map-side
    * partial agg, 4-way aggregate over two low-cardinality keys. */
  val q01PricingSummary = QueryDef(
    "q01_pricing_summary",
    (s, d) => {
      val li = Tables.lineitem(s, d)
      li.filter(col("l_shipdate") <= lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          round(sum("l_quantity"), 2).as("sum_qty"),
          round(sum("l_extendedprice"), 2).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("sum_disc_price"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    },
    Some("""
      SELECT l_returnflag, l_linestatus,
             round(sum(l_quantity), 2) AS sum_qty,
             round(sum(l_extendedprice), 2) AS sum_base_price,
             round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS sum_disc_price,
             count(*) AS count_order
      FROM lineitem
      WHERE l_shipdate <= TIMESTAMP '1998-09-02'
      GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus
    """))

  /** F1/F4/F7: projection + conjunctive predicates, all pushed to the parquet
    * scan (ref: early `continue` filters, omim_txt_parser.py:456-460). */
  val q02FilterProject = QueryDef(
    "q02_filter_project",
    (s, d) =>
      Tables.lineitem(s, d)
        .filter(
          col("l_shipdate") >= lit("1996-01-01") &&
          col("l_shipdate") < lit("1997-01-01") &&
          col("l_discount") > lit(0.05) &&
          col("l_quantity") < lit(24.0))
        .select(
          col("l_orderkey"), col("l_linenumber"),
          round(col("l_extendedprice") * col("l_discount"), 6).as("disc_revenue"))
        .orderBy("l_orderkey", "l_linenumber"),
    Some("""
      SELECT l_orderkey, l_linenumber,
             round(l_extendedprice * l_discount, 6) AS disc_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate <  TIMESTAMP '1997-01-01'
        AND l_discount > 0.05 AND l_quantity < 24.0
      ORDER BY l_orderkey, l_linenumber
    """))

  /** J1/J6-style multi-join: fact table joined through broadcast dimension
    * chain (ref: chained hash-map lookups, main.py:390-394). Dims are
    * explicitly broadcast — at 100 TB the lineitem side never shuffles. */
  val q03JoinRevenue = QueryDef(
    "q03_join_revenue_by_nation",
    (s, d) => {
      val li = Tables.lineitem(s, d)
      val o  = Tables.orders(s, d)
      val c  = Tables.customer(s, d)
      val n  = Tables.nation(s, d)
      val r  = Tables.region(s, d)
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(
          round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"),
          count(lit(1)).as("n_rows"))
        .orderBy("r_name", "n_name")
    },
    Some("""
      SELECT r_name, n_name,
             round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
             count(*) AS n_rows
      FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation   ON c_nationkey = n_nationkey
      JOIN region   ON n_regionkey = r_regionkey
      GROUP BY r_name, n_name
      ORDER BY r_name, n_name
    """))

  /** J9-style LEFT SEMI (EXISTS) — ref: `(p_mim,'3',gene_mim) in morbidmap`
    * membership probe, omim_txt_parser.py:150-157. */
  val q04SemiJoin = QueryDef(
    "q04_semi_join",
    (s, d) => {
      val o  = Tables.orders(s, d)
      val li = Tables.lineitem(s, d).filter(col("l_quantity") >= lit(48.0))
      o.join(li, col("o_orderkey") === col("l_orderkey"), "left_semi")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .orderBy("o_orderkey")
    },
    Some("""
      SELECT o_orderkey, o_orderstatus, o_totalprice
      FROM orders
      WHERE EXISTS (SELECT 1 FROM lineitem
                    WHERE l_orderkey = o_orderkey AND l_quantity >= 48.0)
      ORDER BY o_orderkey
    """))

  /** J5/J8-style LEFT ANTI (NOT EXISTS) — ref: protected-assoc leftover
    * anti-join main.py:483-488; cache-merge anti-join omim_txt_parser.py:579-583. */
  val q05AntiJoin = QueryDef(
    "q05_anti_join",
    (s, d) => {
      val c = Tables.customer(s, d)
      val big = Tables.orders(s, d).filter(col("o_totalprice") > 300000.0)
      c.join(big, col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name", "c_mktsegment")
        .orderBy("c_custkey")
    },
    Some("""
      SELECT c_custkey, c_name, c_mktsegment
      FROM customer
      WHERE NOT EXISTS (SELECT 1 FROM orders
                        WHERE o_custkey = c_custkey AND o_totalprice > 300000.0)
      ORDER BY c_custkey
    """))

  /** W1/W2: partitioned window rank with deterministic tie-breaks — ref:
    * per-phenotype count routing main.py:466-468; self-ref numbering
    * omim_entry_parser.py:469-475. */
  val q06WindowTopK = QueryDef(
    "q06_window_topk",
    (s, d) => {
      val w = Window.partitionBy(col("l_suppkey"))
        .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
      Tables.lineitem(s, d)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select("l_suppkey", "rn", "l_orderkey", "l_linenumber", "l_extendedprice")
        .orderBy("l_suppkey", "rn")
    },
    Some("""
      SELECT l_suppkey, rn, l_orderkey, l_linenumber, l_extendedprice
      FROM (SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice,
                   row_number() OVER (PARTITION BY l_suppkey
                     ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rn
            FROM lineitem)
      WHERE rn <= 3
      ORDER BY l_suppkey, rn
    """))

  /** J14: equivalence-clique self-join — ref: rows sharing a key listed on
    * each other, analyses/equivalency_cliques.py:68-94. */
  val q07SelfJoinClique = QueryDef(
    "q07_self_join_clique",
    (s, d) => {
      val s1 = Tables.supplier(s, d).select(
        col("s_suppkey"), col("s_name"), col("s_nationkey"))
      val s2 = Tables.supplier(s, d).select(
        col("s_suppkey").as("peer_key"), col("s_name").as("peer_name"),
        col("s_nationkey").as("peer_nation"))
      s1.join(s2, col("s_nationkey") === col("peer_nation") &&
                  col("s_suppkey") =!= col("peer_key"))
        .groupBy("s_suppkey", "s_name")
        .agg(array_join(sort_array(collect_list(col("peer_name"))), ",").as("peers"),
             count(lit(1)).as("n_peers"))
        .orderBy("s_suppkey")
    },
    Some("""
      SELECT s1.s_suppkey, s1.s_name,
             string_agg(s2.s_name, ',' ORDER BY s2.s_name) AS peers,
             count(*) AS n_peers
      FROM supplier s1
      JOIN supplier s2 ON s1.s_nationkey = s2.s_nationkey
                      AND s1.s_suppkey <> s2.s_suppkey
      GROUP BY s1.s_suppkey, s1.s_name
      ORDER BY s1.s_suppkey
    """))

  /** SO2/SO3: EXCEPT / set difference — ref: `mims_all - mims_cached`,
    * omim_txt_parser.py:540-543. */
  val q08SetExcept = QueryDef(
    "q08_set_except",
    (s, d) => {
      val hi = Tables.orders(s, d).filter(col("o_totalprice") > 400000.0)
        .select(col("o_custkey").as("custkey"))
      val lo = Tables.orders(s, d).filter(col("o_totalprice") < 50000.0)
        .select(col("o_custkey").as("custkey"))
      hi.except(lo).orderBy("custkey")
    },
    Some("""
      SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 400000.0
      EXCEPT
      SELECT o_custkey AS custkey FROM orders WHERE o_totalprice < 50000.0
      ORDER BY custkey
    """))

  /** F2/C14: multi-way conditional routing (when/otherwise cascade) — ref:
    * 6-way MIM-type dispatch main.py:276-321 + mapping-key decode table
    * omim_txt_parser.py:33-64. */
  val q09CaseRouting = QueryDef(
    "q09_case_routing",
    (s, d) =>
      Tables.orders(s, d)
        .withColumn("category",
          when(col("o_orderstatus") === "F" && col("o_totalprice") > 200000.0, "big-finished")
            .when(col("o_orderstatus") === "F", "finished")
            .when(col("o_orderstatus") === "O" && col("o_orderpriority").startsWith("1"), "urgent-open")
            .when(col("o_orderstatus") === "O", "open")
            .otherwise("other"))
        .groupBy("category")
        .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
        .orderBy("category"),
    Some("""
      SELECT CASE WHEN o_orderstatus = 'F' AND o_totalprice > 200000.0 THEN 'big-finished'
                  WHEN o_orderstatus = 'F' THEN 'finished'
                  WHEN o_orderstatus = 'O' AND o_orderpriority LIKE '1%' THEN 'urgent-open'
                  WHEN o_orderstatus = 'O' THEN 'open'
                  ELSE 'other' END AS category,
             count(*) AS n, round(sum(o_totalprice), 2) AS total
      FROM orders
      GROUP BY 1
      ORDER BY category
    """))

  /** C9/F6: regex extraction with no-match→'' semantics — ref: morbidmap
    * phenotype-field regexes omim_txt_parser.py:449-476, MIM-id repair
    * :281-308. */
  val q10RegexExtract = QueryDef(
    "q10_regex_extract",
    (s, d) =>
      Tables.documents(s, d)
        .select(
          col("doc_id"),
          regexp_extract(col("text"), "(sc[a-z]+)", 1).as("first_sc_word"),
          size(regexp_extract_all(col("text"), lit("\\b(join|merge)\\b"), lit(1))).as("n_join_merge"))
        .orderBy("doc_id"),
    Some("""
      SELECT doc_id,
             regexp_extract(text, '(sc[a-z]+)', 1) AS first_sc_word,
             len(regexp_extract_all(text, '\b(join|merge)\b', 1)) AS n_join_merge
      FROM documents
      ORDER BY doc_id
    """))

  /** C18: deterministic md5 surrogate ids — ref: DeterministicBNode
    * main.py:178-186 (md5 of source ref). */
  val q11Md5Id = QueryDef(
    "q11_md5_id",
    (s, d) =>
      Tables.orders(s, d)
        .select(
          col("o_orderkey"),
          md5(concat_ws("|", col("o_orderkey"), col("o_custkey"), col("o_orderstatus")))
            .as("row_id"))
        .orderBy("o_orderkey"),
    Some("""
      SELECT o_orderkey,
             md5(concat_ws('|', o_orderkey, o_custkey, o_orderstatus)) AS row_id
      FROM orders
      ORDER BY o_orderkey
    """))

  /** G15/J2-style explode + re-aggregate — ref: pipe-list explode
    * main.py:500-509; phenotype→genes inversion omim_txt_parser.py:673-688. */
  val q12ExplodeTokens = QueryDef(
    "q12_explode_tokens",
    (s, d) =>
      Tables.documents(s, d)
        .select(explode(split(col("text"), " ")).as("token"))
        .filter(length(col("token")) > 0)
        .groupBy("token")
        .agg(count(lit(1)).as("n"))
        .orderBy("token"),
    Some("""
      SELECT token, count(*) AS n
      FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
      WHERE len(token) > 0
      GROUP BY token
      ORDER BY token
    """))

  /** A1/A2/A5: grouped list collection with deterministic ordering — ref:
    * per-gene assoc nesting omim_txt_parser.py:478-493; omim→mondo multimap
    * main.py:105-107. */
  val q13GroupCollect = QueryDef(
    "q13_group_collect",
    (s, d) =>
      Tables.orders(s, d)
        .groupBy("o_custkey")
        .agg(
          array_join(
            transform(sort_array(collect_list(col("o_orderkey"))), _.cast("string")),
            ",").as("order_keys"),
          count(lit(1)).as("n_orders"))
        .orderBy("o_custkey"),
    Some("""
      SELECT o_custkey,
             string_agg(CAST(o_orderkey AS VARCHAR), ',' ORDER BY o_orderkey) AS order_keys,
             count(*) AS n_orders
      FROM orders
      GROUP BY o_custkey
      ORDER BY o_custkey
    """))

  /** C19/W3: date bucketing + ordered sink shape — ref: date arithmetic
    * omim_txt_parser.py:548-552; sorted TSV sinks main.py:524-525. */
  val q14DateBuckets = QueryDef(
    "q14_date_buckets",
    (s, d) =>
      Tables.orders(s, d)
        .groupBy(year(col("o_orderdate")).as("o_year"), month(col("o_orderdate")).as("o_month"))
        .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
        .orderBy("o_year", "o_month"),
    Some("""
      SELECT year(o_orderdate) AS o_year, month(o_orderdate) AS o_month,
             count(*) AS n, round(sum(o_totalprice), 2) AS total
      FROM orders
      GROUP BY 1, 2
      ORDER BY o_year, o_month
    """))

  /** G2-G5: triple (edge-table) generation — each entity row fans out to
    * 1..n (subject, predicate, obj) rows; ref: class/label/link triple
    * emission main.py:271-330. Pure projection + explode: no shuffle. */
  val q15TripleGen = QueryDef(
    "q15_triple_gen",
    (s, d) => {
      val c = Tables.customer(s, d)
      c.select(
          concat(lit("C:"), col("c_custkey")).as("subject"),
          array(
            struct(lit("rdf:type").as("predicate"), lit("graft:Customer").as("obj")),
            struct(lit("rdfs:label").as("predicate"), col("c_name").as("obj")),
            struct(lit("graft:nation").as("predicate"),
                   concat(lit("N:"), col("c_nationkey")).as("obj"))).as("po"))
        .select(col("subject"), explode(col("po")).as("po"))
        .select(col("subject"), col("po.predicate").as("predicate"), col("po.obj").as("obj"))
        .orderBy("subject", "predicate", "obj")
    },
    Some("""
      WITH t AS (
        SELECT 'C:' || c_custkey AS subject, 'rdf:type' AS predicate, 'graft:Customer' AS obj FROM customer
        UNION ALL
        SELECT 'C:' || c_custkey, 'rdfs:label', c_name FROM customer
        UNION ALL
        SELECT 'C:' || c_custkey, 'graft:nation', 'N:' || c_nationkey FROM customer)
      SELECT subject, predicate, obj FROM t
      ORDER BY subject, predicate, obj
    """))

  /** A4/A12: exact distinct aggregation — ref: distinct phenotype MIMs
    * omim_txt_parser.py:498-507. */
  val q16DistinctCount = QueryDef(
    "q16_distinct_count",
    (s, d) =>
      Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(
          countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_suppkey")).as("n_supps"),
          count(lit(1)).as("n_rows"))
        .orderBy("l_returnflag"),
    Some("""
      SELECT l_returnflag,
             count(DISTINCT l_partkey) AS n_parts,
             count(DISTINCT l_suppkey) AS n_supps,
             count(*) AS n_rows
      FROM lineitem
      GROUP BY l_returnflag
      ORDER BY l_returnflag
    """))

  /** SO1 + rollup: union-by-name and hierarchical aggregates (ANSI ROLLUP in
    * both engines) — ref: pd.concat augmentation omim_txt_parser.py:172,191. */
  val q17Rollup = QueryDef(
    "q17_rollup",
    (s, d) =>
      Tables.lineitem(s, d)
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"), round(sum("l_quantity"), 2).as("qty"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first),
    Some("""
      SELECT l_returnflag, l_linestatus, count(*) AS n, round(sum(l_quantity), 2) AS qty
      FROM lineitem
      GROUP BY ROLLUP (l_returnflag, l_linestatus)
      ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST
    """))

  /** Exact interpolated percentiles (Spark `percentile` == DuckDB
    * `quantile_cont`, verified value-identical at 6 dp). TEST-SCALE ONLY
    * (`benchSkip`): exact percentile holds the full value multiset per
    * group and the group key has cardinality 3, so at 100 TB three
    * reducers would each hold a third of lineitem. The scale path is
    * q43b (approx_percentile / QuantileSummaries, bounded memory); this
    * exact form stays as its accuracy oracle (PercentilesSpec asserts
    * the rank-error bound between the two). */
  val q43Percentiles = QueryDef(
    "q43_percentiles",
    (s, d) =>
      Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(
          round(expr("percentile(l_extendedprice, 0.5)"), 6).as("p50"),
          round(expr("percentile(l_extendedprice, 0.9)"), 6).as("p90"),
          round(expr("percentile(l_extendedprice, 0.99)"), 6).as("p99"),
          round(min("l_extendedprice"), 6).as("lo"),
          round(max("l_extendedprice"), 6).as("hi"))
        .orderBy("l_returnflag"),
    Some("""
      SELECT l_returnflag,
             round(quantile_cont(l_extendedprice, 0.5), 6) AS p50,
             round(quantile_cont(l_extendedprice, 0.9), 6) AS p90,
             round(quantile_cont(l_extendedprice, 0.99), 6) AS p99,
             round(min(l_extendedprice), 6) AS lo,
             round(max(l_extendedprice), 6) AS hi
      FROM lineitem
      GROUP BY l_returnflag
      ORDER BY l_returnflag
    """),
    benchSkip = true)

  /** Scale-path percentiles: approx_percentile keeps a bounded
    * QuantileSummaries sketch per group (mergeable, map-side partial),
    * so memory is O(1/eps) per group regardless of group size — this is
    * the form the bench runs and the form a 100 TB job would use.
    *
    * Oracle design: DuckDB cannot reproduce Spark's sketch values, but it
    * CAN assert the invariant the sketch guarantees — the empirical CDF at
    * the returned value must sit within eps of the requested rank. The
    * query therefore joins the approx values back to the data (broadcast:
    * 3 rows), computes each value's empirical rank fraction distributed,
    * and emits the bound checks as booleans; the oracle states the
    * expected all-true outcome per group. A broken sketch ⇒ false rows ⇒
    * hash mismatch. PercentilesSpec additionally pins the numeric error
    * against the exact q43 form. */
  val q43bPercentilesApprox = QueryDef(
    "q43b_percentiles_approx",
    (s, d) => {
      val li = Tables.lineitem(s, d).select("l_returnflag", "l_extendedprice")
      val approx = li.groupBy("l_returnflag")
        .agg(expr("approx_percentile(l_extendedprice, array(0.5, 0.9, 0.99), 10000)").as("ap"))
        .select(col("l_returnflag"),
          col("ap")(0).as("p50"), col("ap")(1).as("p90"), col("ap")(2).as("p99"))
      def frac(p: String) =
        (sum(when(col("l_extendedprice") <= col(p), 1L).otherwise(0L)) /
          count(lit(1))).cast("double")
      li.join(broadcast(approx), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(frac("p50").as("f50"), frac("p90").as("f90"), frac("p99").as("f99"))
        .select(col("l_returnflag"),
          col("f50").between(0.49, 0.51).as("p50_ok"),
          col("f90").between(0.89, 0.91).as("p90_ok"),
          col("f99").between(0.98, 1.0).as("p99_ok"))
        .orderBy("l_returnflag")
    },
    Some("""
      SELECT l_returnflag, true AS p50_ok, true AS p90_ok, true AS p99_ok
      FROM lineitem
      GROUP BY l_returnflag
      ORDER BY l_returnflag
    """))

  /** Accuracy anchor for approx distinct counting. TEST-SCALE ONLY
    * (`benchSkip`): the exact `countDistinct` here shuffles every
    * (group, key) pair — precisely the expansion the HLL++ sketch
    * exists to avoid — so benching this form would measure the anchor,
    * not the sketch. The benched scale path is q56b (sketch-only plan);
    * this form stays as its hash-matched accuracy oracle: DuckDB cannot
    * reproduce the sketch value, but the 3·rsd relative-error bound
    * against the exact count is a decidable invariant — emitted as a
    * boolean the oracle expects all-true (HLL++ is deterministic on
    * fixed data, so this cannot flake). */
  val q56ApproxDistinct = QueryDef(
    "q56_approx_distinct",
    (s, d) =>
      Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(
          countDistinct(col("l_partkey")).as("exact_nd"),
          approx_count_distinct(col("l_partkey"), 0.02).as("approx_nd"))
        .select(col("l_returnflag"), col("exact_nd"),
          (abs(col("approx_nd") - col("exact_nd")).cast("double") /
            col("exact_nd") <= 0.06).as("within_bound"))
        .orderBy("l_returnflag"),
    Some("""
      SELECT l_returnflag, count(DISTINCT l_partkey)::BIGINT AS exact_nd,
             true AS within_bound
      FROM lineitem
      GROUP BY l_returnflag
      ORDER BY l_returnflag
    """),
    benchSkip = true)

  /** Benched scale path for distinct counting: the plan contains ONLY
    * the HLL++ sketch (map-side partial, O(2^p) per group) — no exact
    * `countDistinct` anywhere, so the bench measures what a 100 TB job
    * would actually run (q56 keeps the exact anchor, benchSkip'd).
    *
    * Oracle design without an in-plan exact count: (a) the fact table
    * references every part in every group (verified property of the
    * generated data at all SFs), so the part-dimension row count — a
    * metadata-cheap 1-row aggregate, broadcast — is the exact ndv
    * anchor for `l_partkey`, checked to the 3·rsd bound as a boolean;
    * (b) for the small-cardinality `l_linenumber` column HLL++ sits in
    * its linear-counting regime where the estimate is exact, so the raw
    * sketch value itself hash-matches DuckDB's exact distinct count.
    * Both are deterministic on fixed data. PlanSpec pins the absence of
    * `count(distinct` from this plan. */
  val q56bApproxDistinctSketch = QueryDef(
    "q56b_approx_distinct_sketch",
    (s, d) => {
      val nPart = Tables.part(s, d).agg(count(lit(1)).as("n_part"))
      Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(
          approx_count_distinct(col("l_partkey"), 0.02).as("approx_nd"),
          approx_count_distinct(col("l_linenumber"), 0.02).as("nd_linenumber"))
        .crossJoin(broadcast(nPart))
        .select(col("l_returnflag"), col("nd_linenumber"),
          (abs(col("approx_nd").cast("double") / col("n_part") - 1.0) <= 0.06)
            .as("nd_in_range"))
        .orderBy("l_returnflag")
    },
    Some("""
      SELECT l_returnflag,
             count(DISTINCT l_linenumber)::BIGINT AS nd_linenumber,
             true AS nd_in_range
      FROM lineitem
      GROUP BY l_returnflag
      ORDER BY l_returnflag
    """))

  /** KMV (k minimum values) distinct sketch per group — the third
    * mergeable sketch in the family (HLL q56b, count-min q62): O(k)
    * state, supports set intersection, merge = k smallest of the union
    * (property pinned in SketchesSpec). The md5-driven hash makes the
    * whole sketch DETERMINISTIC, so unlike HLL the oracle replays kth
    * hash, kept count, and the (k-1)·2^60/kth estimate exactly; the
    * exact distinct count rides along as the accuracy anchor (within
    * the ±k^-1/2-ish KMV error, asserted as a boolean so the compare
    * stays exact). */
  val q56cKmvDistinct = QueryDef(
    "q56c_kmv_distinct",
    (s, d) => {
      val k = 64
      val sk = graft.operators.Sketches.kmvSketch(
        Tables.lineitem(s, d), "l_returnflag", col("l_partkey"), k, "kmv")
      val exact = Tables.lineitem(s, d).groupBy("l_returnflag")
        .agg(countDistinct(col("l_partkey")).as("exact_nd"))
      sk.join(exact, "l_returnflag")
        .select(col("l_returnflag"), col("n_kept"), col("kth"), col("est_nd"),
          (abs(col("est_nd").cast("double") / col("exact_nd") - 1.0) <= 0.4)
            .as("in_bound"))
        .orderBy("l_returnflag")
    },
    Some("""
      WITH hashed AS (
        SELECT DISTINCT l_returnflag,
               ('0x' || substr(md5('kmv' || l_partkey::VARCHAR), 1, 15))::BIGINT AS h
        FROM lineitem),
      kept AS (
        SELECT l_returnflag, h FROM hashed
        QUALIFY row_number() OVER (PARTITION BY l_returnflag ORDER BY h) <= 64),
      sk AS (
        SELECT l_returnflag, count(*) AS n_kept, max(h) AS kth,
               round(63.0 * 1152921504606846976.0 / max(h)::DOUBLE)::BIGINT AS est_nd
        FROM kept GROUP BY l_returnflag),
      exact AS (
        SELECT l_returnflag, count(DISTINCT l_partkey) AS exact_nd
        FROM lineitem GROUP BY l_returnflag)
      SELECT sk.l_returnflag, n_kept, kth, est_nd,
             abs(est_nd::DOUBLE / exact_nd - 1.0) <= 0.4 AS in_bound
      FROM sk JOIN exact USING (l_returnflag)
      ORDER BY l_returnflag
    """))

  /** KMV set-INTERSECTION estimate
    * ([[graft.operators.Sketches.kmvIntersectEstimate]]) — the set
    * algebra HLL cannot do, applied to the customer sets of two order
    * classes: each side's k=128 smallest customer hashes (the q56c
    * convention), jaccard = the share of the UNION k-sketch present in
    * both, intersection ≈ jaccard · union-estimate with INTEGER floor
    * arithmetic so the oracle replays every value bit-exactly (a float
    * product lands on .5 boundaries whenever the sketch size divides
    * it). Driver-side folds touch ≤ 2k hashes — bounded metadata; the
    * k-sets themselves come from orderBy(h).limit(k) =
    * TakeOrderedAndProject (the quantileSketchAll discipline). The
    * exact intersection rides along as the accuracy anchor (boolean
    * bound — exact compare). */
  val q56dKmvIntersect = QueryDef(
    "q56d_kmv_intersect",
    (s, d) => {
      import s.implicits._
      val k = 128
      val orders = Tables.orders(s, d)
      def kset(p: String): Seq[Long] =
        orders.filter(col("o_orderpriority") === p)
          .select(graft.operators.Sketches.kmvHash(col("o_custkey"), "kx").as("h"))
          .distinct().orderBy(col("h").asc).limit(k)
          .as[Long].collect().toSeq
      val a = kset("1-URGENT"); val b = kset("2-HIGH")
      val (union, unionEst) =
        graft.operators.Sketches.kmvMergeEstimate(a, b, k)
      val (_, estInter) =
        graft.operators.Sketches.kmvIntersectEstimate(a, b, k)
      val nBoth = union.count(h => a.contains(h) && b.contains(h))
      val exact = orders.filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey")).distinct()
        .intersect(orders.filter(col("o_orderpriority") === "2-HIGH")
          .select(col("o_custkey")).distinct())
        .count()
      Seq((nBoth.toLong, union.size.toLong, unionEst, estInter, exact,
        math.abs(estInter.toDouble / exact - 1.0) <= 0.5))
        .toDF("n_both", "n_union", "union_est", "est_inter", "exact_inter",
          "in_bound")
    },
    Some("""
      WITH ha AS (
        SELECT DISTINCT ('0x' || substr(md5('kx' || o_custkey::VARCHAR), 1, 15))::BIGINT AS h
        FROM orders WHERE o_orderpriority = '1-URGENT'),
      ka AS (SELECT h FROM ha ORDER BY h LIMIT 128),
      hb AS (
        SELECT DISTINCT ('0x' || substr(md5('kx' || o_custkey::VARCHAR), 1, 15))::BIGINT AS h
        FROM orders WHERE o_orderpriority = '2-HIGH'),
      kb AS (SELECT h FROM hb ORDER BY h LIMIT 128),
      un AS (
        SELECT h FROM (SELECT h FROM ka UNION SELECT h FROM kb)
        ORDER BY h LIMIT 128),
      stats AS (
        SELECT count(*)::BIGINT AS m, max(h) AS kth,
               sum(CASE WHEN h IN (SELECT h FROM ka)
                         AND h IN (SELECT h FROM kb) THEN 1 ELSE 0 END)::BIGINT AS c
        FROM un),
      est AS (
        SELECT c AS n_both, m AS n_union,
               CASE WHEN m < 128 THEN m
                    ELSE round(127.0 * 1152921504606846976.0 / kth::DOUBLE)::BIGINT
               END AS union_est
        FROM stats),
      exact AS (
        SELECT count(*)::BIGINT AS exact_inter FROM (
          SELECT DISTINCT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
          INTERSECT
          SELECT DISTINCT o_custkey FROM orders WHERE o_orderpriority = '2-HIGH'))
      SELECT n_both, n_union, union_est,
             (n_both * union_est) // n_union AS est_inter, exact_inter,
             abs(((n_both * union_est) // n_union)::DOUBLE / exact_inter - 1.0) <= 0.5 AS in_bound
      FROM est, exact
    """))

  /** Mergeable quantile sketch ([[graft.operators.Sketches.quantileSketch]])
    * per l_returnflag over l_extendedprice — the scale path for q121's
    * exact percentiles: a deterministic hash-uniform k-row sample (KMV
    * convention, stable row key l_orderkey·10 + l_linenumber) with
    * nearest-rank estimates, replayed EXACTLY by the DuckDB oracle (same
    * md5 hashes, same window, same ceil(q·n) selection). `p50_in_bound`
    * pins the estimator against ground truth cross-engine with integer
    * arithmetic: the est's true rank (rows ≤ est) must sit within 12% of
    * the true median rank — k=200 gives σ ≈ 3.5%, so the bound is ~3.5σ
    * yet still fails on a broken sampler or selector. Merge
    * associativity and the rank-error curve are pinned in SketchesSpec. */
  val q121bQuantileSketch = QueryDef(
    "q121b_quantile_sketch",
    (s, d) => {
      // both lineitem passes (sketch build + rank check) hash every row:
      // fan the single-row-group scan out so the md5 kernel parallelizes
      // (guide §2.5; no-op on a properly-laid-out table)
      // the two passes are two ACTIONS (the sketch collects), so the
      // fan-out exchange was paid twice — cut the projected frame once
      // and both passes read the blocks (project first: the sketch and
      // the rank check together touch 4 of lineitem's 16 columns)
      val li = graft.operators.Barrier.cut(
        graft.operators.ScanLayout.fanOut(
          Tables.lineitem(s, d), s"$d/lineitem.parquet",
          col("l_orderkey"), col("l_linenumber"))
        .select(col("l_returnflag"), col("l_orderkey"),
          col("l_linenumber"), col("l_extendedprice")))
      val sk0 = graft.operators.Sketches.quantileSketch(
        li, "l_returnflag",
        col("l_orderkey") * 10 + col("l_linenumber"),
        col("l_extendedprice"), 200, "qsk", Seq(0.25, 0.5, 0.9, 0.99))
      // the sketch result is O(groups) rows by construction (3 here) —
      // materialize it ONCE so the rank-check join below doesn't
      // recompute the whole sketch pass as an unshared subplan
      val sk = s.createDataFrame(
        new java.util.ArrayList(java.util.Arrays.asList(sk0.collect(): _*)),
        sk0.schema)
      // ground-truth rank check in ONE extra lineitem pass: the tiny
      // sketch broadcasts onto the fact scan, and the total row count
      // rides the same aggregation as the <=-est counter
      val ranked = li
        .join(broadcast(sk.select(col("l_returnflag"), col("q50"))), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("l_extendedprice") <= col("q50"), 1L).otherwise(0L))
            .as("n_le_est"))
      sk.join(broadcast(ranked), "l_returnflag")
        .select(col("l_returnflag"), col("n_kept"),
          round(col("q25"), 2).as("q25"), round(col("q50"), 2).as("q50"),
          round(col("q90"), 2).as("q90"), round(col("q99"), 2).as("q99"),
          (abs(col("n_le_est").cast("double") / col("n_rows") - 0.5) <= 0.12)
            .as("p50_in_bound"))
        .orderBy("l_returnflag")
    },
    Some("""
      WITH hashed AS (
        SELECT l_returnflag,
               ('0x' || substr(md5('qsk' ||
                 (l_orderkey * 10 + l_linenumber)::VARCHAR), 1, 15))::BIGINT AS h,
               l_extendedprice::DOUBLE AS v
        FROM lineitem),
      kept AS (
        SELECT l_returnflag, h, v FROM hashed
        QUALIFY row_number() OVER (PARTITION BY l_returnflag ORDER BY h, v) <= 200),
      sk AS (
        SELECT l_returnflag, count(*) AS n_kept, list_sort(list(v)) AS vs
        FROM kept GROUP BY l_returnflag),
      est AS (
        SELECT l_returnflag, n_kept,
               vs[greatest(1, ceil(0.25 * n_kept)::INT)] AS q25,
               vs[greatest(1, ceil(0.50 * n_kept)::INT)] AS q50,
               vs[greatest(1, ceil(0.90 * n_kept)::INT)] AS q90,
               vs[greatest(1, ceil(0.99 * n_kept)::INT)] AS q99
        FROM sk),
      ranked AS (
        SELECT l.l_returnflag, count(*) AS n_rows,
               sum(CASE WHEN l.l_extendedprice <= e.q50 THEN 1 ELSE 0 END) AS n_le_est
        FROM lineitem l JOIN est e USING (l_returnflag)
        GROUP BY l.l_returnflag)
      SELECT e.l_returnflag, n_kept,
             round(q25, 2) AS q25, round(q50, 2) AS q50,
             round(q90, 2) AS q90, round(q99, 2) AS q99,
             abs(n_le_est::DOUBLE / n_rows - 0.5) <= 0.12 AS p50_in_bound
      FROM est e JOIN ranked USING (l_returnflag)
      ORDER BY l_returnflag
    """))

  /** One-pass table profiler (the ANALYZE/data-quality shape): null
    * count, exact ndv, and min/max for six orders columns computed in a
    * SINGLE aggregate over one scan, then melted to one row per column
    * with `stack`. Multi-column exact ndv runs through Catalyst's expand
    * (rows x (1+distinct-aggs)), partial-aggregated map-side per input
    * split — the per-split work is what a 1000-executor ANALYZE
    * parallelizes; a 100 TB profiler swaps the two high-cardinality
    * columns to approx_count_distinct and keeps this exact plan for the
    * rest — that scale form is gated as [[q103bTableProfileApprox]],
    * with this exact form kept as its accuracy anchor.
    * min/max travel as strings via date-cast for the timestamp
    * (identical rendering in both engines) and shortest-round-trip
    * doubles elsewhere. */
  val q103TableProfile = QueryDef(
    "q103_table_profile",
    (s, d) => {
      val t = Tables.orders(s, d)
      // One 2-level aggregate PER COLUMN (group by the value, then a
      // 1-row rollup over the groups), crossJoined at the end: the
      // single multi-countDistinct aggregate planned as Expand ×7 with a
      // wide (gid, c1..c6) hash key — 1M wide-key inserts measured at
      // 42 s of task time. Six narrow single-column subtrees compute
      // the identical values (ndv = non-null distinct keys; nulls and n
      // from the group counts; min/max over keys ≡ over rows) and their
      // stages run concurrently within the one job — no expand, no wide
      // buffers, no fan-out exchange needed.
      def metrics(c: String, p: String,
          repr: org.apache.spark.sql.Column => org.apache.spark.sql.Column) =
        t.groupBy(col(c).as("__v")).agg(count(lit(1)).as("__cnt"))
          .agg(
            sum(when(col("__v").isNull, col("__cnt")).otherwise(0L)).as(s"${p}_nl"),
            count(when(col("__v").isNotNull, lit(1))).as(s"${p}_nd"),
            repr(min(col("__v"))).cast("string").as(s"${p}_mn"),
            repr(max(col("__v"))).cast("string").as(s"${p}_mx"),
            coalesce(sum(col("__cnt")), lit(0L)).as(s"${p}_n"))
      val ident = (x: org.apache.spark.sql.Column) => x
      val a = metrics("o_orderkey", "ok", ident)
        .crossJoin(metrics("o_custkey", "ck", ident))
        .crossJoin(metrics("o_orderstatus", "os", ident))
        .crossJoin(metrics("o_totalprice", "tp", ident))
        .crossJoin(metrics("o_orderpriority", "op", ident))
        .crossJoin(metrics("o_orderdate", "od", _.cast("date")))
        .withColumn("n", col("ok_n"))
      a.selectExpr(
        """stack(6,
          'o_orderkey',      ok_nl, ok_nd, ok_mn, ok_mx,
          'o_custkey',       ck_nl, ck_nd, ck_mn, ck_mx,
          'o_orderstatus',   os_nl, os_nd, os_mn, os_mx,
          'o_totalprice',    tp_nl, tp_nd, tp_mn, tp_mx,
          'o_orderpriority', op_nl, op_nd, op_mn, op_mx,
          'o_orderdate',     od_nl, od_nd, od_mn, od_mx)
          AS (col_name, n_null, ndv, min_v, max_v)""",
        "n")
        .orderBy("col_name")
    },
    Some("""
      WITH a AS (
        SELECT count(*)::BIGINT AS n,
          sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END)::BIGINT AS ok_nl,
          count(DISTINCT o_orderkey)::BIGINT AS ok_nd,
          min(o_orderkey)::VARCHAR AS ok_mn, max(o_orderkey)::VARCHAR AS ok_mx,
          sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)::BIGINT AS ck_nl,
          count(DISTINCT o_custkey)::BIGINT AS ck_nd,
          min(o_custkey)::VARCHAR AS ck_mn, max(o_custkey)::VARCHAR AS ck_mx,
          sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END)::BIGINT AS os_nl,
          count(DISTINCT o_orderstatus)::BIGINT AS os_nd,
          min(o_orderstatus)::VARCHAR AS os_mn, max(o_orderstatus)::VARCHAR AS os_mx,
          sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END)::BIGINT AS tp_nl,
          count(DISTINCT o_totalprice)::BIGINT AS tp_nd,
          min(o_totalprice)::VARCHAR AS tp_mn, max(o_totalprice)::VARCHAR AS tp_mx,
          sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END)::BIGINT AS op_nl,
          count(DISTINCT o_orderpriority)::BIGINT AS op_nd,
          min(o_orderpriority)::VARCHAR AS op_mn, max(o_orderpriority)::VARCHAR AS op_mx,
          sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END)::BIGINT AS od_nl,
          count(DISTINCT o_orderdate)::BIGINT AS od_nd,
          min(o_orderdate)::DATE::VARCHAR AS od_mn, max(o_orderdate)::DATE::VARCHAR AS od_mx
        FROM orders)
      SELECT col_name, n_null, ndv, min_v, max_v, n FROM (
        SELECT 'o_orderkey' AS col_name, ok_nl AS n_null, ok_nd AS ndv,
               ok_mn AS min_v, ok_mx AS max_v, n FROM a
        UNION ALL
        SELECT 'o_custkey', ck_nl, ck_nd, ck_mn, ck_mx, n FROM a
        UNION ALL
        SELECT 'o_orderstatus', os_nl, os_nd, os_mn, os_mx, n FROM a
        UNION ALL
        SELECT 'o_totalprice', tp_nl, tp_nd, tp_mn, tp_mx, n FROM a
        UNION ALL
        SELECT 'o_orderpriority', op_nl, op_nd, op_mn, op_mx, n FROM a
        UNION ALL
        SELECT 'o_orderdate', od_nl, od_nd, od_mn, od_mx, n FROM a)
      ORDER BY col_name
    """))

  /** The 100 TB form of the q103 profiler: the two ~row-count-
    * cardinality columns (o_orderkey, o_totalprice) swap from exact
    * `countDistinct` to `approx_count_distinct` (HLL++, rsd 0.02), so
    * Catalyst's distinct-expand — the rows x (1+distinct-aggs) blowup
    * q103's scaladoc flags — covers only the four cheap exact columns,
    * and the shuffle after the partial pass carries low-cardinality
    * distinct keys plus two fixed-size sketches instead of every
    * orderkey/totalprice value.
    *
    * PLAN SHAPE MATTERS HERE (self-review finding, round 10): the
    * sketches must live in their OWN global aggregate, not inside the
    * multi-distinct aggregate. RewriteDistinctAggregates evaluates
    * non-distinct functions in the pre-shuffle partial pass GROUPED BY
    * the expand keys — which allocates a ~4 KB HLL register buffer per
    * (distinct-value, gid) group, one per live custkey — and the first
    * cut of this query was 3.4x SLOWER than the exact q103 at sf1
    * (19.8 s vs 5.8 s) while still oracle-green. Split as two 1-row
    * aggregates (sketches+min/max/nulls global; exact ndvs in the
    * expand) broadcast-crossJoined, the sketch pass keeps one buffer
    * per partition. Two column-pruned scans beat one scan that
    * allocates a sketch per group. PlanSpec pins the split.
    *
    * Oracle per the q56b convention (DuckDB cannot reproduce the sketch
    * value, so decidable invariants travel as booleans the oracle
    * expects all-true): `ndv` is NULL for the two approx rows and the
    * exact count elsewhere; `ndv_in_bound` checks the sketch against an
    * anchor the plan already has — o_orderkey is the table's unique key
    * so n itself is its exact ndv, and o_totalprice's exact ndv sits
    * within 0.3% of n at every SF (verified 0.001/0.01/0.1), so a
    * 0.07 bound = 3·rsd + that slack. HLL++ is deterministic on fixed
    * data, so neither boolean can flake. q103 (exact, benched) stays
    * the accuracy anchor. */
  val q103bTableProfileApprox = QueryDef(
    "q103b_table_profile_approx",
    (s, d) => {
      val t = Tables.orders(s, d)
      def scalarM(c: String, p: String,
          repr: org.apache.spark.sql.Column => org.apache.spark.sql.Column) = Seq(
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${p}_nl"),
        repr(min(col(c))).cast("string").as(s"${p}_mn"),
        repr(max(col(c))).cast("string").as(s"${p}_mx"))
      val ident = (x: org.apache.spark.sql.Column) => x
      // global aggregate: counts, nulls, min/max, and the two HLL
      // sketches — no distinct anywhere, so the partial pass keeps ONE
      // sketch buffer per partition
      val scalars = t.agg(
        count(lit(1)).as("n"),
        (Seq(approx_count_distinct(col("o_orderkey"), 0.02).as("ok_nd"),
          approx_count_distinct(col("o_totalprice"), 0.02).as("tp_nd")) ++
          scalarM("o_orderkey", "ok", ident) ++
          scalarM("o_custkey", "ck", ident) ++
          scalarM("o_orderstatus", "os", ident) ++
          scalarM("o_totalprice", "tp", ident) ++
          scalarM("o_orderpriority", "op", ident) ++
          scalarM("o_orderdate", "od", _.cast("date"))): _*)
      // exact-ndv aggregate: ONLY the four cheap distinct counts ride
      // the expand (x5 rows, count buffers only)
      val exact = t.agg(
        countDistinct(col("o_custkey")).as("ck_nd"),
        countDistinct(col("o_orderstatus")).as("os_nd"),
        countDistinct(col("o_orderpriority")).as("op_nd"),
        countDistinct(col("o_orderdate")).as("od_nd"))
      val a = scalars.crossJoin(broadcast(exact))
      a.select(col("*"),
          (abs(col("ok_nd").cast("double") / col("n") - 1.0) <= 0.06).as("ok_b"),
          (abs(col("tp_nd").cast("double") / col("n") - 1.0) <= 0.07).as("tp_b"))
        .selectExpr(
          """stack(6,
            'o_orderkey',      ok_nl, CAST(NULL AS BIGINT), ok_b, ok_mn, ok_mx,
            'o_custkey',       ck_nl, ck_nd, true, ck_mn, ck_mx,
            'o_orderstatus',   os_nl, os_nd, true, os_mn, os_mx,
            'o_totalprice',    tp_nl, CAST(NULL AS BIGINT), tp_b, tp_mn, tp_mx,
            'o_orderpriority', op_nl, op_nd, true, op_mn, op_mx,
            'o_orderdate',     od_nl, od_nd, true, od_mn, od_mx)
            AS (col_name, n_null, ndv, ndv_in_bound, min_v, max_v)""",
          "n")
        .orderBy("col_name")
    },
    Some("""
      WITH a AS (
        SELECT count(*)::BIGINT AS n,
          sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END)::BIGINT AS ok_nl,
          min(o_orderkey)::VARCHAR AS ok_mn, max(o_orderkey)::VARCHAR AS ok_mx,
          sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)::BIGINT AS ck_nl,
          count(DISTINCT o_custkey)::BIGINT AS ck_nd,
          min(o_custkey)::VARCHAR AS ck_mn, max(o_custkey)::VARCHAR AS ck_mx,
          sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END)::BIGINT AS os_nl,
          count(DISTINCT o_orderstatus)::BIGINT AS os_nd,
          min(o_orderstatus)::VARCHAR AS os_mn, max(o_orderstatus)::VARCHAR AS os_mx,
          sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END)::BIGINT AS tp_nl,
          min(o_totalprice)::VARCHAR AS tp_mn, max(o_totalprice)::VARCHAR AS tp_mx,
          sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END)::BIGINT AS op_nl,
          count(DISTINCT o_orderpriority)::BIGINT AS op_nd,
          min(o_orderpriority)::VARCHAR AS op_mn, max(o_orderpriority)::VARCHAR AS op_mx,
          sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END)::BIGINT AS od_nl,
          count(DISTINCT o_orderdate)::BIGINT AS od_nd,
          min(o_orderdate)::DATE::VARCHAR AS od_mn, max(o_orderdate)::DATE::VARCHAR AS od_mx
        FROM orders)
      SELECT col_name, n_null, ndv, ndv_in_bound, min_v, max_v, n FROM (
        SELECT 'o_orderkey' AS col_name, ok_nl AS n_null, NULL::BIGINT AS ndv,
               true AS ndv_in_bound, ok_mn AS min_v, ok_mx AS max_v, n FROM a
        UNION ALL
        SELECT 'o_custkey', ck_nl, ck_nd, true, ck_mn, ck_mx, n FROM a
        UNION ALL
        SELECT 'o_orderstatus', os_nl, os_nd, true, os_mn, os_mx, n FROM a
        UNION ALL
        SELECT 'o_totalprice', tp_nl, NULL::BIGINT, true, tp_mn, tp_mx, n FROM a
        UNION ALL
        SELECT 'o_orderpriority', op_nl, op_nd, true, op_mn, op_mx, n FROM a
        UNION ALL
        SELECT 'o_orderdate', od_nl, od_nd, true, od_mn, od_mx, n FROM a)
      ORDER BY col_name
    """))

  /** Per-group OLS regression aggregates (extendedprice ~ quantity per
    * return flag) — Spark-first: the built-in regr_* aggregate family
    * (regr_slope/intercept/r2/count, SQL:2003) in one partial-aggregated
    * pass, mirrored by DuckDB's identical builtins. Cross-engine float
    * note: the co-moment accumulations associate differently per engine,
    * but at 6M rows the relative drift (~1e-12) sits far below the 1e-6
    * rounding, and slope/r2 are RATIOS of co-moments so scale cancels. */
  val q106GroupRegression = QueryDef(
    "q106_group_regression",
    (s, d) =>
      Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(
          round(expr("regr_slope(l_extendedprice, l_quantity)"), 6).as("slope"),
          round(expr("regr_intercept(l_extendedprice, l_quantity)"), 6).as("intercept"),
          round(expr("regr_r2(l_extendedprice, l_quantity)"), 6).as("r2"),
          expr("regr_count(l_extendedprice, l_quantity)").as("n_pairs"))
        .orderBy("l_returnflag"),
    Some("""
      SELECT l_returnflag,
             round(regr_slope(l_extendedprice, l_quantity), 6) AS slope,
             round(regr_intercept(l_extendedprice, l_quantity), 6) AS intercept,
             round(regr_r2(l_extendedprice, l_quantity), 6) AS r2,
             regr_count(l_extendedprice, l_quantity) AS n_pairs
      FROM lineitem
      GROUP BY l_returnflag
      ORDER BY l_returnflag
    """))

  /** Z-order (Morton) layout keys over (customer, order-day) — the
    * Delta/Iceberg Z-ORDER BY primitive: a range sort on the interleaved
    * key clusters files on BOTH dimensions at once, so min/max file
    * stats prune scans for predicates on either. The output IS the
    * layout plan (orderkey → zkey in z-order); at 100 TB this ordering
    * feeds the writer and the sort is a plain distributed range sort —
    * no window, no driver state. The oracle reproduces the 42-term bit
    * interleave exactly ([[graft.operators.Bucketing.zOrderKeySql]]). */
  val q109ZorderLayout = QueryDef(
    "q109_zorder_layout",
    (s, d) =>
      Tables.orders(s, d)
        .select(col("o_orderkey"),
          (col("o_custkey") % (1L << 21)).as("zx"),
          datediff(col("o_orderdate"), lit("1992-01-01")).cast("long").as("zy"))
        .select(col("o_orderkey"),
          graft.operators.Bucketing.zOrderKey(col("zx"), col("zy"), 21).as("zkey"))
        .orderBy("zkey", "o_orderkey"),
    Some(s"""
      WITH dims AS (
        SELECT o_orderkey,
               o_custkey % ${1L << 21} AS zx,
               date_diff('day', DATE '1992-01-01', o_orderdate::DATE)::BIGINT AS zy
        FROM orders)
      SELECT o_orderkey,
             (${graft.operators.Bucketing.zOrderKeySql("zx", "zy", 21)}) AS zkey
      FROM dims
      ORDER BY zkey, o_orderkey
    """))

  /** N-DIMENSIONAL Morton layout keys over (customer, order-day,
    * ship-priority-ish) — the general `ZORDER BY (c1, c2, c3)` shape
    * production tables actually use ([[graft.operators.Bucketing
    * .zOrderKeyN]]): bit i of dimension d lands at output bit i·3+d,
    * 20 bits per dimension in one 60-bit key. The oracle reproduces
    * the 60-term interleave exactly. */
  val q109bZorderN = QueryDef(
    "q109b_zorder_nd",
    (s, d) =>
      // the 60-term interleave runs map-side (twice: range-sampling pass
      // + sort pass) over a single-row-group input: fan out (guide §2.5)
      graft.operators.ScanLayout.fanOut(
          Tables.orders(s, d), s"$d/orders.parquet", col("o_orderkey"))
        .select(col("o_orderkey"),
          (col("o_custkey") % (1L << 20)).as("zx"),
          datediff(col("o_orderdate"), lit("1992-01-01")).cast("long").as("zy"),
          pmod(col("o_orderkey") * 31, lit(1L << 20)).as("zz"))
        .select(col("o_orderkey"),
          graft.operators.Bucketing.zOrderKeyN(
            Seq(col("zx"), col("zy"), col("zz")), 20).as("zkey"))
        .orderBy("zkey", "o_orderkey"),
    Some(s"""
      WITH dims AS (
        SELECT o_orderkey,
               o_custkey % ${1L << 20} AS zx,
               date_diff('day', DATE '1992-01-01', o_orderdate::DATE)::BIGINT AS zy,
               (o_orderkey * 31) % ${1L << 20} AS zz
        FROM orders)
      SELECT o_orderkey,
             (${graft.operators.Bucketing.zOrderKeyNSql(Seq("zx", "zy", "zz"), 20)}) AS zkey
      FROM dims
      ORDER BY zkey, o_orderkey
    """))

  /** CUBE with GROUPING ids — all four aggregation lattices of
    * (returnflag, linestatus) in ONE pass (Catalyst expands to grouping
    * sets; partial aggs still collapse map-side), distinguished by the
    * standard GROUPING() bits. Complements q17's ROLLUP. */
  val q114Cube = QueryDef(
    "q114_cube",
    (s, d) =>
      Tables.lineitem(s, d)
        .cube("l_returnflag", "l_linestatus")
        .agg(
          grouping(col("l_returnflag")).cast("int").as("g_rf"),
          grouping(col("l_linestatus")).cast("int").as("g_ls"),
          count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(14,2)")).cast("double").as("qty"))
        // coalesce the rolled-up keys so the presentation sort is total
        // with identical null-ordering semantics in both engines
        .select(coalesce(col("l_returnflag"), lit("")).as("rf"),
          coalesce(col("l_linestatus"), lit("")).as("ls"),
          col("g_rf"), col("g_ls"), col("n"), col("qty"))
        .orderBy("g_rf", "g_ls", "rf", "ls"),
    Some("""
      SELECT coalesce(l_returnflag, '') AS rf, coalesce(l_linestatus, '') AS ls,
             GROUPING(l_returnflag)::INT AS g_rf,
             GROUPING(l_linestatus)::INT AS g_ls,
             count(*) AS n,
             sum(l_quantity::DECIMAL(14,2))::DOUBLE AS qty
      FROM lineitem
      GROUP BY CUBE (l_returnflag, l_linestatus)
      ORDER BY g_rf, g_ls, rf, ls
    """))

  /** PIVOT: per-supplier quantity totals pivoted by return flag — the
    * wide-format export step of reporting pipelines. Spark's relational
    * `.pivot(col, values)` with EXPLICIT pivot values (never the
    * distinct-scan inference pass — that is an extra job at 100 TB and a
    * nondeterministic column set); the oracle states the same thing as
    * portable filtered aggregates. */
  val q115Pivot = QueryDef(
    "q115_pivot",
    (s, d) =>
      Tables.lineitem(s, d)
        .groupBy("l_suppkey")
        .pivot("l_returnflag", Seq("A", "N", "R"))
        .agg(sum(col("l_quantity").cast("decimal(14,2)")).cast("double"))
        .select(col("l_suppkey"),
          coalesce(col("A"), lit(0.0)).as("qty_a"),
          coalesce(col("N"), lit(0.0)).as("qty_n"),
          coalesce(col("R"), lit(0.0)).as("qty_r"))
        .orderBy("l_suppkey"),
    Some("""
      SELECT l_suppkey,
             coalesce(sum(l_quantity::DECIMAL(14,2)) FILTER (WHERE l_returnflag = 'A'), 0)::DOUBLE AS qty_a,
             coalesce(sum(l_quantity::DECIMAL(14,2)) FILTER (WHERE l_returnflag = 'N'), 0)::DOUBLE AS qty_n,
             coalesce(sum(l_quantity::DECIMAL(14,2)) FILTER (WHERE l_returnflag = 'R'), 0)::DOUBLE AS qty_r
      FROM lineitem
      GROUP BY l_suppkey
      ORDER BY l_suppkey
    """))

  /** The analytic-rank family in one pass: percent_rank, cume_dist,
    * ntile(4), and dense_rank per supplier over extended price — the
    * window functions q06's row_number family left uncovered. All four
    * share one partitioned sort; percent_rank/cume_dist are exact
    * rationals of ranks (deterministic in both engines), rounded at 6. */
  val q119RankFamily = QueryDef(
    "q119_rank_family",
    (s, d) => {
      val w = Window.partitionBy("l_suppkey")
        .orderBy(col("l_extendedprice"), col("l_orderkey"), col("l_linenumber"))
      Tables.lineitem(s, d)
        .filter(col("l_suppkey") % 10 === 0)
        .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
          round(percent_rank().over(w), 6).as("pr"),
          round(cume_dist().over(w), 6).as("cd"),
          ntile(4).over(w).as("quartile"),
          dense_rank().over(w).as("dr"))
        .orderBy("l_suppkey", "l_orderkey", "l_linenumber")
    },
    Some("""
      SELECT l_suppkey, l_orderkey, l_linenumber,
             round(percent_rank() OVER w, 6) AS pr,
             round(cume_dist() OVER w, 6) AS cd,
             ntile(4) OVER w AS quartile,
             dense_rank() OVER w AS dr
      FROM lineitem
      WHERE l_suppkey % 10 = 0
      WINDOW w AS (PARTITION BY l_suppkey
        ORDER BY l_extendedprice, l_orderkey, l_linenumber)
      ORDER BY l_suppkey, l_orderkey, l_linenumber
    """))

  /** Order-independent table checksum — the cross-cluster consistency
    * primitive (does replica B hold exactly replica A's rows?): each row
    * canonicalizes to a 60-bit md5 integer, aggregated with bit_xor
    * (commutative + associative ⇒ partition- and order-independent, no
    * overflow semantics to align, and any single-row difference flips
    * the digest). One map pass + one 1-row aggregate per table; at
    * 100 TB this is how you diff two copies without shuffling either.
    * Doubles enter the row hash through fixed-point casts so the
    * canonical string never depends on float rendering. */
  val q120TableChecksum = QueryDef(
    "q120_table_checksum",
    (s, d) => {
      def rowHash(cols: org.apache.spark.sql.Column*) =
        conv(substring(md5(concat_ws("|", cols: _*)), 1, 15), 16, 10)
          .cast("long")
      // per-row md5 canonicalization is the whole cost and runs map-side
      // over single-row-group inputs: fan out (guide §2.5; no-op on a
      // properly-laid-out table). bit_xor/count are order-independent,
      // so the digest is partitioning-proof by construction.
      val li = graft.operators.ScanLayout.fanOut(
          Tables.lineitem(s, d), s"$d/lineitem.parquet",
          col("l_orderkey"), col("l_linenumber"))
        .withColumn("h", rowHash(col("l_orderkey"), col("l_linenumber"),
          col("l_partkey"), col("l_suppkey"),
          round(col("l_quantity") * 100, 0).cast("long"),
          round(col("l_extendedprice") * 100, 0).cast("long"),
          col("l_returnflag")))
        .agg(count(lit(1)).as("n"), expr("bit_xor(h)").as("digest"))
        .select(lit("lineitem").as("table_name"), col("n"), col("digest"))
      val docs = graft.operators.ScanLayout.fanOut(
          Tables.documents(s, d), s"$d/documents.parquet", col("doc_id"))
        .withColumn("h", rowHash(col("doc_id"), col("lang"), col("source"),
          col("n_chars"), md5(col("text"))))
        .agg(count(lit(1)).as("n"), expr("bit_xor(h)").as("digest"))
        .select(lit("documents").as("table_name"), col("n"), col("digest"))
      li.unionByName(docs).orderBy("table_name")
    },
    Some("""
      SELECT * FROM (
        SELECT 'lineitem' AS table_name, count(*) AS n,
               bit_xor(('0x' || substr(md5(
                 l_orderkey::VARCHAR || '|' || l_linenumber::VARCHAR || '|' ||
                 l_partkey::VARCHAR || '|' || l_suppkey::VARCHAR || '|' ||
                 round(l_quantity * 100)::BIGINT::VARCHAR || '|' ||
                 round(l_extendedprice * 100)::BIGINT::VARCHAR || '|' ||
                 l_returnflag), 1, 15))::BIGINT) AS digest
        FROM lineitem
        UNION ALL
        SELECT 'documents', count(*),
               bit_xor(('0x' || substr(md5(
                 doc_id::VARCHAR || '|' || lang || '|' || source || '|' ||
                 n_chars::VARCHAR || '|' || md5(text)), 1, 15))::BIGINT)
        FROM documents)
      ORDER BY table_name
    """))

  val all: Seq[QueryDef] = Seq(
    q01PricingSummary, q02FilterProject, q03JoinRevenue, q04SemiJoin,
    q05AntiJoin, q06WindowTopK, q07SelfJoinClique, q08SetExcept,
    q09CaseRouting, q10RegexExtract, q11Md5Id, q12ExplodeTokens,
    q13GroupCollect, q14DateBuckets, q15TripleGen, q16DistinctCount,
    q17Rollup, q43Percentiles, q43bPercentilesApprox, q56ApproxDistinct,
    q56bApproxDistinctSketch, q56cKmvDistinct, q56dKmvIntersect, q121bQuantileSketch,
    q103TableProfile, q103bTableProfileApprox,
    q106GroupRegression, q109ZorderLayout, q109bZorderN, q114Cube, q115Pivot,
    q119RankFamily, q120TableChecksum)
}
