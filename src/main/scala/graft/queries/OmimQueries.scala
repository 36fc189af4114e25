package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.functions.OmimFunctions
import graft.operators.Barrier
import graft.text.{MimFields, Roman, Titles}

/** OMIM-domain operators (SURVEY.md §2.7/§2.8/§2.3 J13) exercised over the
  * synthetic star schema so the DuckDB oracle can hash-check them: the
  * text pipeline (roman numerals C2, cleanup C1, MIM repair F6, phenotype
  * field C9), triple-pattern graph joins (J13), and the cache upsert
  * (A8/J8). The Spark side runs the REAL library functions (graft.text /
  * graft.functions); the oracle recomputes expectations independently
  * (e.g. roman via the repeat/replace identity), so a semantic drift in
  * either implementation breaks the hash match.
  */
object OmimQueries {

  // C1/C2 run as codegen expressions (RomanExpressions — same kernels the
  // sanctioned UDFs wrapped, minus the ScalaUDF converter overhead)
  import org.apache.spark.sql.graft.ColumnBridge.{column, expression}
  private def toRomanCol(c: Column): Column =
    column(graft.expressions.ToRomanExpr(expression(c)))
  private def fromRomanCol(c: Column): Column =
    column(graft.expressions.FromRomanExpr(expression(c)))
  private def cleanupCol(c: Column): Column =
    column(graft.expressions.CleanupTitleExpr(expression(c)))
  private val phenoFieldUdf = udf { (s: String) =>
    val r = MimFields.parsePhenotypeField(s)
    (r.label, r.phenotypeMim, r.mappingKey)
  }

  /** C2: roman codec round-trip. Oracle derives the numeral independently
    * via the classic repeat('I',n) + replace-folding identity. */
  val q29Roman = QueryDef(
    "q29_roman_roundtrip",
    (s, d) =>
      Tables.part(s, d)
        .select(col("p_partkey"), ((col("p_partkey") % 99) + 1).cast("int").as("n"))
        .withColumn("roman", toRomanCol(col("n")))
        .withColumn("decoded", fromRomanCol(col("roman")))
        .orderBy("p_partkey"),
    Some("""
      SELECT p_partkey, n,
             replace(replace(replace(replace(replace(replace(replace(
               repeat('I', n),
               'IIIII','V'), 'VV','X'), 'XXXXX','L'), 'LXXXX','XC'),
               'XXXX','XL'), 'VIIII','IX'), 'IIII','IV') AS roman,
             n AS decoded
      FROM (SELECT p_partkey, ((p_partkey % 99) + 1)::INT AS n FROM part)
      ORDER BY p_partkey
    """))

  /** C1: cleanup_title over synthesized ALL-CAPS titles with a roman
    * suffix; the oracle computes the expected cleaned form from the
    * construction (lowercased name + arabic number). */
  val q30TitleCleanup = QueryDef(
    "q30_title_cleanup",
    (s, d) => {
      val n = ((col("p_partkey") % 99) + 1).cast("int")
      Tables.part(s, d)
        .select(col("p_partkey"),
          concat(upper(col("p_name")), lit(" TYPE "), toRomanCol(n)).as("title"))
        .withColumn("cleaned", cleanupCol(col("title")))
        .orderBy("p_partkey")
    },
    Some("""
      SELECT p_partkey,
             upper(p_name) || ' TYPE ' ||
               replace(replace(replace(replace(replace(replace(replace(
                 repeat('I', n), 'IIIII','V'), 'VV','X'), 'XXXXX','L'),
                 'LXXXX','XC'), 'XXXX','XL'), 'VIIII','IX'), 'IIII','IV') AS title,
             p_name || ' type ' || n::VARCHAR AS cleaned
      FROM (SELECT p_partkey, p_name, ((p_partkey % 99) + 1)::INT AS n FROM part)
      ORDER BY p_partkey
    """))

  /** J13: SPARQL-style triple-pattern chain over an edge table built from
    * customer/nation/region — customer −inNation→ nation −inRegion→ region
    * −label→ name, as self-joins of ONE triples DataFrame. */
  val q31SparqlChain = QueryDef(
    "q31_sparql_chain",
    (s, d) => {
      val c = Tables.customer(s, d)
      val n = Tables.nation(s, d)
      val r = Tables.region(s, d)
      val triples =
        c.select(concat(lit("C:"), col("c_custkey")).as("s"),
            lit("graft:inNation").as("p"), concat(lit("N:"), col("c_nationkey")).as("o"))
          .unionByName(n.select(concat(lit("N:"), col("n_nationkey")).as("s"),
            lit("graft:inRegion").as("p"), concat(lit("R:"), col("n_regionkey")).as("o")))
          .unionByName(n.select(concat(lit("N:"), col("n_nationkey")).as("s"),
            lit("rdfs:label").as("p"), col("n_name").as("o")))
          .unionByName(r.select(concat(lit("R:"), col("r_regionkey")).as("s"),
            lit("rdfs:label").as("p"), col("r_name").as("o")))
      val t1 = triples.filter(col("p") === "graft:inNation")
        .select(col("s").as("cust"), col("o").as("nat"))
      val t2 = triples.filter(col("p") === "graft:inRegion")
        .select(col("s").as("nat"), col("o").as("reg"))
      val t3 = triples.filter(col("p") === "rdfs:label")
        .select(col("s").as("reg"), col("o").as("region_name"))
      t1.join(t2, "nat").join(t3, "reg")
        .select(col("cust").as("customer"), col("region_name"))
        .orderBy("customer", "region_name")
    },
    Some("""
      WITH triples AS (
        SELECT 'C:' || c_custkey AS s, 'graft:inNation' AS p, 'N:' || c_nationkey AS o FROM customer
        UNION ALL
        SELECT 'N:' || n_nationkey, 'graft:inRegion', 'R:' || n_regionkey FROM nation
        UNION ALL
        SELECT 'N:' || n_nationkey, 'rdfs:label', n_name FROM nation
        UNION ALL
        SELECT 'R:' || r_regionkey, 'rdfs:label', r_name FROM region)
      SELECT t1.s AS customer, t3.o AS region_name
      FROM triples t1
      JOIN triples t2 ON t2.s = t1.o AND t2.p = 'graft:inRegion'
      JOIN triples t3 ON t3.s = t2.o AND t3.p = 'rdfs:label'
      WHERE t1.p = 'graft:inNation'
      ORDER BY customer, region_name
    """))

  /** F6: MIM-id repair over synthesized malformed ids (valid / braced /
    * trailing-comma / unrepairable). Oracle derives expectations from the
    * construction. */
  val q32MimRepair = QueryDef(
    "q32_mim_repair",
    (s, d) => {
      val six = (lit(100000) + (col("o_orderkey") % 899999)).cast("string")
      val raw = when(col("o_orderkey") % 4 === 0, six)
        .when(col("o_orderkey") % 4 === 1, concat(lit("{"), six, lit("}")))
        .when(col("o_orderkey") % 4 === 2, concat(six, lit(", extra")))
        .otherwise(concat(lit("bad-"), six))
      Tables.orders(s, d)
        .select(col("o_orderkey"), raw.as("raw"))
        .withColumn("repaired", OmimFunctions.repairMimId(col("raw")))
        .orderBy("o_orderkey")
    },
    Some("""
      SELECT o_orderkey,
             CASE o_orderkey % 4
               WHEN 0 THEN six WHEN 1 THEN '{' || six || '}'
               WHEN 2 THEN six || ', extra' ELSE 'bad-' || six END AS raw,
             CASE WHEN o_orderkey % 4 = 3 THEN NULL ELSE six END AS repaired
      FROM (SELECT o_orderkey, (100000 + (o_orderkey % 899999))::VARCHAR AS six FROM orders)
      ORDER BY o_orderkey
    """))

  /** C9: morbidmap phenotype-field parse over synthesized fields covering
    * all four regex branches; oracle expectations from the construction. */
  val q33PhenotypeField = QueryDef(
    "q33_phenotype_field",
    (s, d) => {
      val six = (lit(100000) + (col("p_partkey") % 899999)).cast("string")
      val key = ((col("p_partkey") % 4) + 1).cast("string")
      val field = when(col("p_partkey") % 4 === 0,
          concat(col("p_name"), lit(", "), six, lit(" ("), key, lit(")")))
        .when(col("p_partkey") % 4 === 1, concat(col("p_name"), lit(", "), six))
        .when(col("p_partkey") % 4 === 2, concat(col("p_name"), lit(" ("), key, lit(")")))
        .otherwise(col("p_name"))
      Tables.part(s, d)
        .select(col("p_partkey"), field.as("field"))
        .withColumn("pf", phenoFieldUdf(col("field")))
        .select(col("p_partkey"), col("field"),
          col("pf._1").as("label"), col("pf._2").as("p_mim"), col("pf._3").as("map_key"))
        .orderBy("p_partkey")
    },
    Some("""
      WITH t AS (
        SELECT p_partkey, p_name,
               (100000 + (p_partkey % 899999))::VARCHAR AS six,
               ((p_partkey % 4) + 1)::VARCHAR AS key, p_partkey % 4 AS v
        FROM part)
      SELECT p_partkey,
             CASE v WHEN 0 THEN p_name || ', ' || six || ' (' || key || ')'
                    WHEN 1 THEN p_name || ', ' || six
                    WHEN 2 THEN p_name || ' (' || key || ')'
                    ELSE p_name END AS field,
             CASE v WHEN 0 THEN p_name || ', ' WHEN 1 THEN p_name || ', '
                    WHEN 2 THEN p_name ELSE '' END AS label,
             CASE v WHEN 0 THEN six WHEN 1 THEN six ELSE '' END AS p_mim,
             CASE v WHEN 0 THEN key WHEN 2 THEN key ELSE '' END AS map_key
      FROM t
      ORDER BY p_partkey
    """))

  /** A8/J8: incremental cache upsert — delete re-fetched keys, append
    * fresh rows, sort by key (ref: omim_txt_parser.py:575-585). */
  val q34CacheUpsert = QueryDef(
    "q34_cache_upsert",
    (s, d) => {
      val o = Tables.orders(s, d)
      val cached = o.filter(col("o_orderkey") % 3 =!= 0)
        .select(col("o_orderkey").as("key"), lit("cached").as("src"), col("o_totalprice"))
      val fresh = o.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey").as("key"), lit("fresh").as("src"), col("o_totalprice"))
      graft.pipeline.OmimPipeline.cacheUpsert(cached, fresh, "key")
    },
    Some("""
      WITH cached AS (
        SELECT o_orderkey AS key, 'cached' AS src, o_totalprice FROM orders WHERE o_orderkey % 3 <> 0),
      fresh AS (
        SELECT o_orderkey AS key, 'fresh' AS src, o_totalprice FROM orders WHERE o_orderkey % 2 = 0)
      SELECT * FROM (
        SELECT c.* FROM cached c WHERE NOT EXISTS (SELECT 1 FROM fresh f WHERE f.key = c.key)
        UNION ALL
        SELECT * FROM fresh)
      ORDER BY key
    """))

  /** W1-analog on events + C19: tumbling 1-hour windows with exact decimal
    * sums (float sums are accumulation-order-sensitive; decimals hash-match
    * across engines). Batch twin of the streaming pipeline
    * (graft.streaming.EventsStreams — same plan under readStream). */
  val q35TumblingWindow = QueryDef(
    "q35_tumbling_window",
    (s, d) =>
      Tables.events(s, d)
        .groupBy(date_trunc("hour", col("ts")).as("window_start"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          // Sum exactly in decimal, then cast the FINAL value to double:
          // Spark's decimal sum widens to (24,2) while DuckDB's widens to
          // (38,2), and the two physical parquet representations hash
          // differently even when values agree. A final double is
          // representation-stable (every 2-dp decimal here is far below
          // 2^53 so the conversion is exact and identical across engines).
          sum(col("value").cast("decimal(14,2)")).cast("double").as("total"))
        .orderBy("window_start", "event_type"),
    Some("""
      SELECT date_trunc('hour', ts::TIMESTAMP) AS window_start, event_type,
             count(*) AS n, sum(value::DECIMAL(14,2))::DOUBLE AS total
      FROM events
      GROUP BY 1, 2
      ORDER BY window_start, event_type
    """))

  /** Sessionization: per-user sessions split on >30-minute gaps (lag +
    * running sum), then per-session aggregates — the batch shape of
    * streaming session windows. */
  val q36Sessionize = QueryDef(
    "q36_sessionize",
    (s, d) => {
      val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
      Tables.events(s, d)
        .withColumn("prev_ts", lag("ts", 1).over(byUser))
        .withColumn("new_session",
          when(col("prev_ts").isNull ||
            col("ts").cast("double") - col("prev_ts").cast("double") > 1800.0, 1)
            .otherwise(0))
        .withColumn("session_id", sum("new_session").over(
          Window.partitionBy("user_id").orderBy("ts", "event_id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("user_id", "session_id")
        .agg(count(lit(1)).as("n_events"),
          min("ts").as("session_start"), max("ts").as("session_end"))
        .orderBy("user_id", "session_id")
    },
    Some("""
      WITH ev AS (SELECT user_id, event_id, ts::TIMESTAMP AS ts FROM events),
      lagged AS (
        SELECT user_id, event_id, ts,
               lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        FROM ev),
      flagged AS (
        SELECT *, CASE WHEN prev_ts IS NULL OR epoch(ts - prev_ts) > 1800
                       THEN 1 ELSE 0 END AS new_session
        FROM lagged),
      sess AS (
        SELECT user_id, ts,
               sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS UNBOUNDED PRECEDING) AS session_id
        FROM flagged)
      SELECT user_id, session_id::BIGINT AS session_id, count(*) AS n_events,
             min(ts) AS session_start, max(ts) AS session_end
      FROM sess
      GROUP BY 1, 2
      ORDER BY user_id, session_id
    """))

  /** Skew-salted join (operators.SkewJoin): a synthesized hot key covers
    * ~half the fact table; the salted physical plan must produce EXACTLY
    * the plain join's result — which is what the (unsalted) oracle
    * verifies. */
  val q38SaltedSkewJoin = QueryDef(
    "q38_salted_skew_join",
    (s, d) => {
      val fact = Tables.lineitem(s, d)
        .select(
          when(col("l_orderkey") % 10 < 5, 0L)
            .otherwise(col("l_suppkey") % 100).as("k"),
          col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
      val dim = Tables.lineitem(s, d).sparkSession.range(100)
        .select(col("id").as("k"), concat(lit("grp_"), col("id")).as("grp"))
      graft.operators.SkewJoin
        .saltedInnerJoin(fact, dim, "k", numSalts = 8,
          saltBy = Seq(col("l_orderkey"), col("l_linenumber")))
        .groupBy("grp")
        .agg(count(lit(1)).as("n"), round(sum("l_quantity"), 2).as("qty"))
        .orderBy("grp")
    },
    Some("""
      WITH fact AS (
        SELECT CASE WHEN l_orderkey % 10 < 5 THEN 0 ELSE l_suppkey % 100 END AS k,
               l_quantity
        FROM lineitem),
      dim AS (SELECT range AS k, 'grp_' || range AS grp FROM range(100))
      SELECT grp, count(*) AS n, round(sum(l_quantity), 2) AS qty
      FROM fact JOIN dim USING (k)
      GROUP BY grp
      ORDER BY grp
    """))

  /** JSON scalar extraction (schema-on-read family, SURVEY §1.1.2): the
    * events `props` column holds JSON strings; extract + cast + aggregate.
    * get_json_object is codegen'd; at scale prefer from_json with an
    * explicit schema once the shape stabilizes. */
  val q39JsonExtract = QueryDef(
    "q39_json_extract",
    (s, d) =>
      Tables.events(s, d)
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("int").as("k"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(col("k")).as("sum_k"),
          max(col("k")).as("max_k"))
        .orderBy("event_type"),
    Some("""
      SELECT event_type, count(*) AS n,
             sum(CAST(json_extract_string(props, '$.k') AS INT))::BIGINT AS sum_k,
             max(CAST(json_extract_string(props, '$.k') AS INT)) AS max_k
      FROM events
      GROUP BY event_type
      ORDER BY event_type
    """))

  /** The complete OMIM pipeline (BuildGraph) over the synthetic fixtures,
    * surfaced in the verified query registry as a DIGEST: the build over
    * checked-in fixtures with a pinned versionDate is fully deterministic,
    * so the query emits one row — (n_triples, md5 of the sorted triple
    * multiset) — and the oracle is the precomputed expectation as a
    * constant SELECT. Any drift anywhere in the 18-stage build (a changed
    * predicate, a lost triple, a label quirk) changes the digest and turns
    * the row red. Semantics are additionally covered by the 30+ golden
    * asserts in OmimPipelineSpec/BuildGraphSpec and the sf-scaled q57. */
  val q40OmimBuild = QueryDef(
    "q40_omim_build_graph",
    (s, _) => {
      // the checked-in fixture release, relative to the repo root
      val out = graft.pipeline.BuildGraph.build(s, graft.pipeline.BuildGraph.Inputs
        .fromDir("src/test/resources/omim"), versionDate = "2026-08-12")
      out.triples.toDF()
        .agg(count(lit(1)).as("n_triples"),
          md5(array_join(sort_array(collect_list(
            concat_ws("\u0001", col("s"), col("p"), col("o"),
              col("oIsLiteral").cast("string")))), "\u0002")).as("triple_digest"))
    },
    Some("""
      SELECT 403::BIGINT AS n_triples,
             '31a6d9092e589eb5839a3d6cec44ba77' AS triple_digest
    """),
    benchSkip = true) // fixture-scale; does not vary with sfDir

  /** The association cascade (main.py:429-488) under a DuckDB oracle.
    *
    * q40 runs the full build but is fixture-scale and oracle-less; this
    * query gives the cascade — the semantically hardest logic in the
    * repo — a driver-visible correctness row. It synthesizes
    * morbidmap-shaped associations, exclusions, and protected pairs
    * in-plan from `orders` (the q32/q33 technique), runs the REAL
    * `OmimPipeline.tagAssociations`, and the oracle recomputes every
    * branch tag, per-phenotype count, g2d predicate, and evidence string
    * independently in SQL. The construction covers all five branches:
    * protected (o%11), key-1 skip (o%4==0), non-causal (keys 2/4 and
    * excluded key-3), non-definitive skip (shared p_mim or [{? labels),
    * and causal (unique p_mim, key 3, plain label).
    */
  val q44CascadeTags = QueryDef(
    "q44_cascade_tags",
    (s, d) => {
      val o = Tables.orders(s, d)
      val pMim = when(col("o_orderkey") % 3 === 0,
          (lit(200000) + col("o_orderkey")))
        .otherwise(lit(100000) + (col("o_orderkey") % 500))
        .cast("string")
      val prefix = when(col("o_orderkey") % 5 === 1, "[")
        .when(col("o_orderkey") % 5 === 2, "{")
        .when(col("o_orderkey") % 5 === 3, "?")
        .otherwise("")
      val assocs = o.select(
        col("o_orderkey"),
        pMim.as("p_mim"),
        (lit(300000) + (col("o_orderkey") % 700)).cast("string").as("gene_mim"),
        ((col("o_orderkey") % 4) + 1).cast("string").as("map_key"),
        concat(prefix, lit("Phenotype")).as("p_label"),
        concat(lit("meaning-"), ((col("o_orderkey") % 4) + 1).cast("string")).as("map_label"))
      val exclusions = assocs.select("p_mim").distinct()
        .filter(col("p_mim").cast("long") % 7 === 0)
        .withColumn("excl_orcid", lit("ORCID:0000-0001"))
      val protected_ = assocs.filter(col("o_orderkey") % 11 === 0)
        .select(col("p_mim"), col("gene_mim"))
        .distinct()
        .withColumn("hgnc_id", concat(lit("HG"), col("gene_mim")))
        .withColumn("prot_orcid", lit("ORCID:0000-0002"))
      graft.pipeline.OmimPipeline.tagAssociations(assocs, exclusions, protected_)
        .select(col("o_orderkey"), col("p_mim"), col("gene_mim"),
          col("map_key"), col("n_assocs"), col("excluded"),
          col("branch"), col("g2d_pred"), col("evidence"))
        .orderBy("o_orderkey")
    },
    Some("""
      WITH a AS (
        SELECT o_orderkey,
               (CASE WHEN o_orderkey % 3 = 0 THEN 200000 + o_orderkey
                     ELSE 100000 + (o_orderkey % 500) END)::VARCHAR AS p_mim,
               (300000 + (o_orderkey % 700))::VARCHAR AS gene_mim,
               ((o_orderkey % 4) + 1)::VARCHAR AS map_key,
               (CASE o_orderkey % 5 WHEN 1 THEN '[' WHEN 2 THEN '{'
                     WHEN 3 THEN '?' ELSE '' END) || 'Phenotype' AS p_label,
               'meaning-' || ((o_orderkey % 4) + 1)::VARCHAR AS map_label
        FROM orders),
      counted AS (
        SELECT *, count(*) OVER (PARTITION BY p_mim) AS n_assocs FROM a),
      excl AS (
        SELECT DISTINCT p_mim FROM a WHERE p_mim::BIGINT % 7 = 0),
      prot AS (
        SELECT DISTINCT p_mim, gene_mim FROM a WHERE o_orderkey % 11 = 0),
      tagged AS (
        SELECT c.*,
               (e.p_mim IS NOT NULL) AS excluded,
               (p.p_mim IS NOT NULL) AS prot_marker
        FROM counted c
        LEFT JOIN excl e ON e.p_mim = c.p_mim
        LEFT JOIN prot p ON p.p_mim = c.p_mim AND p.gene_mim = c.gene_mim)
      SELECT o_orderkey, p_mim, gene_mim, map_key, n_assocs, excluded,
             CASE WHEN prot_marker THEN 'protected'
                  WHEN p_mim = '' OR map_key = '1' THEN 'skip_no_mim_or_key1'
                  WHEN map_key <> '3' OR excluded THEN 'non_causal'
                  WHEN n_assocs > 1 OR regexp_matches(p_label, '^[\[{?]')
                    THEN 'skip_non_definitive'
                  ELSE 'causal' END AS branch,
             CASE WHEN NOT prot_marker AND p_mim <> '' AND map_key <> '1'
                       AND (map_key <> '3' OR excluded)
                  THEN CASE WHEN n_assocs = 1 AND NOT excluded
                            THEN CASE map_key WHEN '2' THEN 'RO:0003303'
                                              WHEN '3' THEN 'RO:0004013'
                                              WHEN '4' THEN 'RO:0003304' END
                            ELSE 'RO:0003302' END
                  END AS g2d_pred,
             'Evidence: (' || map_key || ') ' || coalesce(map_label, '') AS evidence
      FROM tagged
      ORDER BY o_orderkey
    """))

  /** J9/J10 (omim_txt_parser.py:124-173): the REAL protected-augmentation
    * rewrite over synthesized morbidmap/protected/titles/hgnc tables.
    * DuckDB independently recomputes the 3-key dup check, the
    * str.capitalize label synthesis (incl. the parse-back trailing ', '
    * quirk), and the flagged union. */
  val q45ProtectedAugment = QueryDef(
    "q45_protected_augment",
    (s, d) => {
      val o = Tables.orders(s, d)
      val geneMim = (lit(300000) + col("o_orderkey") % 400).cast("string")
      val parsed = o.select(
        concat(lit("Label-"), (col("o_orderkey") % 7).cast("string")).as("p_label"),
        (lit(100000) + col("o_orderkey") % 300).cast("string").as("p_mim"),
        ((col("o_orderkey") % 4) + 1).cast("string").as("map_key"),
        array(concat(lit("SYM"), geneMim)).as("gene_symbols"),
        geneMim.as("gene_mim"),
        lit("1p36").as("cyto_location"),
        concat(lit("meaning-"), ((col("o_orderkey") % 4) + 1).cast("string")).as("map_label"))
      val protected_ = o.filter(col("o_orderkey") % 11 === 0)
        .select(
          (lit(100000) + col("o_orderkey") % 350).cast("string").as("p_mim"),
          geneMim.as("gene_mim"))
        .distinct()
        .withColumn("hgnc_id", concat(lit("HG"), col("gene_mim")))
      val titles = parsed.select(col("p_mim"))
        .unionByName(protected_.select(col("p_mim"))).distinct()
        .select(col("p_mim").as("mim"),
          concat(lit("TITLE FOR "), col("p_mim")).as("pref_titles"))
      val symbolToId = protected_.select(col("hgnc_id")).distinct()
        .select(
          concat(lit("SYM"), regexp_replace(col("hgnc_id"), "^HG", "")).as("symbol"),
          col("hgnc_id"))
      graft.pipeline.OmimPipeline
        .augmentMorbidMap(parsed, protected_, titles, symbolToId)
        .select(col("p_mim"), col("gene_mim"), col("map_key"), col("p_label"),
          concat_ws(",", col("gene_symbols")).as("gene_symbols"),
          col("cyto_location"), col("is_added_protection"))
        .orderBy("is_added_protection", "p_mim", "gene_mim", "map_key", "p_label")
    },
    Some("""
      WITH parsed AS (
        SELECT 'Label-' || (o_orderkey % 7)::VARCHAR AS p_label,
               (100000 + o_orderkey % 300)::VARCHAR AS p_mim,
               ((o_orderkey % 4) + 1)::VARCHAR AS map_key,
               'SYM' || (300000 + o_orderkey % 400)::VARCHAR AS gene_symbols,
               (300000 + o_orderkey % 400)::VARCHAR AS gene_mim,
               '1p36' AS cyto_location
        FROM orders),
      prot AS (
        SELECT DISTINCT (100000 + o_orderkey % 350)::VARCHAR AS p_mim,
                        (300000 + o_orderkey % 400)::VARCHAR AS gene_mim
        FROM orders WHERE o_orderkey % 11 = 0),
      synth AS (
        SELECT p.p_mim, p.gene_mim, '3' AS map_key,
               'Title for ' || p.p_mim || ', ' AS p_label,
               'SYM' || p.gene_mim AS gene_symbols,
               '' AS cyto_location, true AS is_added_protection
        FROM prot p
        WHERE NOT EXISTS (SELECT 1 FROM parsed e
          WHERE e.map_key = '3' AND e.p_mim = p.p_mim AND e.gene_mim = p.gene_mim))
      SELECT * FROM (
        SELECT p_mim, gene_mim, map_key, p_label, gene_symbols, cyto_location,
               false AS is_added_protection
        FROM parsed
        UNION ALL SELECT * FROM synth)
      ORDER BY is_added_protection, p_mim, gene_mim, map_key, p_label
    """))

  /** The composed cache-refresh flow (update_cache,
    * omim_txt_parser.py:516-585) end to end: stale decision (1-day
    * precaution), batched fetch via a deterministic transport, entry
    * parse (umls ','-split, orphanet ';;;'/';;'-compound, pubmed refs),
    * and the anti-join upsert of BOTH cache tables. DuckDB derives every
    * refreshed value from the mim alone. */
  val q46CacheRefresh = QueryDef(
    "q46_cache_refresh",
    (s, d) => {
      val mims = Tables.orders(s, d)
        .select((lit(100000) + col("o_orderkey") % 200).cast("string").as("mim"))
        .distinct()
      val even = col("mim").cast("long") % 2 === 0
      val date = when(even, "2026-01-10").otherwise("2026-03-01")
      val cached = graft.client.CacheRefresh.CacheTables(
        mappings = mims.select(col("mim"), lit("False").as("is_phenotype"),
          date.as("date_fetched"),
          concat(lit("OLD"), col("mim")).as("umls_ids"),
          lit("").as("orphanet_ids")),
        pubmed = mims.select(col("mim"), lit("False").as("is_phenotype"),
          date.as("date_fetched"),
          concat(lit("OLDP"), col("mim")).as("pmid_refs")))
      val phenos = mims.filter(col("mim").cast("long") % 3 === 0)
      val transport = new graft.client.OmimClient.Transport {
        def fetchBatch(batch: Seq[String]): String = {
          val entries = batch.map { m =>
            s"""{"entry": {"mimNumber": $m, "externalLinks": {"umlsIDs": "U$m,V$m",
               | "orphanetDiseases": "$m;;a;;;9$m;;b"},
               | "referenceList": [{"reference": {"pubmedID": 9$m}}]}}""".stripMargin
          }
          s"""{"omim": {"entryList": [${entries.mkString(",")}]}}"""
        }
      }
      val out = graft.client.CacheRefresh.refresh(s, cached, mims, phenos,
        transport, fetchDate = "2026-08-12", sinceDate = Some("2026-02-01"))
      out.mappings
        .join(out.pubmed.select(col("mim"), col("pmid_refs")), Seq("mim"))
        .orderBy("mim")
    },
    Some("""
      WITH mims AS (
        SELECT DISTINCT (100000 + o_orderkey % 200)::VARCHAR AS mim FROM orders)
      SELECT mim,
             CASE WHEN mim::BIGINT % 2 = 0
                  THEN CASE WHEN mim::BIGINT % 3 = 0 THEN 'True' ELSE 'False' END
                  ELSE 'False' END AS is_phenotype,
             CASE WHEN mim::BIGINT % 2 = 0 THEN '2026-08-12' ELSE '2026-03-01' END
               AS date_fetched,
             CASE WHEN mim::BIGINT % 2 = 0 THEN 'U' || mim || '|V' || mim
                  ELSE 'OLD' || mim END AS umls_ids,
             CASE WHEN mim::BIGINT % 2 = 0 THEN mim || '|9' || mim
                  ELSE '' END AS orphanet_ids,
             CASE WHEN mim::BIGINT % 2 = 0 THEN '9' || mim
                  ELSE 'OLDP' || mim END AS pmid_refs
      FROM mims
      ORDER BY mim
    """))

  /** G16/W2 (log_review_cases, omim_entry_parser.py:444-482): the REAL
    * reviewCases — all five classes plus the bounded distinct-rank
    * self-ref numbering — over associations synthesized so every class
    * can fire; DuckDB recomputes the cascade's causal filter, the
    * self-ref join, and the dense-rank numbering independently. */
  val q47ReviewCases = QueryDef(
    "q47_review_cases",
    (s, d) => {
      val o = Tables.orders(s, d)
      val k = col("o_orderkey")
      val marker = k % 6 === 0
      val pMim = when(marker, lit(""))
        .when(k % 10 === 5, lit("100001"))
        .otherwise((lit(100000) + k).cast("string"))
      val geneMim = when(marker, (lit(100000) + k + 2).cast("string"))
        .otherwise((lit(300000) + k % 300).cast("string"))
      val label = when(k % 5 === 0, "Alpha digenic disease")
        .when(k % 5 === 1, "Beta somatic tumor")
        .when(k % 5 === 2, "{Gamma susceptibility}")
        .when(k % 5 === 3, "?Delta provisional")
        .otherwise("Epsilon plain")
      val allAssocs = o.select(
        pMim.as("p_mim"), geneMim.as("gene_mim"),
        ((k % 4) + 1).cast("string").as("map_key"),
        label.as("p_label"), lit("m").as("map_label"))
      val assocs = allAssocs.filter(col("p_mim") =!= "")
      val emptyExcl = assocs.select(col("p_mim")).filter(lit(false))
        .withColumn("excl_orcid", lit(""))
      val emptyProt = assocs.select(col("p_mim"), col("gene_mim"))
        .filter(lit(false))
        .withColumn("hgnc_id", lit("")).withColumn("prot_orcid", lit(""))
      // reviewCases fans its input into six report branches; it
      // Barrier.cuts the causal sliver internally (round 17 — the
      // branches were re-reading the tagging window's exchange), so the
      // synthesis below stays lazy here. (An earlier round measured
      // COLUMNAR caching losing to the rescans; the cheap
      // localCheckpoint of the post-filter sliver is the shape that
      // wins.)
      val tagged = graft.pipeline.OmimPipeline
        .tagAssociations(assocs, emptyExcl, emptyProt)
      val m = col("mim").cast("long") % 7
      val types = assocs.select(col("p_mim").as("mim")).distinct()
        .withColumn("omim_type",
          when(m === 0, "GENE").when(m === 1, "OBSOLETE")
            .when(m === 2, "SUSPECTED").when(m === 3, "HAS_AFFECTED_FEATURE")
            .otherwise("DISEASE"))
      graft.pipeline.OmimPipeline.reviewCases(tagged, allAssocs, types)
        .orderBy("classCode", "value")
    },
    Some("""
      WITH base AS (
        SELECT CASE WHEN o_orderkey % 6 = 0 THEN ''
                    WHEN o_orderkey % 10 = 5 THEN '100001'
                    ELSE (100000 + o_orderkey)::VARCHAR END AS p_mim,
               CASE WHEN o_orderkey % 6 = 0 THEN (100000 + o_orderkey + 2)::VARCHAR
                    ELSE (300000 + o_orderkey % 300)::VARCHAR END AS gene_mim,
               ((o_orderkey % 4) + 1)::VARCHAR AS map_key,
               CASE o_orderkey % 5 WHEN 0 THEN 'Alpha digenic disease'
                    WHEN 1 THEN 'Beta somatic tumor'
                    WHEN 2 THEN '{Gamma susceptibility}'
                    WHEN 3 THEN '?Delta provisional'
                    ELSE 'Epsilon plain' END AS p_label
        FROM orders),
      assocs AS (SELECT * FROM base WHERE p_mim <> ''),
      counted AS (
        SELECT *, count(*) OVER (PARTITION BY p_mim) AS n_assocs FROM assocs),
      causal AS (
        SELECT *, '(Phenotype: ' || p_mim || ' ' || p_label ||
               '), (Map key: ' || map_key || '), (Gene: ' || gene_mim || ')'
               AS basic
        FROM counted
        WHERE map_key = '3' AND n_assocs = 1
          AND NOT regexp_matches(p_label, '^[\[{?]')),
      types AS (
        SELECT DISTINCT p_mim AS mim,
               CASE p_mim::BIGINT % 7 WHEN 0 THEN 'GENE'
                    WHEN 1 THEN 'OBSOLETE' WHEN 2 THEN 'SUSPECTED'
                    WHEN 3 THEN 'HAS_AFFECTED_FEATURE'
                    ELSE 'DISEASE' END AS omim_type
        FROM assocs),
      selfref AS (
        SELECT c.p_mim, c.basic, b.p_label AS sr_label, b.map_key AS sr_key
        FROM causal c JOIN base b ON b.p_mim = '' AND b.gene_mim = c.p_mim),
      caseids AS (
        SELECT p_mim, dense_rank() OVER (ORDER BY p_mim) AS case_i
        FROM (SELECT DISTINCT p_mim FROM selfref)),
      unioned AS (
        SELECT 1 AS classCode, basic AS value FROM causal
          WHERE lower(p_label) LIKE '%digenic%'
        UNION ALL
        SELECT 3, basic FROM causal WHERE lower(p_label) LIKE '%somatic%'
        UNION ALL
        SELECT DISTINCT 2, case_i::VARCHAR || ': ' || basic
          FROM selfref JOIN caseids USING (p_mim)
        UNION ALL
        SELECT 2, case_i::VARCHAR || ': (Phenotype: ' || sr_label ||
               '), (Map key: ' || sr_key || '), (Gene: ' || p_mim || ')'
          FROM selfref JOIN caseids USING (p_mim)
        UNION ALL
        SELECT 4, '(Phenotype MIM type ' || omim_type || '), ' || basic
          FROM causal JOIN types ON mim = p_mim WHERE omim_type = 'GENE'
        UNION ALL
        SELECT 5, '(Phenotype MIM type ' || omim_type || '), ' || basic
          FROM causal JOIN types ON mim = p_mim
          WHERE omim_type IN ('OBSOLETE', 'SUSPECTED', 'HAS_AFFECTED_FEATURE'))
      SELECT classCode,
             CASE classCode WHEN 1 THEN 'D2G: digenic'
                  WHEN 2 THEN 'D2G: self-referential'
                  WHEN 3 THEN 'D2G: somatic'
                  WHEN 4 THEN 'D2G: Phenotype is gene'
                  WHEN 5 THEN 'D2G: Phenotype type error' END AS classShortName,
             value
      FROM unioned
      ORDER BY classCode, value
    """))

  /** Sliding (overlapping) windows — the third streaming-window shape
    * next to q35 tumbling and q36 sessions: 1-hour windows sliding every
    * 30 minutes, so every event lands in exactly two windows. The oracle
    * derives both window starts arithmetically (epoch-floor to the slide,
    * minus one slide). Decimal-sum-then-double as in q35. */
  val q48SlidingWindow = QueryDef(
    "q48_sliding_window",
    (s, d) =>
      Tables.events(s, d)
        .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(14,2)")).cast("double").as("total"))
        .select(col("window.start").as("window_start"), col("event_type"),
          col("n"), col("total"))
        .orderBy("window_start", "event_type"),
    Some("""
      WITH ev AS (
        SELECT (floor(epoch(ts::TIMESTAMP) / 1800)::BIGINT * 1800) AS slot,
               event_type, value
        FROM events),
      expanded AS (
        SELECT epoch_ms(slot * 1000) AS window_start, event_type, value FROM ev
        UNION ALL
        SELECT epoch_ms((slot - 1800) * 1000), event_type, value FROM ev)
      SELECT window_start, event_type, count(*) AS n,
             sum(value::DECIMAL(14,2))::DOUBLE AS total
      FROM expanded
      GROUP BY 1, 2
      ORDER BY window_start, event_type
    """))

  /** J6/J7 (parse_mim2gene merge + chained HGNC lookups,
    * omim_txt_parser.py:429-437, main.py:390-394): the REAL
    * conflict-dropping full-outer map merge and the symbol→id chain,
    * recomputed by DuckDB as FULL JOIN + conflict filter + LEFT JOIN. */
  /** The END-TO-END BuildGraph composition (main.py:227-528) under a
    * DuckDB oracle — the stage GLUE (union ordering, cross-stage dedup,
    * SPARQL-update rewrites) checked as one multiset, complementing the
    * per-stage oracles (q44 cascade, q45 augmentation, q47 review, q49
    * HGNC merge).
    *
    * All twelve raw input tables are synthesized in-plan from `orders`
    * (bounded id space: 240 phenotype + 240 gene + 40 obsolete entities,
    * plus per-orderkey morbidmap associations), shaped to fire every
    * composed path: all six mimTitles prefixes, MOVED-TO replacement
    * routing (single + AND), FORMERLY / symbol-pair / INCLUDED title
    * handling, all five cascade branches, protected augmentation AND
    * leftovers, mim2gene routing + augmentation, HGNC conflict merge,
    * PS membership, pipe-delimited links, and the hgnc_links SPARQL
    * INSERT (which fires off the causal/protected RO:0004003
    * restrictions). Titles use lowercase-fixed-point words so the
    * cleanup pipeline is SQL-reproducible; blank-node ids are nested
    * md5, which DuckDB recomputes literally. The oracle rebuilds the
    * entire triple set stage by stage and must match the final DISTINCT
    * union exactly. */
  val q57BuildE2e = QueryDef(
    "q57_build_e2e",
    (s, d) => {
      // Cut the two shared roots (Barrier.cut): all twelve synthesized
      // inputs branch off the same orders scan, and analyzer
      // DeduplicateRelations walks that duplicated subtree
      // combinatorially (measured: 40+ s of driver CPU at sf0.1 before
      // truncation, ~1 s after). The cut keys are tiny (orderkeys
      // + a 240-row id table) and deterministic.
      val k = col("o_orderkey")
      val o = Barrier.cut(Tables.orders(s, d).select(k))
      val ids = Barrier.cut(o.select((k % 240).cast("long").as("i")).distinct())
      val i = col("i")
      val P = (lit(100000) + i).cast("string")
      val G = (lit(300000) + i).cast("string")
      val SYM = concat(lit("SYMX"), G)

      // --- mimTitles: 240 phenotypes (3 prefixes), 240 genes, 40 obsolete
      val phenoTitles = ids.select(
        when(i % 4 === 1, "Percent").when(i % 4 === 3, "NULL")
          .otherwise("Number Sign").as("prefix"),
        P.as("mim"),
        concat(lit("PHENO TITLE "), P).as("pref_titles"),
        when(i % 7 === 0, "OLD NAME, FORMERLY")
          .when(i % 6 === 0, concat(lit("ALT PHENO; APSYM"), i.cast("string")))
          .when(i % 3 === 0, "ALT PHENO").otherwise("").as("alt_titles"),
        when(i % 5 === 0, "INC TITLE").otherwise("").as("inc_titles"))
      val geneTitles = ids.select(
        when(i % 2 === 0, "Asterisk").otherwise("Plus").as("prefix"),
        G.as("mim"),
        concat(lit("GENE TITLE "), G, lit("; "), SYM).as("pref_titles"),
        lit("").as("alt_titles"), lit("").as("inc_titles"))
      val obsTitles = ids.filter(i < 40).select(
        lit("Caret").as("prefix"),
        (lit(500000) + i).cast("string").as("mim"),
        when(i >= 30, concat(lit("OBSOLETE TITLE "), i.cast("string")))
          .when(i % 2 === 0, concat(lit("MOVED TO "), P))
          .otherwise(concat(lit("MOVED TO "), P, lit(" AND "), G)).as("pref_titles"),
        lit("").as("alt_titles"), lit("").as("inc_titles"))
      val titlesRaw = phenoTitles.unionByName(geneTitles).unionByName(obsTitles)

      // --- morbidmap: one association per orderkey (q44's branch design)
      val pAssoc = when(k % 3 === 0, (lit(210000) + k).cast("string"))
        .otherwise((lit(100000) + (k % 200)).cast("string"))
      val gAssoc = (lit(300000) + (k % 240)).cast("string")
      val marker = when(k % 5 === 1, "[").when(k % 5 === 2, "{")
        .when(k % 5 === 3, "?").otherwise("")
      val mapKey = ((k % 4) + 1).cast("string")
      val morbidRaw = o.select(
        when(k % 17 === 0, concat(lit("NOMIM LBL ("), mapKey, lit(")")))
          .otherwise(concat(marker, lit("PHENO LBL, "), pAssoc,
            lit(" ("), mapKey, lit(")"))).as("phenotype"),
        concat(lit("SYMX"), gAssoc).as("gene_symbols"),
        gAssoc.as("gene_mim"),
        when(k % 2 === 0, concat(lit("1p"), (k % 7).cast("string")))
          .otherwise("").as("cyto"))

      // --- curator tables: exclusions + protected (in-map / augmentable /
      //     leftover families), attributes functional in the join keys
      val exclusions = o.select(pAssoc.as("p_mim")).distinct()
        .filter(col("p_mim").cast("long") % 7 === 0)
        .withColumn("excl_orcid",
          when(col("p_mim").cast("long") % 14 === 0, lit(null).cast("string"))
            .otherwise("ORCID:0000-0001"))
      val protA = o.filter(k % 11 === 0).select(pAssoc.as("p_mim"), gAssoc.as("gene_mim"))
      val protB = o.filter(k % 23 === 0).select(
        (lit(100200) + (k % 40)).cast("string").as("p_mim"), gAssoc.as("gene_mim"))
      val protC = o.filter(k % 13 === 0).select(
        (lit(700000) + (k % 10)).cast("string").as("p_mim"), gAssoc.as("gene_mim"))
      val pgSum = col("p_mim").cast("long") + col("gene_mim").cast("long")
      val protectd = protA.unionByName(protB).unionByName(protC).distinct()
        .withColumn("hgnc_id", (col("gene_mim").cast("long") - 300000 + 7000).cast("string"))
        .withColumn("prot_orcid", when(pgSum % 2 === 0, "ORCID:0000-0002"))
        .withColumn("mondo_id",
          when(pgSum % 3 === 0, concat(lit("MONDO:"), (pgSum % 50 + 600000).cast("string"))))

      // --- mim2gene: gene/gene-phenotype/phenotype/predominantly/junk rows
      val m2gGene = ids.select(G.as("mim"),
        when(i % 2 === 0, "gene").otherwise("gene/phenotype").as("entry_type"),
        when(i % 10 === 0, "").otherwise((lit(880000) + i).cast("string")).as("entrez_id"),
        when(i % 3 === 0, "").otherwise(SYM).as("hgnc_symbol"),
        lit("").as("ensembl_id"))
      val m2gPheno = ids.filter(i % 6 === 0).select(P.as("mim"),
        lit("phenotype").as("entry_type"), (lit(990000) + i).cast("string").as("entrez_id"),
        lit("").as("hgnc_symbol"), lit("").as("ensembl_id"))
      val m2gPheno2 = ids.filter(i % 6 === 3).select(P.as("mim"),
        lit("predominantly phenotypes").as("entry_type"),
        (lit(991000) + i).cast("string").as("entrez_id"),
        lit("").as("hgnc_symbol"), lit("").as("ensembl_id"))
      val m2gJunk = ids.filter(i % 50 === 0).select(P.as("mim"),
        lit("moved/removed").as("entry_type"), lit("").as("entrez_id"),
        lit("").as("hgnc_symbol"), lit("").as("ensembl_id"))
      val mim2geneRaw = m2gGene.unionByName(m2gPheno)
        .unionByName(m2gPheno2).unionByName(m2gJunk)

      // --- genemap2 (agree / conflict / absent), hgnc symbol↔id, PS, links
      val genemap2 = ids.filter(i % 2 === 0).select(
        G.as("MIM Number"),
        when(i % 10 === 0, concat(lit("CONFL"), G)).otherwise(SYM)
          .as("Approved Gene Symbol"))
      val hgncRaw = ids.select(SYM.as("symbol"),
        concat(lit("HGNC:"), (lit(7000) + i).cast("string")).as("hgnc_id"))
      val psTitles = ids.filter(i < 12).select(
        concat(lit("PS"), (lit(910000) + i).cast("string")).as("ps_id"),
        concat(lit("SERIES TITLE "), i.cast("string")).as("a"),
        lit(null).cast("string").as("b"))
      val psMembers = ids.select(
        concat(lit("PS"), (lit(910000) + (i % 12)).cast("string")).as("ps_id"),
        P.as("a"), lit("m").as("b"))
      val psRaw = psTitles.unionByName(psMembers)
      val mappings = ids.filter(i % 2 === 0).select(P.as("mim"),
        concat(lit("C"), P, lit("|D"), P).as("umls_ids"),
        when(i % 4 === 0, concat(lit("ORPH"), i.cast("string"))).otherwise("")
          .as("orphanet_ids"))
      val pubmed = ids.filter(i % 3 === 0).select(P.as("mim"),
        concat(lit("91"), i.cast("string"), lit("|92"), i.cast("string")).as("pmid_refs"))
      val omimToMondo = ids.filter(i === 0).select(P.as("omim"),
        array(lit("MONDO:0000001")).as("mondo_ids"))

      val out = graft.pipeline.BuildGraph.buildFromTables(s,
        graft.pipeline.BuildGraph.InputTables(
          titlesRaw = titlesRaw, mim2geneRaw = mim2geneRaw, morbidRaw = morbidRaw,
          psRaw = psRaw, genemap2 = genemap2, hgncRaw = hgncRaw,
          exclusions = exclusions, protectd = protectd, caps = Map.empty,
          omimToMondo = omimToMondo, mappings = mappings, pubmed = pubmed),
        versionDate = "2026-08-12")
      out.triples.toDF().orderBy("s", "p", "o", "oIsLiteral")
    },
    Some("""

WITH ids AS MATERIALIZED (SELECT DISTINCT o_orderkey % 240 AS i FROM orders),
ok AS MATERIALIZED (SELECT o_orderkey AS k FROM orders),
meanings AS (SELECT * FROM (VALUES
  ('1', 'The disorder is placed on the map based on its association with a gene, but the underlying defect is not known.'),
  ('2', 'The disorder has been placed on the map by linkage or other statistical method; no mutation has been found.'),
  ('3', 'The molecular basis for the disorder is known; a mutation has been found in the gene.'),
  ('4', 'A contiguous gene deletion or duplication syndrome, multiple genes are deleted or duplicated causing the phenotype.')) m(mk, mv)),

-- ===================== raw morbidmap parse =====================
assoc_raw AS MATERIALIZED (
  SELECT k,
    CASE WHEN k%17=0 THEN 'NOMIM LBL'
         ELSE (CASE k%5 WHEN 1 THEN '[' WHEN 2 THEN '{' WHEN 3 THEN '?' ELSE '' END)
              || 'PHENO LBL, ' END AS p_label,
    CASE WHEN k%17=0 THEN ''
         WHEN k%3=0 THEN (210000+k)::VARCHAR
         ELSE (100000+(k%200))::VARCHAR END AS p_mim,
    ((k%4)+1)::VARCHAR AS map_key,
    (300000+(k%240))::VARCHAR AS gene_mim,
    CASE WHEN k%2=0 THEN '1p'||(k%7)::VARCHAR ELSE '' END AS cyto
  FROM ok),

-- ===================== curator tables =====================
excl AS MATERIALIZED (
  SELECT pv::VARCHAR AS p_mim,
         CASE WHEN pv%14=0 THEN NULL ELSE 'ORCID:0000-0001' END AS excl_orcid
  FROM (SELECT DISTINCT CASE WHEN k%3=0 THEN 210000+k ELSE 100000+(k%200) END AS pv
        FROM ok) WHERE pv%7=0),
prot AS MATERIALIZED (
  SELECT DISTINCT p_mim, gene_mim FROM (
    SELECT CASE WHEN k%3=0 THEN (210000+k)::VARCHAR
                ELSE (100000+(k%200))::VARCHAR END AS p_mim,
           (300000+(k%240))::VARCHAR AS gene_mim FROM ok WHERE k%11=0
    UNION ALL
    SELECT (100200+(k%40))::VARCHAR, (300000+(k%240))::VARCHAR FROM ok WHERE k%23=0
    UNION ALL
    SELECT (700000+(k%10))::VARCHAR, (300000+(k%240))::VARCHAR FROM ok WHERE k%13=0)),
prot_attr AS MATERIALIZED (
  SELECT p_mim, gene_mim,
    (gene_mim::BIGINT - 300000 + 7000)::VARCHAR AS hgnc_id,
    CASE WHEN (p_mim::BIGINT + gene_mim::BIGINT)%2=0 THEN 'ORCID:0000-0002' END AS prot_orcid,
    CASE WHEN (p_mim::BIGINT + gene_mim::BIGINT)%3=0
         THEN 'MONDO:'||((p_mim::BIGINT + gene_mim::BIGINT)%50 + 600000)::VARCHAR END AS mondo_id
  FROM prot),

-- ===================== protected augmentation (q45 logic) =====================
-- label lookup joins the FULL titles table: at larger SFs the unique-p
-- mims (210000+k) reach the gene (300000+i) and obsolete (500000+i)
-- ranges, so those protected pairs augment with capitalize(raw pref)
titles_raw AS MATERIALIZED (
  SELECT (100000+i)::VARCHAR AS mim,
         'PHENO TITLE '||(100000+i)::VARCHAR AS pref FROM ids
  UNION ALL
  SELECT (300000+i)::VARCHAR,
         'GENE TITLE '||(300000+i)::VARCHAR||'; SYMX'||(300000+i)::VARCHAR FROM ids
  UNION ALL
  SELECT (500000+i)::VARCHAR,
         CASE WHEN i>=30 THEN 'OBSOLETE TITLE '||i::VARCHAR
              WHEN i%2=0 THEN 'MOVED TO '||(100000+i)::VARCHAR
              ELSE 'MOVED TO '||(100000+i)::VARCHAR||' AND '||(300000+i)::VARCHAR END
  FROM ids WHERE i<40),
aug AS MATERIALIZED (
  SELECT upper(substr(t.pref,1,1))||lower(substr(t.pref,2))||', ' AS p_label,
         p.p_mim, '3' AS map_key, p.gene_mim, '' AS cyto
  FROM prot_attr p
  JOIN titles_raw t ON t.mim = p.p_mim
  WHERE NOT EXISTS (SELECT 1 FROM assoc_raw e
                    WHERE e.map_key='3' AND e.p_mim=p.p_mim AND e.gene_mim=p.gene_mim)),

-- ===================== cascade tagging (q44 logic) =====================
assocs AS (
  SELECT p_label, p_mim, map_key, gene_mim FROM assoc_raw WHERE p_mim <> ''
  UNION ALL
  SELECT p_label, p_mim, map_key, gene_mim FROM aug),
counted AS (SELECT *, count(*) OVER (PARTITION BY p_mim) AS n_assocs FROM assocs),
tagged AS MATERIALIZED (
  SELECT c.*, m.mv AS map_label,
         'Evidence: ('||c.map_key||') '||m.mv AS evidence,
         (e.p_mim IS NOT NULL) AS excluded, e.excl_orcid,
         (p.p_mim IS NOT NULL) AS prot_marker, p.hgnc_id, p.prot_orcid,
         CASE WHEN p.p_mim IS NOT NULL THEN 'protected'
              WHEN c.map_key='1' THEN 'skip'
              WHEN c.map_key<>'3' OR e.p_mim IS NOT NULL THEN 'non_causal'
              WHEN c.n_assocs>1 OR regexp_matches(c.p_label, '^[\[{?]') THEN 'skip_nd'
              ELSE 'causal' END AS branch,
         CASE WHEN c.n_assocs=1 AND e.p_mim IS NULL
              THEN CASE c.map_key WHEN '2' THEN 'RO:0003303'
                                  WHEN '3' THEN 'RO:0004013'
                                  WHEN '4' THEN 'RO:0003304' END
              ELSE 'RO:0003302' END AS g2d_pred
  FROM counted c
  JOIN meanings m ON m.mk = c.map_key
  LEFT JOIN excl e ON e.p_mim = c.p_mim
  LEFT JOIN prot_attr p ON p.p_mim = c.p_mim AND p.gene_mim = c.gene_mim),
leftover AS MATERIALIZED (
  SELECT pa.* FROM prot_attr pa
  WHERE NOT EXISTS (SELECT 1 FROM tagged t
                    WHERE t.branch='protected' AND t.p_mim=pa.p_mim
                      AND t.gene_mim=pa.gene_mim)),

-- ===================== restriction-with-evidence instances =====================
rwe AS (
  SELECT 'OMIM:'||p_mim AS on_, 'RO:0004003' AS pred, 'OMIM:'||gene_mim AS svf,
         evidence AS ev, prot_orcid AS orcid FROM tagged WHERE branch='protected'
  UNION ALL
  SELECT 'OMIM:'||gene_mim, 'RO:0004013', 'OMIM:'||p_mim, evidence, prot_orcid
  FROM tagged WHERE branch='protected'
  UNION ALL
  SELECT 'OMIM:'||p_mim, 'RO:0004003', 'OMIM:'||gene_mim, evidence, NULL
  FROM tagged WHERE branch='causal'
  UNION ALL
  SELECT 'OMIM:'||gene_mim, 'RO:0004013', 'OMIM:'||p_mim, evidence, NULL
  FROM tagged WHERE branch='causal'
  UNION ALL
  SELECT 'OMIM:'||gene_mim, g2d_pred, 'OMIM:'||p_mim, evidence, excl_orcid
  FROM tagged WHERE branch='non_causal'
  UNION ALL
  SELECT 'OMIM:'||p_mim, 'RO:0004003', 'OMIM:'||gene_mim,
         'Evidence: (3) disease-defining (protected association)', prot_orcid FROM leftover
  UNION ALL
  SELECT 'OMIM:'||gene_mim, 'RO:0004013', 'OMIM:'||p_mim,
         'Evidence: (3) disease-defining (protected association)', prot_orcid FROM leftover),
rwe_ax AS MATERIALIZED (
  SELECT *, '_:'||md5('axiom|'||on_||'|rdfs:subClassOf|'||b) AS ax FROM
    (SELECT *, '_:'||md5('restriction|'||on_||'|'||pred||'|'||svf) AS b FROM rwe)),

-- ===================== plain restrictions (cyto, m2g phenotype) =====================
restr AS (
  SELECT 'OMIM:'||gene_mim AS on_, 'RO:0002525' AS pred,
         'CHR:9606chr'||cyto AS svf
  FROM (SELECT DISTINCT gene_mim, cyto FROM assoc_raw WHERE cyto <> '')
  UNION ALL
  SELECT 'NCBIGENE:'||(990000+i)::VARCHAR, 'RO:0002200', 'OMIM:'||(100000+i)::VARCHAR
  FROM ids WHERE i%6=0
  UNION ALL
  SELECT 'NCBIGENE:'||(991000+i)::VARCHAR, 'RO:0002200', 'OMIM:'||(100000+i)::VARCHAR
  FROM ids WHERE i%6=3),
restr_b AS MATERIALIZED (SELECT *, '_:'||md5('restriction|'||on_||'|'||pred||'|'||svf) AS b FROM restr),

-- ===================== entity title triples =====================
pheno_e AS MATERIALIZED (
  SELECT i, (100000+i)::VARCHAR AS mim, 'OMIM:'||(100000+i)::VARCHAR AS u,
         'pheno title '||(100000+i)::VARCHAR AS ptitle FROM ids),
gene_e AS MATERIALIZED (
  SELECT i, (300000+i)::VARCHAR AS mim, 'OMIM:'||(300000+i)::VARCHAR AS u,
         'gene title '||(300000+i)::VARCHAR AS ptitle,
         'SYMX'||(300000+i)::VARCHAR AS sym FROM ids),
obs_e AS MATERIALIZED (
  SELECT i, 'OMIM:'||(500000+i)::VARCHAR AS u,
         'OMIM:'||(100000+i)::VARCHAR AS pu, 'OMIM:'||(300000+i)::VARCHAR AS gu
  FROM ids WHERE i < 40),

-- symbol-axiom helper rows for synonyms with annotations
sym_ax AS MATERIALIZED (  -- gene pref symbols + pheno APSYM alt symbols: abbreviation axioms
  SELECT u, sym, '_:'||md5('axiom|'||u||'|oboInOwl:hasExactSynonym|'||sym) AS ax FROM gene_e
  UNION ALL
  SELECT u, 'APSYM'||i::VARCHAR,
         '_:'||md5('axiom|'||u||'|oboInOwl:hasExactSynonym|APSYM'||i::VARCHAR)
  FROM pheno_e WHERE i%7<>0 AND i%6=0),
former_ax AS MATERIALIZED (  -- FORMERLY related synonyms (deprecated axiom, no synonym type)
  SELECT u, 'old name' AS syn,
         '_:'||md5('axiom|'||u||'|oboInOwl:hasRelatedSynonym|old name') AS ax
  FROM pheno_e WHERE i%7=0),

ents AS (
  -- ===== header =====
  SELECT '<http://purl.obolibrary.org/obo/mondo/omim.owl>' AS s, 'rdf:type' AS p,
         'owl:Ontology' AS o, false AS l
  UNION ALL SELECT '<http://purl.obolibrary.org/obo/mondo/omim.owl>', 'owl:versionIRI',
         '<http://purl.obolibrary.org/obo/mondo/releases/2026-08-12/omim.owl>', false
  UNION ALL SELECT '<http://purl.obolibrary.org/obo/mondo/omim.owl>', 'owl:versionInfo',
         '2026-08-12', true
  UNION ALL SELECT 'oboInOwl:hasSynonymType', 'rdf:type', 'owl:AnnotationProperty', false
  UNION ALL SELECT 'oboInOwl:source', 'rdf:type', 'owl:AnnotationProperty', false
  UNION ALL SELECT 'MONDONS:omim_included', 'rdf:type', 'owl:AnnotationProperty', false
  UNION ALL SELECT 'OMO:0003000', 'rdf:type', 'owl:AnnotationProperty', false
  UNION ALL SELECT 'biolink:has_evidence', 'rdf:type', 'owl:AnnotationProperty', false
  UNION ALL SELECT 'NCBITaxon:9606', 'rdf:type', 'owl:Class', false
  UNION ALL SELECT 'NCBITaxon:9606', 'rdfs:label', 'Homo sapiens', true

  -- ===== phenotype entities =====
  UNION ALL SELECT u, 'rdf:type', 'owl:Class', false FROM pheno_e
  UNION ALL SELECT u, 'biolink:category', 'biolink:Disease', false
            FROM pheno_e WHERE i%4 IN (0,1,2)
  UNION ALL SELECT u, 'MONDO:exclusionReason', 'MONDO:excludeTrait', false
            FROM pheno_e WHERE i%4=3
  UNION ALL SELECT u, 'rdfs:label', ptitle, true FROM pheno_e
  UNION ALL SELECT u, 'oboInOwl:hasExactSynonym', ptitle, true FROM pheno_e
  -- alt titles: 'alt pheno' exact synonym (i%6=0 or i%3=0, unless FORMERLY)
  UNION ALL SELECT u, 'oboInOwl:hasExactSynonym', 'alt pheno', true
            FROM pheno_e WHERE i%7<>0 AND i%3=0
  -- APSYM symbol synonyms + abbreviation axiom
  UNION ALL SELECT u, 'oboInOwl:hasExactSynonym', sym, true FROM sym_ax
  UNION ALL SELECT ax, 'rdf:type', 'owl:Axiom', false FROM sym_ax
  UNION ALL SELECT ax, 'owl:annotatedSource', u, false FROM sym_ax
  UNION ALL SELECT ax, 'owl:annotatedProperty', 'oboInOwl:hasExactSynonym', false FROM sym_ax
  UNION ALL SELECT ax, 'owl:annotatedTarget', sym, true FROM sym_ax
  UNION ALL SELECT ax, 'oboInOwl:hasSynonymType', 'OMO:0003000', false FROM sym_ax
  -- FORMERLY related synonyms + deprecated axiom
  UNION ALL SELECT u, 'oboInOwl:hasRelatedSynonym', syn, true FROM former_ax
  UNION ALL SELECT ax, 'rdf:type', 'owl:Axiom', false FROM former_ax
  UNION ALL SELECT ax, 'owl:annotatedSource', u, false FROM former_ax
  UNION ALL SELECT ax, 'owl:annotatedProperty', 'oboInOwl:hasRelatedSynonym', false FROM former_ax
  UNION ALL SELECT ax, 'owl:annotatedTarget', syn, true FROM former_ax
  UNION ALL SELECT ax, 'owl:deprecated', 'true', true FROM former_ax
  -- INCLUDED comment + included titles
  UNION ALL SELECT u, 'rdfs:comment',
         'This term has one or more labels that end with '', INCLUDED''.', true
            FROM pheno_e WHERE i%5=0
  UNION ALL SELECT u, 'MONDONS:omim_included', 'inc title', true FROM pheno_e WHERE i%5=0

  -- ===== gene entities =====
  UNION ALL SELECT u, 'rdf:type', 'owl:Class', false FROM gene_e
  UNION ALL SELECT u, 'rdfs:subClassOf', 'SO:0000704', false FROM gene_e
  UNION ALL SELECT u, 'MONDO:exclusionReason', 'MONDO:nonDisease', false FROM gene_e
  UNION ALL SELECT u, 'biolink:category', 'biolink:Gene', false FROM gene_e
  UNION ALL SELECT u, 'rdfs:label', sym, true FROM gene_e
  UNION ALL SELECT u, 'oboInOwl:hasExactSynonym', ptitle, true FROM gene_e

  -- ===== obsolete entities =====
  UNION ALL SELECT u, 'rdf:type', 'owl:Class', false FROM obs_e
  UNION ALL SELECT u, 'owl:deprecated', 'true', true FROM obs_e
  UNION ALL SELECT u, 'IAO:0100001', pu, false FROM obs_e WHERE i<30 AND i%2=0
  UNION ALL SELECT u, 'oboInOwl:consider', pu, false FROM obs_e WHERE i<30 AND i%2=1
  UNION ALL SELECT u, 'oboInOwl:consider', gu, false FROM obs_e WHERE i<30 AND i%2=1
  UNION ALL SELECT u, 'rdfs:label', 'obsolete title '||i::VARCHAR, true FROM obs_e WHERE i>=30
  UNION ALL SELECT u, 'oboInOwl:hasExactSynonym', 'obsolete title '||i::VARCHAR, true
            FROM obs_e WHERE i>=30

  -- ===== cascade restriction-with-evidence =====
  UNION ALL SELECT b, 'rdf:type', 'owl:Restriction', false FROM rwe_ax
  UNION ALL SELECT b, 'owl:onProperty', pred, false FROM rwe_ax
  UNION ALL SELECT b, 'owl:someValuesFrom', svf, false FROM rwe_ax
  UNION ALL SELECT on_, 'rdfs:subClassOf', b, false FROM rwe_ax
  UNION ALL SELECT ax, 'rdf:type', 'owl:Axiom', false FROM rwe_ax
  UNION ALL SELECT ax, 'owl:annotatedSource', on_, false FROM rwe_ax
  UNION ALL SELECT ax, 'owl:annotatedProperty', 'rdfs:subClassOf', false FROM rwe_ax
  UNION ALL SELECT ax, 'owl:annotatedTarget', b, false FROM rwe_ax
  UNION ALL SELECT ax, 'biolink:has_evidence', ev, true FROM rwe_ax
  UNION ALL SELECT ax, 'rdfs:comment', ev, true FROM rwe_ax
  UNION ALL SELECT ax, 'oboInOwl:source', orcid, false FROM rwe_ax WHERE orcid IS NOT NULL
  -- protected + leftover HGNC exactMatch
  UNION ALL SELECT 'OMIM:'||gene_mim, 'skos:exactMatch', 'HGNC:'||hgnc_id, false
            FROM tagged WHERE branch='protected'
  UNION ALL SELECT 'OMIM:'||gene_mim, 'skos:exactMatch', 'HGNC:'||hgnc_id, false FROM leftover
  -- protected MONDO exactMatch
  UNION ALL SELECT DISTINCT 'OMIM:'||p_mim, 'skos:exactMatch', mondo_id, false
            FROM prot_attr WHERE mondo_id IS NOT NULL

  -- ===== plain restrictions (cyto + m2g phenotype) =====
  UNION ALL SELECT b, 'rdf:type', 'owl:Restriction', false FROM restr_b
  UNION ALL SELECT b, 'owl:onProperty', pred, false FROM restr_b
  UNION ALL SELECT b, 'owl:someValuesFrom', svf, false FROM restr_b
  UNION ALL SELECT on_, 'rdfs:subClassOf', b, false FROM restr_b

  -- ===== mim2gene gene rows =====
  UNION ALL SELECT 'OMIM:'||(300000+i)::VARCHAR, 'skos:exactMatch',
         'NCBIGENE:'||(880000+i)::VARCHAR, false FROM ids WHERE i%10<>0

  -- ===== hgnc merged map =====
  UNION ALL SELECT 'OMIM:'||mim, 'skos:exactMatch', 'HGNC_symbol:'||symbol, false
            FROM merged
  UNION ALL SELECT 'OMIM:'||mim, 'skos:exactMatch',
         'HGNC:'||(mim::BIGINT - 300000 + 7000)::VARCHAR, false
            FROM merged WHERE symbol = 'SYMX'||mim

  -- ===== phenotypic series =====
  UNION ALL SELECT 'OMIMPS:'||(910000+i)::VARCHAR, 'rdf:type', 'owl:Class', false
            FROM ids WHERE i<12
  UNION ALL SELECT 'OMIMPS:'||(910000+i)::VARCHAR, 'rdfs:label',
         'SERIES TITLE '||i::VARCHAR, true FROM ids WHERE i<12
  UNION ALL SELECT 'OMIMPS:'||(910000+i)::VARCHAR, 'biolink:category',
         'biolink:Disease', false FROM ids WHERE i<12
  UNION ALL SELECT 'OMIM:'||(100000+i)::VARCHAR, 'rdfs:subClassOf',
         'OMIMPS:'||(910000+(i%12))::VARCHAR, false FROM ids

  -- ===== links =====
  UNION ALL SELECT 'OMIM:'||(100000+i)::VARCHAR, 'IAO:0000142',
         'PMID:91'||i::VARCHAR, false FROM ids WHERE i%3=0
  UNION ALL SELECT 'OMIM:'||(100000+i)::VARCHAR, 'IAO:0000142',
         'PMID:92'||i::VARCHAR, false FROM ids WHERE i%3=0
  UNION ALL SELECT 'OMIM:'||(100000+i)::VARCHAR, 'skos:exactMatch',
         'UMLS:C'||(100000+i)::VARCHAR, false FROM ids WHERE i%2=0
  UNION ALL SELECT 'OMIM:'||(100000+i)::VARCHAR, 'skos:exactMatch',
         'UMLS:D'||(100000+i)::VARCHAR, false FROM ids WHERE i%2=0
  UNION ALL SELECT 'OMIM:'||(100000+i)::VARCHAR, 'skos:exactMatch',
         'ORPHANET:ORPH'||i::VARCHAR, false FROM ids WHERE i%4=0),

map1 AS MATERIALIZED (
  SELECT (300000+i)::VARCHAR AS mim, 'SYMX'||(300000+i)::VARCHAR AS symbol
  FROM ids WHERE i%3<>0
  UNION
  SELECT DISTINCT gene_mim, 'SYMX'||gene_mim FROM prot
  WHERE (gene_mim::BIGINT - 300000)%3=0),
map2 AS MATERIALIZED (
  SELECT (300000+i)::VARCHAR AS mim,
         CASE WHEN i%10=0 THEN 'CONFL'||(300000+i)::VARCHAR
              ELSE 'SYMX'||(300000+i)::VARCHAR END AS symbol
  FROM ids WHERE i%2=0),
merged AS MATERIALIZED (
  SELECT coalesce(m1.mim, m2.mim) AS mim, coalesce(m1.symbol, m2.symbol) AS symbol
  FROM map1 m1 FULL OUTER JOIN map2 m2 ON m1.mim = m2.mim
  WHERE m1.symbol IS NULL OR m2.symbol IS NULL OR m1.symbol = m2.symbol),

base AS MATERIALIZED (SELECT DISTINCT s, p, o, l FROM ents),
matches AS (
  SELECT DISTINCT sub.s AS cls, hg.o AS hgnc
  FROM base sub
  JOIN base op ON op.p='owl:onProperty' AND op.o='RO:0004003' AND op.s=sub.o
  JOIN base sv ON sv.p='owl:someValuesFrom' AND sv.s=sub.o
  JOIN base hg ON hg.p='skos:exactMatch' AND starts_with(hg.o, 'HGNC:') AND hg.s=sv.o
  WHERE sub.p='rdfs:subClassOf'),
ins AS (
  SELECT *, '_:'||md5('restriction|'||cls||'|RO:0004003|'||hgnc) AS b FROM matches),
inserted AS (
  SELECT hgnc AS s, 'rdf:type' AS p, 'owl:Class' AS o, false AS l FROM ins
  UNION ALL SELECT b, 'rdf:type', 'owl:Restriction', false FROM ins
  UNION ALL SELECT b, 'owl:onProperty', 'RO:0004003', false FROM ins
  UNION ALL SELECT b, 'owl:someValuesFrom', hgnc, false FROM ins
  UNION ALL SELECT cls, 'rdfs:subClassOf', b, false FROM ins)

SELECT DISTINCT s, p, o, l AS "oIsLiteral"
FROM (SELECT * FROM base UNION ALL SELECT * FROM inserted)
ORDER BY 1, 2, 3, 4

    """),
    // e2e CORRECTNESS gate, not a throughput row: the benched operator
    // family already covers every stage (q44/q45/q46/q47/q49); the full
    // composition costs ~20 s at sf0.1 and would dominate the bench.
    benchSkip = true)

  val q49HgncMerge = QueryDef(
    "q49_hgnc_merge",
    (s, d) => {
      val p = Tables.part(s, d)
      val m1 = p.filter(col("p_partkey") % 3 =!= 0)
        .select((lit(100000) + col("p_partkey")).cast("string").as("mim"),
          concat(lit("S"), (col("p_partkey") % 50).cast("string")).as("symbol"))
      val m2 = p.filter(col("p_partkey") % 4 =!= 1)
        .select((lit(100000) + col("p_partkey")).cast("string").as("mim"),
          when(col("p_partkey") % 2 === 0,
            concat(lit("S"), (col("p_partkey") % 50).cast("string")))
            .otherwise(concat(lit("T"), (col("p_partkey") % 50).cast("string")))
            .as("symbol"))
      val ids = s.range(0, 50).select(
        concat(lit("S"), col("id").cast("string")).as("symbol"),
        concat(lit("HGNC:"), col("id").cast("string")).as("hgnc_id"))
      graft.pipeline.OmimPipeline.hgncMapMerged(m1, m2)
        .join(broadcast(ids), Seq("symbol"), "left")
        .select(col("mim"), col("symbol"), col("hgnc_id"))
        .orderBy("mim", "symbol")
    },
    Some("""
      WITH m1 AS (
        SELECT (100000 + p_partkey)::VARCHAR AS mim,
               'S' || (p_partkey % 50)::VARCHAR AS sym1
        FROM part WHERE p_partkey % 3 <> 0),
      m2 AS (
        SELECT (100000 + p_partkey)::VARCHAR AS mim,
               CASE WHEN p_partkey % 2 = 0 THEN 'S' || (p_partkey % 50)::VARCHAR
                    ELSE 'T' || (p_partkey % 50)::VARCHAR END AS sym2
        FROM part WHERE p_partkey % 4 <> 1),
      merged AS (
        SELECT coalesce(m1.mim, m2.mim) AS mim,
               coalesce(sym1, sym2) AS symbol
        FROM m1 FULL OUTER JOIN m2 ON m1.mim = m2.mim
        WHERE sym1 IS NULL OR sym2 IS NULL OR sym1 = sym2),
      ids AS (
        SELECT 'S' || i::VARCHAR AS symbol, 'HGNC:' || i::VARCHAR AS hgnc_id
        FROM (SELECT unnest(range(50)) AS i))
      SELECT m.mim, m.symbol, ids.hgnc_id
      FROM merged m LEFT JOIN ids USING (symbol)
      ORDER BY mim, symbol
    """))

  /** The clinicalSynopsis CONSUMER (S5's declared-but-unqueried surface
    * until now): API-envelope JSON documents are synthesized in-plan
    * with a deterministic subset of synopsis sections set, parsed with
    * the full explicit [[graft.entry.EntrySchema]] (no inference), and
    * projected through [[graft.entry.EntryTransform.clinicalSynopses]] —
    * whose presence profile sums over EVERY `<section>Exists` field of
    * the 158-field struct. DuckDB recomputes all values from the
    * generating formulas; a schema drift or mis-bound field changes
    * `n_sections_present` and breaks the hash. */
  val q59ClinicalSynopsis = QueryDef(
    "q59_clinical_synopsis",
    (s, d) => {
      val id = col("id")
      val ids = Tables.orders(s, d)
        .select((col("o_orderkey") % 200).cast("long").as("id")).distinct()
      val hasSyn = id % 5 =!= 0
      def flag(sh: Int) = (id + sh) % 3 === 0
      def b(c: Column) = when(c, "true").otherwise("false")
      val inh = when(id % 2 === 0, "Autosomal dominant")
        .otherwise("Autosomal recessive")
      val synopsis = concat(
        lit(",\"clinicalSynopsis\":{\"inheritanceExists\":"), b(flag(0)),
        when(flag(0), concat(lit(",\"inheritance\":\""), inh, lit("\"")))
          .otherwise(""),
        lit(",\"molecularBasisExists\":"), b(flag(1)),
        when(flag(1), concat(lit(",\"molecularBasis\":\"Caused by mutation in GENE"),
          id.cast("string"), lit("\""))).otherwise(""),
        lit(",\"cardiovascularExists\":"), b(flag(2)),
        lit(",\"growthExists\":"), b(flag(3)),
        lit(",\"headAndNeckExists\":"), b(flag(4)),
        lit(",\"neurologicExists\":"), b(flag(5)),
        lit(",\"skeletalExists\":"), b(flag(6)),
        lit(",\"immunologyExists\":"), b(flag(7)),
        lit("}"))
      val json = concat(
        lit("{\"omim\":{\"entryList\":[{\"entry\":{\"mimNumber\":"),
        (id + 100000).cast("string"),
        lit(",\"clinicalSynopsisExists\":"), b(hasSyn),
        when(hasSyn, synopsis).otherwise(""),
        lit("}}]}}"))
      val envelope = ids
        .select(from_json(json, graft.entry.EntrySchema.envelope).as("doc"))
        .select(col("doc.*"))
      graft.entry.EntryTransform.clinicalSynopses(envelope).orderBy("mim")
    },
    // benchSkip: a 200-row fixture whose measured cost is the CONSTANT
    // from_json binding of the 158-field clinicalSynopsis schema, not
    // data volume — it topped the r3 bench table (2.1 s) and would mask
    // real movement in the scale-relevant rows; the oracle row remains.
    Some("""
      WITH ids AS (SELECT DISTINCT (o_orderkey % 200)::BIGINT AS id FROM orders),
      f AS (
        SELECT id, 100000 + id AS mim, (id % 5 <> 0) AS hasyn,
               ((id+0)%3=0) AS f0, ((id+1)%3=0) AS f1, ((id+2)%3=0) AS f2,
               ((id+3)%3=0) AS f3, ((id+4)%3=0) AS f4, ((id+5)%3=0) AS f5,
               ((id+6)%3=0) AS f6, ((id+7)%3=0) AS f7
        FROM ids)
      SELECT mim, hasyn AS synopsis_exists,
             CASE WHEN hasyn AND f0
                  THEN CASE WHEN id%2=0 THEN 'Autosomal dominant'
                            ELSE 'Autosomal recessive' END END AS inheritance,
             (hasyn AND f0) AS inheritance_exists,
             CASE WHEN hasyn AND f1 THEN 'Caused by mutation in GENE'||id::VARCHAR
                  END AS molecular_basis,
             (hasyn AND f1) AS molecular_basis_exists,
             (CASE WHEN hasyn THEN f0::INT+f1::INT+f2::INT+f3::INT+f4::INT+f5::INT+f6::INT+f7::INT
                   ELSE 0 END) AS n_sections_present
      FROM f
      ORDER BY mim
    """),
    benchSkip = true)

  val all: Seq[QueryDef] = Seq(
    q29Roman, q30TitleCleanup, q31SparqlChain, q32MimRepair,
    q33PhenotypeField, q34CacheUpsert, q35TumblingWindow, q36Sessionize,
    q38SaltedSkewJoin, q39JsonExtract, q40OmimBuild, q44CascadeTags,
    q45ProtectedAugment, q46CacheRefresh, q47ReviewCases, q48SlidingWindow,
    q49HgncMerge, q57BuildE2e, q59ClinicalSynopsis)
}
