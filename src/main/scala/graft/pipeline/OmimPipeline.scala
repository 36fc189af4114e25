package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.OmimFunctions._
import graft.graph.TripleGen
import graft.graph.TripleGen._
import graft.model.{OmimType, Triple}

/** The reference pipeline (omim2obo/main.py:227-528) as a DAG of DataFrame
  * transforms — SURVEY.md §3.1 stages 3-6, set-wise instead of row-loops.
  *
  * Scale shape: every curator/dimension input is broadcast (all « 2 GB);
  * the fact-side tables (titles, morbidmap) stream through flatMap /
  * when-cascade projections; the only shuffles are the per-phenotype count
  * window (A3/W1) and final sink sorts (W3).
  */
object OmimPipeline {

  // ---------------------------------------------------------------- titles

  /** mimTitles raw rows → typed rows + replacement lists (ref:
    * parse_mim_titles, omim_txt_parser.py:311-346). Unknown prefixes are
    * dropped (reference logs an error and skips). Expected input columns:
    * prefix, mim, pref_titles, alt_titles, inc_titles. */
  def parseMimTitles(raw: DataFrame): DataFrame = {
    val typeMap = OmimType.declaredToName
      .flatMap { case (k, v) => Seq(lit(k), lit(v)) }.toSeq
    raw.select(
        trim(coalesce(col("prefix"), lit(""))).as("declared"),
        trim(coalesce(col("mim"), lit(""))).as("mim"),
        trim(coalesce(col("pref_titles"), lit(""))).as("pref_titles"),
        trim(coalesce(col("alt_titles"), lit(""))).as("alt_titles"),
        trim(coalesce(col("inc_titles"), lit(""))).as("inc_titles"))
      .filter(col("mim") =!= "")
      .withColumn("omim_type", element_at(map(typeMap: _*), col("declared")))
      .filter(col("omim_type").isNotNull)
      .withColumn("replaced_by", movedToReplacements(col("declared"), col("pref_titles")))
      .drop("declared")
  }

  /** Per-MIM entity triples — the whole main.py:271-374 loop as one typed
    * flatMap (map-only stage; G2-G6). */
  def entityTriples(titles: DataFrame, caps: Map[String, String]): Dataset[Triple] = {
    val spark = titles.sparkSession
    import spark.implicits._
    titles
      .select("omim_type", "mim", "pref_titles", "alt_titles", "inc_titles", "replaced_by")
      .as[(String, String, String, String, String, Seq[String])]
      .flatMap { case (t, mim, pref, alt, inc, repl) =>
        TripleGen.entityTriples(t, mim, pref, alt, inc, repl, caps)
      }
  }

  // ------------------------------------------------------------- morbidmap

  /** morbidmap raw rows → flat association table (ref: parse_morbid_map,
    * omim_txt_parser.py:441-495 — flat relational form instead of the
    * nested per-gene dict; A1's nesting is a groupBy when needed).
    * Expected input columns: phenotype, gene_symbols, gene_mim, cyto. */
  def parseMorbidMap(raw: DataFrame): DataFrame =
    raw.select(
        coalesce(col("phenotype"), lit("")).as("phenotype_field"),
        split(coalesce(col("gene_symbols"), lit("")), ", ").as("gene_symbols"),
        trim(coalesce(col("gene_mim"), lit(""))).as("gene_mim"),
        trim(coalesce(col("cyto"), lit(""))).as("cyto_location"))
      .withColumn("pf", parsePhenotypeField(col("phenotype_field")))
      .select(
        col("pf.label").as("p_label"),
        col("pf.p_mim").as("p_mim"),
        col("pf.key").as("map_key"),
        col("gene_symbols"), col("gene_mim"), col("cyto_location"),
        element_at(mappingKeyMeaning, col("pf.key")).as("map_label"))

  // ------------------------------------------- protected augmentation (J9/J10)

  /** Synthesize morbidmap rows for protected associations absent from the
    * download (ref: update_mim_file_with_protected,
    * omim_txt_parser.py:124-173 — J9/J10/SO1 as one table-level flow).
    *
    * The 3-key dup check (:150-157) skips protected pairs already present
    * as a disease-defining (map key 3) association; it is computed ONCE
    * against the unaugmented parse — the reference re-reads and re-parses
    * the raw morbidmap file per protected row (SURVEY.md §4's noted fix).
    * The label lookup (:160-164) takes the phenotype's preferred title
    * with Python `str.capitalize` semantics (first char upper, REST
    * LOWER); the synthesized phenotype field `<label>, <mim> (3)` goes
    * through the same [[parseMorbidMap]] as downloaded rows, so parse
    * quirks stay identical. Inner joins on label/symbol: a protected row
    * whose phenotype has no title or whose hgnc_id is unknown would
    * KeyError in the reference (:160-164, :146), so such rows cannot
    * exist in a build the reference completes; here they drop.
    *
    * Scale shape: protected is a curator table («2 GB, broadcast-sized);
    * the anti-join's morbidmap side reduces to distinct key-3 pairs
    * (broadcast), so the downloaded fact table streams through exactly
    * once. Output = parse schema + `is_added_protection` (the reference's
    * `-with-header.tsv` flag column). */
  def augmentMorbidMap(parsed: DataFrame, protected_ : DataFrame,
                       titles: DataFrame, symbolToId: DataFrame): DataFrame = {
    val existing = parsed.filter(col("map_key") === "3")
      .select("p_mim", "gene_mim").distinct()
    val labels = titles.select(col("mim").as("p_mim"), col("pref_titles"))
      .dropDuplicates("p_mim")
    val synthesizedRaw = protected_
      .select("p_mim", "gene_mim", "hgnc_id")
      .join(broadcast(existing), Seq("p_mim", "gene_mim"), "left_anti")
      .join(broadcast(labels), Seq("p_mim"))
      .join(broadcast(idToSymbol(symbolToId)), Seq("hgnc_id"))
      .select(
        concat(
          upper(substring(col("pref_titles"), 1, 1)),
          lower(substring(col("pref_titles"), 2, Int.MaxValue)),
          lit(", "), col("p_mim"), lit(" (3)")).as("phenotype"),
        col("symbol").as("gene_symbols"),
        col("gene_mim"),
        lit("").as("cyto"))
    parsed.withColumn("is_added_protection", lit(false))
      .unionByName(parseMorbidMap(synthesizedRaw)
        .withColumn("is_added_protection", lit(true)))
  }

  /** The HGNC (symbol, id) map keyed by the bare id (the curator tables
    * store `hgnc_id` without the `HGNC:` prefix), one symbol per id. */
  private def idToSymbol(symbolToId: DataFrame): DataFrame =
    symbolToId.select(
        regexp_replace(col("hgnc_id"), "^HGNC:", "").as("hgnc_id"), col("symbol"))
      .dropDuplicates("hgnc_id")

  /** Same flow for mim2gene (ref: update_mim_file_with_protected,
    * omim_txt_parser.py:174-193): a protected gene whose (mim, symbol)
    * pair is absent gets a synthesized 'gene' row with empty Entrez and
    * Ensembl ids. Missing symbols compare as '' (:139 fillna). */
  def augmentMim2Gene(raw: DataFrame, protected_ : DataFrame,
                      symbolToId: DataFrame): DataFrame = {
    val base = raw.select(
      col("mim"), col("entry_type"), col("entrez_id"),
      col("hgnc_symbol"), col("ensembl_id"))
    val existing = base.select(col("mim").as("gene_mim"),
      coalesce(col("hgnc_symbol"), lit("")).as("symbol")).distinct()
    val synthesized = protected_.select("gene_mim", "hgnc_id")
      .join(broadcast(idToSymbol(symbolToId)), Seq("hgnc_id"))
      .join(broadcast(existing), Seq("gene_mim", "symbol"), "left_anti")
      .select(col("gene_mim").as("mim"), lit("gene").as("entry_type"),
        lit("").as("entrez_id"), col("symbol").as("hgnc_symbol"),
        lit("").as("ensembl_id"))
    base.withColumn("is_added_protection", lit(false))
      .unionByName(synthesized.withColumn("is_added_protection", lit(true)))
  }

  /** Cyto-location restrictions (ref: main.py:412-415, G10): one
    * restriction per distinct gene with a cyto location. */
  def cytoTriples(morbid: DataFrame): Dataset[Triple] = {
    val spark = morbid.sparkSession
    import spark.implicits._
    morbid.filter(col("cyto_location") =!= "")
      .select("gene_mim", "cyto_location").distinct()
      .as[(String, String)]
      .flatMap { case (geneMim, cyto) =>
        restriction(IsSubsequenceOf, s"CHR:9606chr$cyto", omim(geneMim))._2
      }
  }

  // ---------------------------------------------------- association cascade

  /** Decision-table tags for main.py:429-488. Each association row lands in
    * exactly ONE branch (SURVEY.md §7.4 property; asserted in tests). */
  val BranchProtected = "protected"
  val BranchSkipNoMimOrKey1 = "skip_no_mim_or_key1"
  val BranchNonCausal = "non_causal"
  val BranchSkipNonDefinitive = "skip_non_definitive"
  val BranchCausal = "causal"

  /** Tag every phenotype-gene association with its cascade branch.
    *
    * Inputs: `assocs` = parseMorbidMap output filtered to p_mim != ''
    * (get_phenotype_genes drops no-MIM rows — J2); `exclusions` (p_mim,
    * excl_orcid); `protected_` (p_mim, gene_mim, hgnc_id, prot_orcid).
    * Output adds: n_assocs (per-phenotype count window), excluded flag,
    * branch tag, g2d predicate for the non-causal branch.
    */
  def tagAssociations(assocs: DataFrame, exclusions: DataFrame,
                      protected_ : DataFrame): DataFrame = {
    val keyPreds = graft.text.MimFields.mappingKeyPredicates
      .flatMap { case (k, v) => Seq(lit(k), lit(v)) }.toSeq
    val wCount = Window.partitionBy(col("p_mim"))
    assocs
      // per-phenotype count BEFORE the curator joins — and the curator
      // sides deduplicated on their join keys (the reference loads them
      // into dicts, so a duplicate curator row can never multiply assoc
      // rows or inflate len(assocs))
      .withColumn("n_assocs", count(lit(1)).over(wCount))
      // marker columns distinguish "present in curator table" from
      // "present with a null attribute" after the left joins
      .join(broadcast(exclusions.dropDuplicates("p_mim")
        .withColumn("excl_marker", lit(true))),
        Seq("p_mim"), "left")
      .join(broadcast(protected_
        .select(col("p_mim"), col("gene_mim"), col("hgnc_id"), col("prot_orcid"))
        .dropDuplicates("p_mim", "gene_mim")
        .withColumn("prot_marker", lit(true))),
        Seq("p_mim", "gene_mim"), "left")
      .withColumn("excluded", col("excl_marker").isNotNull)
      .withColumn("branch",
        when(col("prot_marker").isNotNull, BranchProtected)
          .when(col("p_mim") === "" || col("map_key") === "1", BranchSkipNoMimOrKey1)
          .when(col("map_key") =!= "3" || col("excluded"), BranchNonCausal)
          .when(col("n_assocs") > 1 || !isDefinitive(col("p_label")), BranchSkipNonDefinitive)
          .otherwise(BranchCausal))
      .withColumn("g2d_pred",
        when(col("branch") === BranchNonCausal,
          when(col("n_assocs") === 1 && !col("excluded"),
            element_at(map(keyPreds: _*), col("map_key")))
            .otherwise(lit(CausesOrContributes))))
      .withColumn("evidence",
        concat(lit("Evidence: ("), col("map_key"), lit(") "),
          coalesce(col("map_label"), lit(""))))
  }

  /** Triples from the tagged cascade (G11-G13) + leftover protected
    * associations (J5) + protected MONDO exactMatches (G14). */
  def cascadeTriples(tagged: DataFrame, protected_ : DataFrame): Dataset[Triple] = {
    val spark = tagged.sparkSession
    import spark.implicits._

    val fromMorbid = tagged
      .filter(col("branch").isin(BranchProtected, BranchNonCausal, BranchCausal))
      .select(col("branch"), col("p_mim"), col("gene_mim"), col("evidence"),
        col("g2d_pred"), col("hgnc_id"), col("prot_orcid"), col("excl_orcid"))
      .as[(String, String, String, String, Option[String], Option[String],
        Option[String], Option[String])]
      .flatMap { case (branch, pMim, geneMim, evidence, g2dPred, hgncId, protOrcid, exclOrcid) =>
        branch match {
          case BranchProtected =>
            geneDiseaseAssociations(geneMim, pMim, evidence, protOrcid) :+
              Triple.uri(omim(geneMim), SkosExactMatch, s"HGNC:${hgncId.get}")
          case BranchNonCausal =>
            restrictionWithEvidence(g2dPred.get, omim(pMim), omim(geneMim),
              evidence, exclOrcid)
          case BranchCausal =>
            geneDiseaseAssociations(geneMim, pMim, evidence, None)
          case _ => Seq.empty
        }
      }

    // Protected associations never seen in morbidmap (main.py:483-488, J5)
    val processed = tagged.filter(col("branch") === BranchProtected)
      .select("p_mim", "gene_mim").distinct()
    val leftover = protected_
      .join(processed, Seq("p_mim", "gene_mim"), "left_anti")
      .select("p_mim", "gene_mim", "hgnc_id", "prot_orcid")
      .as[(String, String, String, Option[String])]
      .flatMap { case (pMim, geneMim, hgncId, orcid) =>
        val ev = "Evidence: (3) disease-defining (protected association)"
        geneDiseaseAssociations(geneMim, pMim, ev, orcid) :+
          Triple.uri(omim(geneMim), SkosExactMatch, s"HGNC:$hgncId")
      }

    // Protected MONDO exactMatches (main.py:492-497, G14)
    val mondo = protected_
      .filter(col("mondo_id").isNotNull && col("p_mim").isNotNull)
      .select(col("p_mim"), substring_index(col("mondo_id"), ":", -1).as("mondo"))
      .distinct()
      .as[(String, String)]
      .map { case (pMim, mondoId) =>
        Triple.uri(omim(pMim), SkosExactMatch, s"MONDO:$mondoId")
      }

    fromMorbid.union(leftover).union(mondo)
  }

  /** Susceptibility rows (main.py:434-438, F5/J11): labels starting '{'
    * (after strip), joined to the SSSOM omim→mondo multimap. Output:
    * (mondo_id, omim_curie) distinct; the sink orders it. */
  def susceptibilityRows(assocs: DataFrame, omimToMondo: DataFrame): DataFrame =
    assocs.filter(trim(col("p_label")).startsWith("{"))
      .select("p_mim").distinct()
      .join(broadcast(omimToMondo), col("p_mim") === omimToMondo("omim"))
      .select(explode(col("mondo_ids")).as("mondo_id"),
        concat(lit("OMIM:"), col("p_mim")).as("omim_id"))
      .distinct()

  /** Review cases (ref: log_review_cases, omim_entry_parser.py:444-482,
    * G16): 5 classes over CAUSAL-branch rows. Self-referential numbering
    * uses dense_rank over p_mim (W2) instead of the reference's mutable
    * counter — deterministic, same set of rows; the review.tsv sink sorts
    * by (classCode, value) either way. `geneAssocs` is the full morbidmap
    * table (for self-ref detection: the phenotype MIM reappears as a gene
    * MIM with an empty-p_mim association, J12); `types` maps mim→type. */
  def reviewCases(tagged: DataFrame, allAssocs: DataFrame, types: DataFrame): DataFrame = {
    // The causal sliver feeds SIX report branches below (digenic,
    // somatic, the self-ref join, the distinct-rank numbering, and the
    // two typed branches): left lazy, each branch re-reads the tagging
    // window's exchange (measured: the 10.6 MB per-mim count exchange
    // read twice and re-aggregated per consumer at sf0.1). The filter
    // makes it a bounded sliver — exactly the multi-consumer shape
    // [[graft.operators.Barrier.cut]] exists for (the q86 precedent).
    val causal = graft.operators.Barrier.cut(
      tagged.filter(col("branch") === BranchCausal)
      .withColumn("basic", concat(
        lit("(Phenotype: "), col("p_mim"), lit(" "), col("p_label"),
        lit("), (Map key: "), col("map_key"), lit("), (Gene: "), col("gene_mim"), lit(")"))))

    val digenic = causal.filter(lower(col("p_label")).contains("digenic"))
      .select(lit(1).as("classCode"), col("basic").as("value"))
    val somatic = causal.filter(lower(col("p_label")).contains("somatic"))
      .select(lit(3).as("classCode"), col("basic").as("value"))

    // Self-referential: p_mim is also a gene_mim whose assoc has no p_mim
    val selfRefAssocs = allAssocs.filter(col("p_mim") === "")
      .select(col("gene_mim").as("sr_gene"), col("p_label").as("sr_label"),
        col("map_key").as("sr_key"))
    val selfRef = causal.join(selfRefAssocs, causal("p_mim") === col("sr_gene"))
    // Case numbering runs on the DISTINCT p_mim set (one row per case,
    // bounded) rather than a global window over the join output — see
    // graft.operators.Windows.distinctRank's scale guard.
    val selfRefNumbered = selfRef.join(
      broadcast(graft.operators.Windows.distinctRank(selfRef, "p_mim", "case_i")),
      Seq("p_mim"))
    val selfRefHead = selfRefNumbered.select(col("p_mim"), col("case_i"), col("basic"))
      .distinct()
      .select(lit(2).as("classCode"),
        concat(col("case_i"), lit(": "), col("basic")).as("value"))
    val selfRefDetail = selfRefNumbered
      .select(lit(2).as("classCode"),
        concat(col("case_i"), lit(": (Phenotype: "), col("sr_label"),
          lit("), (Map key: "), col("sr_key"), lit("), (Gene: "), col("p_mim"),
          lit(")")).as("value"))

    // Phenotype-is-gene / type-error cases
    val typed = causal.join(broadcast(types),
      causal("p_mim") === types("mim"), "left")
    val typeErrBase = typed.withColumn("terr", concat(
      lit("(Phenotype MIM type "), col("omim_type"), lit("), "), col("basic")))
    val phenoIsGene = typeErrBase.filter(col("omim_type") === "GENE")
      .select(lit(4).as("classCode"), col("terr").as("value"))
    val typeError = typeErrBase
      .filter(col("omim_type").isin("OBSOLETE", "SUSPECTED", "HAS_AFFECTED_FEATURE"))
      .select(lit(5).as("classCode"), col("terr").as("value"))

    val nameMap = map(
      lit(1), lit("D2G: digenic"), lit(2), lit("D2G: self-referential"),
      lit(3), lit("D2G: somatic"), lit(4), lit("D2G: Phenotype is gene"),
      lit(5), lit("D2G: Phenotype type error"))

    digenic.unionByName(somatic).unionByName(selfRefHead)
      .unionByName(selfRefDetail).unionByName(phenoIsGene).unionByName(typeError)
      .select(col("classCode"),
        element_at(nameMap, col("classCode")).as("classShortName"), col("value"))
  }

  // --------------------------------------------------------------- mim2gene

  /** mim2gene routing (ref: parse_mim2gene, omim_txt_parser.py:404-438,
    * F3/G7/G8): gene rows → skos:exactMatch NCBIGENE; phenotype rows →
    * has-phenotype restriction on the NCBI gene. Expected input columns:
    * mim, entry_type, entrez_id. */
  def mim2geneTriples(raw: DataFrame): Dataset[Triple] = {
    val spark = raw.sparkSession
    import spark.implicits._
    raw.select(
        trim(col("mim")).as("mim"),
        trim(col("entry_type")).as("entry_type"),
        trim(coalesce(col("entrez_id"), lit(""))).as("entrez_id"))
      .filter(col("entrez_id") =!= "")
      .filter(col("entry_type").isin(
        "gene", "gene/phenotype", "phenotype", "predominantly phenotypes"))
      .as[(String, String, String)]
      .flatMap { case (mim, entryType, entrez) =>
        if (entryType == "gene" || entryType == "gene/phenotype")
          Seq(Triple.uri(omim(mim), SkosExactMatch, s"NCBIGENE:$entrez"))
        else
          restriction(HasPhenotype, omim(mim), s"NCBIGENE:$entrez")._2
      }
  }

  /** Conflict-dropping union of two mim→symbol maps (ref: parse_mim2gene
    * merge, omim_txt_parser.py:429-437, J7): a key mapped to two different
    * symbols is dropped (warn → QC count upstream). */
  def hgncMapMerged(m1: DataFrame, m2: DataFrame): DataFrame = {
    val a = m1.select(col("mim"), col("symbol").as("sym1"))
    val b = m2.select(col("mim"), col("symbol").as("sym2"))
    a.join(b, Seq("mim"), "full_outer")
      .filter(col("sym1").isNull || col("sym2").isNull || col("sym1") === col("sym2"))
      .select(col("mim"), coalesce(col("sym1"), col("sym2")).as("symbol"))
  }

  /** HGNC equivalence triples (ref: main.py:390-394, J6/G7): mim →
    * exactMatch HGNC_symbol:<sym>, plus exactMatch HGNC:<id> when the
    * symbol resolves via hgnc_complete_set (chained broadcast joins). */
  def hgncTriples(hgncMap: DataFrame, symbolToId: DataFrame): Dataset[Triple] = {
    val spark = hgncMap.sparkSession
    import spark.implicits._
    hgncMap
      .join(broadcast(symbolToId.select(col("symbol"), col("hgnc_id"))),
        Seq("symbol"), "left")
      .select("mim", "symbol", "hgnc_id")
      .as[(String, String, Option[String])]
      .flatMap { case (mim, sym, id) =>
        Triple.uri(omim(mim), SkosExactMatch, s"HGNC_symbol:$sym") +:
          id.map(i => Triple.uri(omim(mim), SkosExactMatch,
            s"HGNC:${i.stripPrefix("HGNC:")}")).toSeq
      }
  }

  /** HGNC symbol→id lookup with the >1%-bad-rows guard (ref:
    * get_hgnc_symbol_id_map, omim_txt_parser.py:615-655, A11): rows missing
    * either column are dropped; the job fails if more than 1% were bad
    * (observe()-style QC as a hard assert). */
  def hgncSymbolIdMap(raw: DataFrame): DataFrame = {
    val goodCond = col("hgnc_id").isNotNull && col("symbol").isNotNull &&
      trim(col("symbol")) =!= ""
    // one streamed pass for the guard (bad + total together)
    val m = raw.select(
      sum(when(goodCond, 0L).otherwise(1L)).as("bad"),
      count(lit(1)).as("total")).first()
    val bad = Option(m.getAs[Long]("bad")).getOrElse(0L)
    graft.io.AuxSources.assertBadRowRate(bad, m.getAs[Long]("total"))
    raw.filter(goodCond).select(col("symbol"), col("hgnc_id"))
  }

  /** Equivalency cliques (ref: analyses/equivalency_cliques.py:68-94,
    * J14): rows sharing an approved gene symbol are listed on each other.
    * Window + collect_set over the symbol partition — no self-join
    * materialization. Output: (mim, symbol, peers sorted-without-self,
    * n_peers). */
  def equivalencyCliques(mim2gene: DataFrame): DataFrame = {
    val w = Window.partitionBy("symbol")
    mim2gene
      .filter(coalesce(col("symbol"), lit("")) =!= "")
      .withColumn("clique", collect_set(col("mim")).over(w))
      .select(col("mim"), col("symbol"),
        sort_array(array_remove(col("clique"), col("mim"))).as("peers"),
        (size(col("clique")) - 1).as("n_peers"))
  }

  // ------------------------------------------------------ phenotypic series

  /** phenotypicSeries rows → PS class/label/category + membership (ref:
    * parse_phenotypic_series_titles omim_txt_parser.py:349-364 + G9,
    * A7). 2-token rows carry the title, 3-token rows carry members.
    * Expected input columns: ps_id, a, b (b null on title rows). */
  def phenoSeriesTriples(raw: DataFrame): Dataset[Triple] = {
    val spark = raw.sparkSession
    import spark.implicits._
    val norm = raw.select(
      substring(trim(col("ps_id")), 3, 1000000).as("ps"),
      trim(coalesce(col("a"), lit(""))).as("a"),
      col("b"))
    val titles = norm.filter(col("b").isNull)
      .select(col("ps"), col("a").as("title"))
    val members = norm.filter(col("b").isNotNull)
      .select(col("ps"), col("a").as("member_mim"))
    val headTriples = titles.as[(String, String)].flatMap { case (ps, title) =>
      Seq(
        Triple.uri(omimPs(ps), RdfType, OwlClass),
        Triple.lit(omimPs(ps), RdfsLabel, title),
        Triple.uri(omimPs(ps), BiolinkCategory, BiolinkDisease))
    }
    val memberTriples = members.as[(String, String)].map { case (ps, mim) =>
      Triple.uri(omim(mim), RdfsSubClassOf, omimPs(ps))
    }
    headTriples.union(memberTriples)
  }

  // ------------------------------------------------------------- enrichment

  /** Pipe-delimited id-list links (ref: main.py:500-509, G15): pubmed
    * mentions, UMLS / Orphanet exactMatches. Input: cached-entry tables
    * with columns mim + the list column. */
  def linkTriples(df: DataFrame, listCol: String, pred: String, ns: String): Dataset[Triple] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(trim(col("mim")).as("mim"),
        coalesce(col(listCol), lit("")).as("ids"))
      .filter(col("ids") =!= "")
      .select(col("mim"), explode(split(col("ids"), "\\|")).as("id"))
      .filter(col("id") =!= "")
      .as[(String, String)]
      .map { case (mim, id) => Triple.uri(omim(mim), pred, s"$ns:$id") }
  }

  /** Cache upsert (ref: update_cache, omim_txt_parser.py:575-585, A8/J8):
    * delete rows whose key was re-fetched, append new, sort by key. */
  def cacheUpsert(cached: DataFrame, fresh: DataFrame, key: String): DataFrame =
    cached.join(fresh, Seq(key), "left_anti")
      .unionByName(fresh)
      .orderBy(key)
}
