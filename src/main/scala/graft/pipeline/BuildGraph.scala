package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.graph.{SparqlQueries, TripleGen}
import graft.io.{CommentFramedTsv, CuratorTables, HeaderedTsv, Sinks, Sssom}
import graft.model.Triple
import graft.operators.Barrier

/** The end-to-end build — the Spark equivalent of
  * `python -m omim2obo` + the makefile's SPARQL post-processing
  * (SURVEY.md §3.1/§3.2): all sources → one triples Dataset → omim.ttl,
  * review.tsv, susceptibility + gene ROBOT templates, QC reports.
  *
  * One SparkSession, one DAG; the reference's cross-process makefile hops
  * (ROBOT java calls) become DataFrame queries on the shared triples DF.
  */
object BuildGraph {

  final case class Inputs(
      mimTitlesPath: String, mim2genePath: String, morbidmapPath: String,
      phenotypicSeriesPath: String, genemap2Path: String, hgncPath: String,
      exclusionsPath: String, protectedPath: String, capitalizationsPath: String,
      sssomPath: String, mappingsPath: String, pubmedRefsPath: String)

  object Inputs {
    /** The release's source layout: the twelve files under their
      * download/curator names in one directory. */
    def fromDir(d: String): Inputs = Inputs(
      mimTitlesPath = s"$d/mimTitles.txt",
      mim2genePath = s"$d/mim2gene.txt",
      morbidmapPath = s"$d/morbidmap.txt",
      phenotypicSeriesPath = s"$d/phenotypicSeries.txt",
      genemap2Path = s"$d/genemap2.txt",
      hgncPath = s"$d/hgnc_complete_set.txt",
      exclusionsPath = s"$d/exclusions-disease-gene.tsv",
      protectedPath = s"$d/protected-disease-gene.tsv",
      capitalizationsPath = s"$d/known_capitalizations.tsv",
      sssomPath = s"$d/mondo_exactmatch_omim.sssom.tsv",
      mappingsPath = s"$d/mappings.tsv",
      pubmedRefsPath = s"$d/pubmed-refs.tsv")
  }

  /** The mimTitles.txt columns, in file order. */
  val TitleColumns: Seq[String] =
    Seq("prefix", "mim", "pref_titles", "alt_titles", "inc_titles")

  /** The same inputs at the DataFrame level — the seam that lets any
    * source (files, synthesized plans, tests, other tables) feed the REAL
    * stage composition. [[build]] is the file-reading adapter over this.
    *
    * Expected columns (the post-read raw shapes):
    *  - titlesRaw: prefix, mim, pref_titles, alt_titles, inc_titles
    *  - mim2geneRaw: mim, entry_type, entrez_id, hgnc_symbol, ensembl_id
    *  - morbidRaw: phenotype, gene_symbols, gene_mim, cyto
    *  - psRaw: ps_id, a, b (b null on title rows)
    *  - genemap2: `MIM Number`, `Approved Gene Symbol`
    *  - hgncRaw: symbol, hgnc_id
    *  - exclusions: p_mim, excl_orcid
    *  - protectd: p_mim, gene_mim, hgnc_id, prot_orcid, mondo_id
    *  - omimToMondo: omim, mondo_ids (array)
    *  - mappings: mim, umls_ids, orphanet_ids ('|'-delimited)
    *  - pubmed: mim, pmid_refs ('|'-delimited) */
  final case class InputTables(
      titlesRaw: DataFrame, mim2geneRaw: DataFrame, morbidRaw: DataFrame,
      psRaw: DataFrame, genemap2: DataFrame, hgncRaw: DataFrame,
      exclusions: DataFrame, protectd: DataFrame, caps: Map[String, String],
      omimToMondo: DataFrame, mappings: DataFrame, pubmed: DataFrame)

  /** The release frames, unordered: each artifact's order is stated
    * once, by its sink's sort columns in [[writeArtifacts]]. */
  final case class Outputs(
      triples: Dataset[Triple], reviewCases: DataFrame,
      susceptibilityRows: DataFrame, diseaseGeneQc: DataFrame,
      mondoOmimGenes: DataFrame,
      morbidmapAugmented: DataFrame, mim2geneAugmented: DataFrame)

  /** Assemble the full graph + release artifacts from files. `versionDate`
    * is injected (never now()) for reproducible builds. */
  def build(spark: SparkSession, in: Inputs, versionDate: String): Outputs =
    buildFromTables(spark, InputTables(
      titlesRaw = CommentFramedTsv.read(spark, in.mimTitlesPath, Some(TitleColumns)),
      mim2geneRaw = CommentFramedTsv.read(spark, in.mim2genePath,
        Some(Seq("mim", "entry_type", "entrez_id", "hgnc_symbol", "ensembl_id"))),
      morbidRaw = CommentFramedTsv.read(spark, in.morbidmapPath,
        Some(Seq("phenotype", "gene_symbols", "gene_mim", "cyto"))),
      psRaw = CommentFramedTsv.read(spark, in.phenotypicSeriesPath,
        Some(Seq("ps_id", "a", "b"))),
      genemap2 = CommentFramedTsv.read(spark, in.genemap2Path),
      hgncRaw = HeaderedTsv.read(spark, in.hgncPath),
      exclusions = CuratorTables.exclusions(spark, in.exclusionsPath),
      protectd = CuratorTables.protected_(spark, in.protectedPath),
      caps = CuratorTables.knownCapitalizations(spark, in.capitalizationsPath),
      omimToMondo = Sssom.readOmimToMondo(spark, in.sssomPath),
      mappings = HeaderedTsv.read(spark, in.mappingsPath),
      pubmed = HeaderedTsv.read(spark, in.pubmedRefsPath)), versionDate)

  /** The REAL stage composition (main.py:227-528) over already-loaded
    * tables — every consumer (file build, q57's in-plan synthesized e2e
    * oracle, specs) runs exactly this code path. */
  def buildFromTables(spark: SparkSession, t: InputTables, versionDate: String): Outputs = {
    import spark.implicits._

    // Stage 3.1-2: setup + ingest/parse
    val titlesRaw = t.titlesRaw
    val titles = OmimPipeline.parseMimTitles(titlesRaw).cache()
    val caps = t.caps
    val morbidRaw = t.morbidRaw
    val exclusions = t.exclusions
    val protectd = t.protectd
    val omimToMondo = t.omimToMondo
    val symbolToId = OmimPipeline.hgncSymbolIdMap(t.hgncRaw)
    // Protected-augmentation rewrite (J9/J10/SO1, omim_txt_parser.py:
    // 124-197): morbidmap and mim2gene are augmented ONCE here and every
    // downstream consumer (cascade, review cases, cyto, hgnc maps) sees
    // the synthesized rows — the reference's get_mim_file reads the
    // '-protected-added' variant everywhere (omim_txt_parser.py:240-260).
    val morbid = OmimPipeline.augmentMorbidMap(
      OmimPipeline.parseMorbidMap(morbidRaw), protectd, titles, symbolToId).cache()
    val assocs = morbid.filter(col("p_mim") =!= "")
    val mim2gene = OmimPipeline.augmentMim2Gene(t.mim2geneRaw, protectd, symbolToId)
    val psRaw = t.psRaw

    // Stage 4: entity triples (per-MIM flatMap)
    val entity = OmimPipeline.entityTriples(titles, caps)

    // Stage 5: relational core
    val tagged = OmimPipeline.tagAssociations(assocs, exclusions, protectd).cache()
    val cascade = OmimPipeline.cascadeTriples(tagged, protectd)
    val cyto = OmimPipeline.cytoTriples(morbid)
    val m2g = OmimPipeline.mim2geneTriples(mim2gene)
    val hgncMap1 = mim2gene
      .filter(col("entry_type").isin("gene", "gene/phenotype"))
      .filter(coalesce(col("hgnc_symbol"), lit("")) =!= "")
      .select(col("mim"), col("hgnc_symbol").as("symbol"))
    val hgncMap2 = t.genemap2.select(
      col("MIM Number").as("mim"), col("Approved Gene Symbol").as("symbol"))
      .filter(coalesce(col("symbol"), lit("")) =!= "")
    val hgncMerged = OmimPipeline.hgncMapMerged(hgncMap1, hgncMap2)
    val hgnc = OmimPipeline.hgncTriples(hgncMerged, symbolToId)
    val ps = OmimPipeline.phenoSeriesTriples(psRaw)

    // Stage 6: enrichment (cached API tables)
    val links =
      OmimPipeline.linkTriples(t.pubmed, "pmid_refs", TripleGen.Mentions, "PMID")
        .union(OmimPipeline.linkTriples(t.mappings, "umls_ids", TripleGen.SkosExactMatch, "UMLS"))
        .union(OmimPipeline.linkTriples(t.mappings, "orphanet_ids", TripleGen.SkosExactMatch, "ORPHANET"))

    val header = spark.createDataset(TripleGen.ontologyHeader(versionDate))

    // Cut lineage at the graph fan-out boundaries (Barrier.cut, not
    // cache): hgncLinks pattern-joins the graph against itself four
    // times and the reports re-join the result. cache() dedups
    // COMPUTATION but leaves the logical plan intact, so every self-join
    // arm re-embeds the entire upstream build tree and the analyzer
    // (DeduplicateRelations + per-rule tree walks) goes combinatorial —
    // measured 40 s of driver CPU per action at sf0.1. The cut replaces
    // the plan with a LogicalRDD leaf, and `graft.barrier.checkpointDir`
    // makes all three cuts durable. The third cut is the finished graph:
    // it is materialized once, here, and the four artifact writes that
    // read it (turtle, QC, genes, SSSOM) — which writeArtifacts runs
    // concurrently — start from that leaf instead of racing to build a
    // shared cache.
    val baseTriples = header
      .union(entity).union(cascade).union(cyto).union(m2g)
      .union(hgnc).union(ps).union(links)
    val base = Barrier.cut(baseTriples.toDF())
    val flipped = Barrier.cut(SparqlQueries.addFlippedMondoMappings(base))

    // Makefile SPARQL UPDATE stage (G17): flipped MONDO mappings + HGNC links
    val withUpdates = Barrier.cut(SparqlQueries.hgncLinks(flipped)).as[Triple]

    // Reports (G16/G18)
    val types = titles.select(col("mim"), col("omim_type"))
    Outputs(
      triples = withUpdates,
      reviewCases = OmimPipeline.reviewCases(tagged, morbid, types),
      susceptibilityRows = OmimPipeline.susceptibilityRows(assocs, omimToMondo),
      diseaseGeneQc = SparqlQueries.diseaseGeneRelationships(withUpdates.toDF()),
      mondoOmimGenes = SparqlQueries.mondoOmimGenes(withUpdates.toDF()),
      morbidmapAugmented = morbid,
      mim2geneAugmented = mim2gene)
  }

  /** Write the eight release artifacts (stage 3.1-7 sinks + makefile
    * targets) under `dir`, concurrently through [[Sinks.writeAll]]: each
    * write runs on its own thread, with its jobs labelled
    * `release:<artifact>`. Every write runs to its end; a failure (e.g.
    * the turtle sink's unbound-prefix check) is then rethrown as its
    * write threw it. Each artifact's bytes do not depend on the
    * interleaving: its row order is its sink's sort columns. */
  def writeArtifacts(spark: SparkSession, out: Outputs, dir: String): Unit =
    Sinks.writeAll(spark, dir, Seq(
      "omim.ttl" -> (Sinks.writeTurtle(spark, out.triples, _)),
      "review.tsv" -> (Sinks.writeOrderedTsv(out.reviewCases, _, Seq("classCode", "value"))),
      "mondo-omim-susceptibility-subset.robot.tsv" -> (Sinks.writeOrderedTsv(
        out.susceptibilityRows, _, Seq("mondo_id", "omim_id"),
        extraHeaderRows = Seq(Seq("ID", "AI oboInOwl:inSubset", ">A oboInOwl:source")))),
      "mondo-omim-genes.robot.tsv" -> (Sinks.writeOrderedTsv(out.mondoOmimGenes, _,
        Seq("mondo_id", "hgnc_id", "omim_gene", "omim_disease_xref"),
        extraHeaderRows = Seq(SparqlQueries.robotSubheader))),
      "disease-gene-relationships-qc.tsv" -> (Sinks.writeOrderedTsv(out.diseaseGeneQc, _,
        Seq("PredDirection", "SubBiolink", "Pred", "SubId", "ObjBiolink", "ObjId"))),
      "omim.sssom.tsv" -> (Sinks.writeOrderedTsv(
        graft.io.SssomExport.fromTriples(out.triples.toDF()), _,
        Seq("subject_id", "object_id"), preHeaderLines = graft.io.SssomExport.frontMatter)),
      // The reference's '-protected-added' table artifacts
      // (omim_txt_parser.py:138,196-197), in the parsed relational shape —
      // this engine's canonical morbidmap form (parse once, reuse).
      "morbidmap-protected-added.tsv" -> (Sinks.writeOrderedTsv(
        out.morbidmapAugmented.select(
          col("p_label"), col("p_mim"), col("map_key"),
          concat_ws(", ", col("gene_symbols")).as("gene_symbols"),
          col("gene_mim"), col("cyto_location"), col("is_added_protection")),
        _, Seq("p_mim", "gene_mim", "map_key", "p_label"))),
      "mim2gene-protected-added.tsv" -> (Sinks.writeOrderedTsv(out.mim2geneAugmented, _,
        Seq("mim", "hgnc_symbol")))))
}
