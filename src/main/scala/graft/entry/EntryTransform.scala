package graft.entry

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.Triple
import graft.graph.TripleGen._
import graft.text.Titles

/** The OMIM entry-API JSON path (SURVEY.md §3.3, S5): schema-on-read of
  * the cached entry documents + the `transform_entry` generator
  * (ref: omim2obo/parsers/omim_entry_parser.py:61-160 — the reference
  * marks it "obsolete and incomplete" but it is the only consumer showing
  * the full entry schema, and its golden asserts are the reference's own
  * tests).
  */
object EntryTransform {

  /** Flattened projection of the fields `transform_entry` consumes. */
  final case class EntryRow(
      prefix: Option[String], mimNumber: Long, preferredTitle: String,
      alternativeTitles: Option[String], includedTitles: Option[String],
      geneMapExists: Boolean, cytoLocation: Option[String],
      comments: Option[String], pubmedIds: Seq[String],
      geneIds: Option[String], umlsIds: Option[String],
      orphanetDiseases: Option[String], phenotypicSeries: Seq[String])

  /** `spark.read.json` over the API envelope (omim→entryList[]→entry)
    * with the full explicit [[EntrySchema]] (no inference scan, no
    * present-fields drift), exploded and projected to [[EntryRow]].
    * multiLine: the cache stores pretty-printed documents. Malformed
    * documents land in `_corrupt_record` (PERMISSIVE warn-and-skip). */
  def readEntries(spark: SparkSession, path: String): Dataset[EntryRow] = {
    import spark.implicits._
    val raw = spark.read.option("multiLine", "true")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .schema(EntrySchema.envelope)
      .json(path)
    raw.select(explode(col("omim.entryList")).as("e"))
      .select(col("e.entry").as("entry"))
      .select(
        col("entry.prefix").as("prefix"),
        col("entry.mimNumber").cast("long").as("mimNumber"),
        col("entry.titles.preferredTitle").as("preferredTitle"),
        col("entry.titles.alternativeTitles").as("alternativeTitles"),
        col("entry.titles.includedTitles").as("includedTitles"),
        coalesce(col("entry.geneMapExists"), lit(false)).as("geneMapExists"),
        col("entry.geneMap.cytoLocation").as("cytoLocation"),
        col("entry.geneMap.comments").as("comments"),
        coalesce(
          expr("transform(filter(entry.referenceList, r -> r.reference.pubmedID is not null), " +
            "r -> cast(r.reference.pubmedID as string))"),
          array().cast("array<string>")).as("pubmedIds"),
        col("entry.externalLinks.geneIDs").as("geneIds"),
        col("entry.externalLinks.umlsIDs").as("umlsIds"),
        col("entry.externalLinks.orphanetDiseases").as("orphanetDiseases"),
        // A9: PS numbers from both phenotypeMapList locations, distinct
        array_distinct(concat(
          coalesce(expr(
            "flatten(transform(filter(entry.phenotypeMapList, " +
              "p -> p.phenotypeMap.phenotypicSeriesNumber is not null), " +
              "p -> split(p.phenotypeMap.phenotypicSeriesNumber, ',')))"),
            array().cast("array<string>")),
          coalesce(expr(
            "flatten(transform(filter(entry.geneMap.phenotypeMapList, " +
              "p -> p.phenotypeMap.phenotypicSeriesNumber is not null), " +
              "p -> split(p.phenotypeMap.phenotypicSeriesNumber, ',')))"),
            array().cast("array<string>")))).as("phenotypicSeries"))
      .as[EntryRow]
  }

  /** The clinicalSynopsis consumer: per entry, the inheritance /
    * molecular-basis fields plus a presence profile summed over EVERY
    * `<section>Exists` flag of the full synopsis struct (schema-bound —
    * a renamed or dropped schema field changes `n_sections_present` and
    * fails the q59 oracle). The reference barely consumes the synopsis
    * (omim_entry_parser.py touches none of these fields); this is the
    * filter/QC projection a corpus pipeline would run over it.
    * Input: envelope-shaped rows (the `omim` column of
    * [[EntrySchema.envelope]]). */
  def clinicalSynopses(envelope: DataFrame): DataFrame = {
    val cs = col("e.entry.clinicalSynopsis")
    val nExists = EntrySchema.clinicalSynopsis.fields
      .map(_.name).filter(_.endsWith("Exists"))
      .map(n => when(cs.getField(n) === true, 1).otherwise(0))
      .reduce(_ + _)
    envelope.select(explode(col("omim.entryList")).as("e"))
      .select(
        col("e.entry.mimNumber").cast("long").as("mim"),
        coalesce(col("e.entry.clinicalSynopsisExists"), lit(false))
          .as("synopsis_exists"),
        cs.getField("inheritance").as("inheritance"),
        coalesce(cs.getField("inheritanceExists"), lit(false))
          .as("inheritance_exists"),
        cs.getField("molecularBasis").as("molecular_basis"),
        coalesce(cs.getField("molecularBasisExists"), lit(false))
          .as("molecular_basis_exists"),
        nExists.as("n_sections_present"))
  }

  /** Ref: transform_entry (omim_entry_parser.py:61-160), one entry →
    * triple rows. Prefix symbol → type (omim_type.py:44-56). */
  def entryTriples(e: EntryRow): Seq[Triple] = {
    val mim = e.mimNumber.toString
    val u = omim(mim)
    val out = Seq.newBuilder[Triple]
    val prefix = e.prefix.getOrElse("")
    val isGene = prefix == "*" || prefix == "+"
    val isMarker = prefix == "%"
    val isPhenotype = prefix == "#"

    out += Triple.uri(u, RdfType, OwlClass)

    val label = e.preferredTitle
    // split with limit -1: Scala drops trailing empties by default, which
    // would throw on "TITLE;" where Python's split()[1] returns ''
    val abbrev = if (label.contains(";")) Some(label.split(";", -1)(1).trim) else None
    val otherLabels =
      e.alternativeTitles.toSeq.flatMap(t => Titles.parseTitleSymbolPairs(t)._1) ++
        e.includedTitles.toSeq.flatMap(t => Titles.parseTitleSymbolPairs(t)._1)

    if (isMarker || isPhenotype) {
      out += Triple.lit(u, RdfsLabel, Titles.cleanupTitle(label, Map.empty))
      out += Triple.uri(u, BiolinkCategory, BiolinkDisease)
    } else if (isGene) {
      out += Triple.lit(u, RdfsLabel, abbrev.getOrElse(""))
      out += Triple.uri(u, RdfsSubClassOf, GeneSO)
      out += Triple.uri(u, BiolinkCategory, BiolinkGene)
    } else { // ^ or NULL
      out += Triple.lit(u, RdfsLabel, Titles.cleanupTitle(label, Map.empty))
    }

    out += Triple.lit(u, HasExactSynonym, label)
    otherLabels.foreach(l => out += Triple.lit(u, HasRelatedSynonym, l))

    val geneIdList = e.geneIds.toSeq.flatMap(_.split(",").map(_.trim)).filter(_.nonEmpty)

    // geneMap block (comments / cytoLocation on the feature)
    if (e.geneMapExists) {
      val featureUri =
        if (isMarker) geneIdList.headOption.map(id => s"NCBIGENE:$id")
        else if (isGene) Some(u)
        else None
      if (isMarker)
        geneIdList.foreach(id => out += Triple.uri(s"NCBIGENE:$id", HasPhenotype, u))
      featureUri.foreach { f =>
        e.comments.filter(_.trim.nonEmpty)
          .foreach(c => out += Triple.lit(f, "dc:description", c))
        e.cytoLocation.filter(_.nonEmpty)
          .foreach(c => out += Triple.uri(f, IsSubsequenceOf, s"CHR:9606chr$c"))
      }
    }

    e.pubmedIds.foreach(p => out += Triple.uri(u, Mentions, s"PMID:$p"))

    // Mapped IDs (C15/C17): orphanet ';;;' compound split; umls ',' split
    e.orphanetDiseases.toSeq
      .flatMap(_.trim.split(";;;")).map(_.split(";;")(0).trim).filter(_.nonEmpty)
      .foreach(o => out += Triple.uri(u, SkosExactMatch, s"ORPHANET:$o"))
    e.umlsIds.toSeq.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
      .foreach(c => out += Triple.uri(u, SkosExactMatch, s"UMLS:$c"))

    // Phenotypic series membership (routing by type)
    e.phenotypicSeries.foreach { ps =>
      val psId = ps.stripPrefix("PS")
      if (isMarker || isPhenotype)
        out += Triple.uri(u, RdfsSubClassOf, omimPs(psId))
      else if (isGene)
        out += Triple.uri(u, "RO:0003304", omimPs(psId))
    }

    // Entrez equivalences for genes
    if (isGene)
      geneIdList.foreach(id => out += Triple.uri(u, "owl:equivalentClass", s"NCBIGENE:$id"))

    out.result()
  }
}
