package graft.graph

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.model.Triple
import TripleGen._

/** The reference's post-build SPARQL surface re-expressed as DataFrame
  * queries over the triples edge table (SURVEY.md J13/G17/G18). Every
  * SPARQL triple pattern is a self-join on the triples DF; OPTIONAL is a
  * left join; FILTER(IN) is `isin`; BIND(REPLACE) is string ops on CURIEs.
  *
  * Scale: the triples DF is filtered per pattern-edge BEFORE joining
  * (predicate pushdown on the predicate column), so each join input is a
  * small slice of the graph, and Catalyst broadcasts the smaller side.
  */
object SparqlQueries {

  private def pat(t: DataFrame, predicate: String): DataFrame =
    t.filter(col("p") === predicate)

  /** sparql/add_flipped_mondo_mappings.ru:12-22: for every
    * MONDO→x exactMatch edge, insert the flipped x→MONDO edge. */
  def addFlippedMondoMappings(triples: DataFrame): DataFrame = {
    val flipped = pat(triples, SkosExactMatch)
      .filter(col("s").startsWith("MONDO:"))
      .select(col("o").as("s"), col("p"), col("s").as("o"), col("oIsLiteral"))
    triples.unionByName(flipped).distinct()
  }

  /** sparql/hgnc_links.ru:12-31: for every class with an RO:0004003
    * restriction on an OMIM gene that exactMatches an HGNC id, declare the
    * HGNC id a class and add a parallel RO:0004003 restriction on it. */
  def hgncLinks(triples: DataFrame): DataFrame = {
    val onProp = pat(triples, "owl:onProperty")
      .filter(col("o") === HasMaterialBasisIn).select(col("s").as("b"))
    val svf = pat(triples, "owl:someValuesFrom")
      .select(col("s").as("b"), col("o").as("omim_gene"))
    val sub = pat(triples, RdfsSubClassOf)
      .select(col("s").as("cls"), col("o").as("b"))
    val hgnc = pat(triples, SkosExactMatch)
      .filter(col("o").startsWith("HGNC:"))
      .select(col("s").as("omim_gene"), col("o").as("hgnc"))
    val matches = sub.join(onProp, "b").join(svf, "b").join(hgnc, "omim_gene")
      .select("cls", "hgnc").distinct()
    val spark = triples.sparkSession
    import spark.implicits._
    val inserted = matches.as[(String, String)].flatMap { case (cls, h) =>
      Triple.uri(h, RdfType, OwlClass) +:
        restriction(HasMaterialBasisIn, h, cls)._2
    }
    triples.unionByName(inserted.toDF()).distinct()
  }

  /** sparql/disease-gene-relationships.sparql: the D2G QC report — class →
    * restriction → class chains over the five RO predicates, with labels,
    * optional biolink categories, and a direction bind. Unordered: the
    * release sink sorts it by the six SPARQL keys. */
  def diseaseGeneRelationships(triples: DataFrame): DataFrame = {
    val roPreds = Seq(CausesOrContributes, "RO:0003303", "RO:0003304",
      IsCausalGermlineMutationIn, HasMaterialBasisIn)
    val classes = pat(triples, RdfType).filter(col("o") === OwlClass)
      .select(col("s").as("uri"))
    val labels = pat(triples, RdfsLabel).select(col("s").as("uri"), col("o").as("label"))
    val cats = pat(triples, BiolinkCategory)
      .select(col("s").as("uri"),
        regexp_replace(col("o"), "^biolink:", "").as("cat"))
    val sub = pat(triples, RdfsSubClassOf).select(col("s").as("sub_uri"), col("o").as("b"))
    val onProp = pat(triples, "owl:onProperty")
      .filter(col("o").isin(roPreds: _*))
      .select(col("s").as("b"), col("o").as("pred"))
    val svf = pat(triples, "owl:someValuesFrom")
      .select(col("s").as("b"), col("o").as("obj_uri"))

    sub.join(onProp, "b").join(svf, "b")
      .join(classes.withColumnRenamed("uri", "sub_uri"), "sub_uri")
      .join(classes.withColumnRenamed("uri", "obj_uri"), "obj_uri")
      .join(labels.withColumnRenamed("uri", "sub_uri")
        .withColumnRenamed("label", "SubLabel"), "sub_uri")
      .join(labels.withColumnRenamed("uri", "obj_uri")
        .withColumnRenamed("label", "ObjLabel"), "obj_uri")
      .join(cats.withColumnRenamed("uri", "sub_uri")
        .withColumnRenamed("cat", "SubBiolink"), Seq("sub_uri"), "left")
      .join(cats.withColumnRenamed("uri", "obj_uri")
        .withColumnRenamed("cat", "ObjBiolink"), Seq("obj_uri"), "left")
      .select(
        col("sub_uri").as("SubId"), col("SubLabel"), col("SubBiolink"),
        col("pred").as("Pred"),
        when(col("pred") === HasMaterialBasisIn, "Disease2Gene")
          .otherwise("Gene2Disease").as("PredDirection"),
        col("obj_uri").as("ObjId"), col("ObjLabel"), col("ObjBiolink"))
  }

  /** sparql/mondo-omim-genes.sparql: DISTINCT (mondo, hgnc, omim disease,
    * omim gene) via the exactMatch + RO:0004003 restriction pattern. */
  def mondoOmimGenes(triples: DataFrame): DataFrame = {
    val classes = pat(triples, RdfType).filter(col("o") === OwlClass)
      .select(col("s").as("omim_disease"))
    val mondo = pat(triples, SkosExactMatch).filter(col("o").startsWith("MONDO:"))
      .select(col("s").as("omim_disease"), col("o").as("mondo_id"))
    val sub = pat(triples, RdfsSubClassOf)
      .select(col("s").as("omim_disease"), col("o").as("b"))
    val onProp = pat(triples, "owl:onProperty")
      .filter(col("o") === HasMaterialBasisIn).select(col("s").as("b"))
    val svf = pat(triples, "owl:someValuesFrom")
      .select(col("s").as("b"), col("o").as("omim_gene"))
    val hgnc = pat(triples, SkosExactMatch).filter(col("o").startsWith("HGNC:"))
      .select(col("s").as("omim_gene"), col("o").as("hgnc_id"))
    classes.join(mondo, "omim_disease")
      .join(sub, "omim_disease")
      .join(onProp, "b").join(svf, "b")
      .join(hgnc, "omim_gene")
      .select(col("mondo_id"), col("hgnc_id"),
        col("omim_disease").as("omim_disease_xref"), col("omim_gene"))
      .distinct()
  }

  /** ROBOT-template shaping of [[mondoOmimGenes]] (ref:
    * mondo_omim_genes_robot_tsv.py:19-41): fixed column order, 4-key sort,
    * subheader row — write with Sinks.writeOrderedTsv. */
  val robotSubheader: Seq[String] = Seq(
    "ID", "SC 'has material basis in germline mutation in' some %",
    ">A oboInOwl:source", "")

  /** get-pmids tool (utils/omim_code_pmid_query/omim_code_pmid_query.py:
    * 31-36): all IAO:0000142 mention edges as (omim, pmid) CURIEs. */
  def pmidMentions(triples: DataFrame): DataFrame =
    pat(triples, Mentions)
      .select(col("s").as("omim"), col("o").as("pmid"))
      .orderBy("omim", "pmid")
}
