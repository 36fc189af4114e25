package graft.io

import scala.io.Source

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Sources for the OMIM file family (SURVEY.md §2.1).
  *
  * OMIM downloads are TSVs framed by `#` comment blocks where the HEADER is
  * the LAST leading comment line (ref: omim_txt_parser.py:87-121
  * convert_txt_to_tsv; 200-207 read_mim_file_as_lines). The header sniff is
  * a driver-side read of the first lines (these files are small); the data
  * scan itself is a distributed CSV read with `comment='#'` which also
  * drops the trailing comment block — so the plan stays a plain pushdown-
  * friendly FileScan.
  */
object CommentFramedTsv {

  /** Driver-side sniff: column names from the last `#` line before data
    * (ref: omim_txt_parser.py:100-109 header detection). */
  def sniffHeader(path: String): Seq[String] = {
    val src = Source.fromFile(path)
    try {
      var header: Option[String] = None
      val it = src.getLines()
      var done = false
      while (it.hasNext && !done) {
        val line = it.next()
        if (line.startsWith("#")) header = Some(line)
        else if (line.trim.nonEmpty) done = true
      }
      header match {
        case Some(h) => h.dropWhile(c => c == '#' || c == ' ').split("\t", -1).map(_.trim).toSeq
        case None => throw new IllegalArgumentException(s"no comment header found in $path")
      }
    } finally src.close()
  }

  /** Distributed read with all columns as strings (the reference keeps MIM
    * numbers etc. as str; typed casts happen downstream). Malformed rows
    * land in `_corrupt_record` (PERMISSIVE), mirroring warn-and-skip. */
  def read(spark: SparkSession, path: String,
           columnNames: Option[Seq[String]] = None): DataFrame = {
    val names = columnNames.getOrElse(sniffHeader(path))
    val schema = StructType(
      names.map(n => StructField(n, StringType, nullable = true)) :+
        StructField("_corrupt_record", StringType, nullable = true))
    spark.read
      .option("sep", "\t")
      .option("comment", "#")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .schema(schema)
      .csv(path)
      .filter(col(names.head).isNotNull) // drop blank separator rows
  }
}

/** Plain TSVs whose first line is the header (the HGNC table, the API
  * caches and the curator tables), all columns strings. */
object HeaderedTsv {
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.option("sep", "\t").option("header", "true").csv(path)
}

/** SSSOM TSV with `#`-prefixed YAML front-matter → OMIM→MONDO multimap
  * (ref: main.py:87-109, S7/A5). Accepts either (subject,object)
  * orientation; output: (omim_mim, mondo_ids sorted array). */
object Sssom {
  def readOmimToMondo(spark: SparkSession, path: String): DataFrame = {
    val df = spark.read
      .option("sep", "\t")
      .option("comment", "#")
      .option("header", "true")
      .csv(path)
    val sub = trim(coalesce(col("subject_id"), lit("")))
    val obj = trim(coalesce(col("object_id"), lit("")))
    val normalized = df.select(
      when(sub.startsWith("OMIM:") && obj.startsWith("MONDO:"),
        struct(substring_index(sub, ":", -1).as("omim"), obj.as("mondo")))
        .when(obj.startsWith("OMIM:") && sub.startsWith("MONDO:"),
          struct(substring_index(obj, ":", -1).as("omim"), sub.as("mondo")))
        .as("pair"))
      .filter(col("pair").isNotNull)
      .select(col("pair.omim").as("omim"), col("pair.mondo").as("mondo"))
    normalized.groupBy("omim")
      .agg(sort_array(collect_set(col("mondo"))).as("mondo_ids"))
  }
}

object SssomExport {
  /** The makefile's `omim.sssom.tsv` artifact (SURVEY.md §3.2): every
    * skos:exactMatch edge of the graph as an SSSOM mapping row with YAML
    * front-matter. Write with
    * `Sinks.writeOrderedTsv(df, path, Seq("subject_id","object_id"),
    *  preHeaderLines = SssomExport.frontMatter)`. */
  val frontMatter: Seq[String] = Seq(
    "# curie_map:",
    "#   OMIM: https://omim.org/entry/",
    "#   MONDO: http://purl.obolibrary.org/obo/MONDO_",
    "# mapping_set_id: omimspark/omim.sssom.tsv",
    "# license: https://creativecommons.org/publicdomain/zero/1.0/")

  def fromTriples(triples: DataFrame): DataFrame =
    triples.filter(col("p") === "skos:exactMatch")
      .select(col("s").as("subject_id"),
        lit("skos:exactMatch").as("predicate_id"),
        col("o").as("object_id"),
        lit("semapv:UnspecifiedMatching").as("mapping_justification"))
      .distinct()
}

/** Curator tables (ref: utils.py:25-80, S8). All tiny → broadcast-join
  * candidates; loaded as plain DataFrames. */
object CuratorTables {

  private def stripPrefix(c: org.apache.spark.sql.Column) = substring_index(c, ":", -1)

  /** A curator's ORCID as `ORCID:<id>` (a leading `https://orcid.org/`
    * dropped); null when blank. */
  private def orcid(c: org.apache.spark.sql.Column) =
    when(length(trim(coalesce(c, lit("")))) > 0,
      concat(lit("ORCID:"), regexp_replace(trim(c), "^https://orcid\\.org/", "")))

  /** exclusions-disease-gene.tsv → (p_mim, orcid) — ref:
    * get_d2g_exclusions_by_curator (utils.py:70-80). */
  def exclusions(spark: SparkSession, path: String): DataFrame =
    HeaderedTsv.read(spark, path)
      .select(stripPrefix(col("omim_id")).as("p_mim"), orcid(col("orcid")).as("excl_orcid"))

  /** protected-disease-gene.tsv → (p_mim, gene_mim, hgnc_id, orcid,
    * mondo_id) — ref: get_d2g_protected (utils.py:25-45) +
    * get_protected_mondo_mappings (utils.py:48-67). */
  def protected_(spark: SparkSession, path: String): DataFrame =
    HeaderedTsv.read(spark, path)
      .select(
        stripPrefix(col("phenotype_mim")).as("p_mim"),
        stripPrefix(col("gene_mim")).as("gene_mim"),
        stripPrefix(col("hgnc_id")).as("hgnc_id"),
        orcid(col("orcid")).as("prot_orcid"),
        col("mondo_id"))

  /** known_capitalizations.tsv → driver Map (broadcast into UDFs) — ref:
    * get_known_capitalizations (omim_entry_parser.py:27-52). */
  def knownCapitalizations(spark: SparkSession, path: String): Map[String, String] =
    HeaderedTsv.read(spark, path)
      .select("lower_name", "cap_name").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
}
