package graft.io

import scala.io.Source

/** S6: the CURIE-prefix configuration scan.
  *
  * The reference loads `data/dipper/curie_map.yaml` (a flat
  * prefix→URI YAML, 212 bindings) at startup (config.py:20-24,
  * main.py:112-117) and binds every entry into the output graph's
  * namespace manager (main.py:211-212, 236-238); a handful of extra
  * namespaces used to MINT term URIs live as constants in
  * omim2obo/namespaces.py:3-508. This object reproduces both layers:
  * a flat-YAML reader for curie_map.yaml-shaped files, the shipped
  * copy of the reference map as the default, and the namespaces.py
  * extras for prefixes the pipeline emits that the YAML lacks.
  *
  * The parse is deliberately driver-side (it is a ~200-line config
  * file read once per session, exactly as the reference does with
  * `yaml.safe_load`); the resulting map rides into the Turtle sink as
  * a plain Scala Map and into any executor-side use as a literal map
  * column — no distributed read of a 9 KB file.
  */
object CurieMap {

  /** One flat-YAML binding: `'prefix': 'uri'  # comment`. Keys and
    * values in the dipper map are single-quoted (the empty key `''`
    * is the base IRI); comments after the closing quote are dropped.
    * Unquoted scalars are accepted as a fallback. */
  private val Quoted = """^\s*'([^']*)'\s*:\s*'([^']*)'\s*(?:#.*)?$""".r
  private val Bare = """^\s*([A-Za-z_][\w.-]*)\s*:\s*(\S+)\s*(?:#.*)?$""".r

  /** Parse flat-YAML lines to (prefix, uri) pairs, preserving file
    * order (later duplicates win in [[toMap]], matching
    * `yaml.safe_load` dict semantics). */
  def parseLines(lines: Iterator[String]): Seq[(String, String)] =
    lines.collect {
      case Quoted(k, v) => k -> v
      case Bare(k, v) => k -> v
    }.toSeq

  def parse(text: String): Map[String, String] =
    parseLines(text.linesIterator).toMap

  /** The reference's full dipper CURIE map, shipped as resource data
    * (data/dipper/curie_map.yaml — 212 bindings incl. the '' base). */
  lazy val dipper: Map[String, String] = {
    val in = getClass.getResourceAsStream("/graft/curie_map.yaml")
    require(in != null, "resource /graft/curie_map.yaml missing")
    try parse(Source.fromInputStream(in, "UTF-8").mkString)
    finally in.close()
  }

  /** Prefixes the pipeline emits that curie_map.yaml does not bind,
    * from the URI-minting constants in omim2obo/namespaces.py:
    * ORCID (:106), ORPHANET (:256), NCBIGENE (:225 — the yaml binds
    * the 'NCBIGene' casing; triples use the namespaces.py constant's
    * casing). */
  val namespacesPyExtras: Map[String, String] = Map(
    "ORCID" -> "https://orcid.org/",
    "ORPHANET" -> "http://www.orpha.net/ORDO/Orphanet_",
    "NCBIGENE" -> "https://www.ncbi.nlm.nih.gov/gene/")

  /** Default binding set for the Turtle sink: the full dipper map
    * with the namespaces.py extras layered on top (the reference
    * binds CURIE_MAP last, main.py:236-238, so yaml values win for
    * shared prefixes; the extras here are yaml-absent by
    * construction). */
  lazy val default: Map[String, String] = dipper ++ namespacesPyExtras
}
