package graft.model

/** Core data model for the OMIM-capability engine (SURVEY.md §1): the
  * MIM entry types and the graph edge. The source tables stay
  * `DataFrame`s (their expected columns are listed on
  * `BuildGraph.InputTables`); only the triple set is a typed
  * `Dataset[Triple]`.
  */

/** MIM entry type, decoded from the mimTitles prefix symbol (ref:
  * omim2obo/omim_type.py:6-56; decode table omim_txt_parser.py:323-330). */
sealed abstract class OmimType(val name: String, val declared: String, val symbol: String)
object OmimType {
  case object Obsolete extends OmimType("OBSOLETE", "Caret", "^")
  case object Gene extends OmimType("GENE", "Asterisk", "*")
  case object Suspected extends OmimType("SUSPECTED", "NULL", "")
  case object Phenotype extends OmimType("PHENOTYPE", "Number Sign", "#")
  case object HeritablePhenotypicMarker
    extends OmimType("HERITABLE_PHENOTYPIC_MARKER", "Percent", "%")
  case object HasAffectedFeature extends OmimType("HAS_AFFECTED_FEATURE", "Plus", "+")

  val all: Seq[OmimType] = Seq(Obsolete, Gene, Suspected, Phenotype,
    HeritablePhenotypicMarker, HasAffectedFeature)

  /** mimTitles "Prefix" column → type name (ref: declared_to_type,
    * omim_txt_parser.py:323-330). */
  val declaredToName: Map[String, String] = all.map(t => t.declared -> t.name).toMap
}

/** One edge of the RDF graph (SURVEY.md §1.1.3): subject/predicate as
  * CURIEs, object either a CURIE/bnode ref or a literal. Blank nodes use
  * deterministic md5 ids ("_:<md5hex>", ref DeterministicBNode
  * main.py:178-186) so triple sets hash-compare stably. */
final case class Triple(s: String, p: String, o: String, oIsLiteral: Boolean)

object Triple {
  def uri(s: String, p: String, o: String): Triple = Triple(s, p, o, oIsLiteral = false)
  def lit(s: String, p: String, o: String): Triple = Triple(s, p, o, oIsLiteral = true)

  /** Deterministic blank-node id from a source ref (ref: DeterministicBNode,
    * main.py:181-186: md5 of the ref string). */
  def bnode(sourceRef: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    "_:" + md.digest(sourceRef.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }
}
