package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.text.MimFields

/** Column-level wrappers for the OMIM text pipeline (SURVEY.md §2.7).
  *
  * Pure column compositions where built-ins suffice (MIM-id repair C9/F6 is
  * regexp_extract + when — fully codegen'd); a Scala UDF over the pure
  * `graft.text` parser where the semantics are genuinely regex-fallback
  * shaped (the morbidmap phenotype field). Title cleanup (C1/C2) is the
  * codegen'd `CleanupTitleExpr` kernel, not a UDF. The pure functions
  * carry the unit/property tests; the UDF is a thin adapter.
  */
object OmimFunctions {

  /** MIM-id repair as pure columns (ref: parse_omim_id,
    * omim_txt_parser.py:281-308): 6-digit pass-through, else extract from
    * leading "{dddddd}" or "dddddd,", else null (QC-counted upstream). */
  def repairMimId(c: Column): Column = {
    val braced = regexp_extract(c, "^\\{([0-9]{6})\\}", 1)
    val comma = regexp_extract(c, "^([0-9]{6}),", 1)
    when(c.rlike("^[0-9]{6}$"), c)
      .when(braced =!= "", braced)
      .when(comma =!= "", comma)
      .otherwise(lit(null).cast("string"))
  }

  /** MOVED-TO replacement list (ref: parse_mim_titles,
    * omim_txt_parser.py:341-345): for Caret rows whose title starts
    * 'MOVED TO ', split the remainder, drop 'AND', repair each id, drop
    * failures. Pure array ops, no shuffle (A6). */
  def movedToReplacements(declared: Column, prefTitle: Column): Column =
    when(declared === "Caret" && prefTitle.startsWith("MOVED TO "),
      filter(
        transform(
          filter(split(substring(prefTitle, 10, 1000000), " "),
            t => t =!= "AND" && length(t) > 0),
          repairMimId(_)),
        _.isNotNull))
      .otherwise(array().cast("array<string>"))

  /** Morbidmap phenotype-field parse → struct(label, p_mim, key) (ref:
    * omim_txt_parser.py:449-476, C9). UDF over the pure parser: the
    * two-regex fallback with Python match semantics is clearer (and
    * testable) as Scala than as a 6-deep when-chain. */
  val parsePhenotypeFieldUdf = udf { (s: String) =>
    val r = MimFields.parsePhenotypeField(if (s == null) "" else s)
    (r.label, r.phenotypeMim, r.mappingKey)
  }

  def parsePhenotypeField(c: Column): Column =
    parsePhenotypeFieldUdf(c).cast("struct<label:string,p_mim:string,key:string>")

  /** Definitive-association predicate (F4). */
  def isDefinitive(label: Column): Column = !label.rlike("^[\\[{?]")

  /** Mapping-key decode (C14) as a literal map lookup. */
  val mappingKeyMeaning: Column = {
    val m = MimFields.mappingKeyMeanings.flatMap { case (k, v) => Seq(lit(k), lit(v)) }.toSeq
    map(m: _*)
  }
}
