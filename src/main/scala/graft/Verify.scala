package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.registry result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** Dump every query under `outDir/<name>`. A query that throws still
    * produces an output dir — a single-row frame with `_verify_error` /
    * `_message` columns — so the downstream oracle compare records a RED
    * row (schema mismatch) instead of the query silently vanishing from
    * the gate (missing ≠ passing; round 6 lost 7 rows this way). Returns
    * the names that failed, in registry order. */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
      queries: Seq[(String, (SparkSession, String) => DataFrame)]): Seq[String] = {
    import spark.implicits._
    new java.io.File(outDir).mkdirs()
    queries.flatMap { case (name, fn) =>
      // stderr progress marker: lets log warnings (e.g. WindowExec) be
      // attributed to the query that emitted them
      System.err.println(s"[verify] dumping $name")
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        None
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Seq(("ERROR", s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(500)}"))
          .toDF("_verify_error", "_message")
          .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        Some(name)
      }
    }
  }

  // JSON string escape: backslash, quote, and ALL control chars (<0x20)
  // — a tab or CR in builder-authored SQL would otherwise make the
  // driver's json.load fail and silently zero the round's correctness.
  private def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def main(args: Array[String]): Unit = {
    // args: sfDir outDir [nameSubstring] — the optional third arg restricts
    // the dump to matching queries (dev loop; the driver passes two args).
    val Array(sfDir, outDir) = args.take(2)
    val only: String => Boolean =
      if (args.length > 2) {
        val subs = args(2).split(',').filter(_.nonEmpty)
        (n: String) => subs.exists(n.contains)
      } else _ => true
    val spark = LocalSession()
    val selected = SparkEntry.registry.collect {
      case q if only(q.name) => q.name -> q.fn }
    val failed = dump(spark, sfDir, outDir, selected)
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Completeness guard: every selected query MUST have an output dir.
    // verify_errors.json makes failures machine-readable; the stdout line
    // makes the count auditable against the registry size.
    Files.writeString(Paths.get(s"$outDir/verify_errors.json"),
      failed.map(q).mkString("[", ",", "]"))
    val dumped = selected.count { case (n, _) =>
      new java.io.File(s"$outDir/$n").isDirectory }
    println(s"[verify] dumped $dumped/${selected.size} queries, ${failed.size} errors")
    require(dumped == selected.size,
      s"completeness violation: ${selected.size - dumped} queries produced no dump")
    spark.stop()
  }
}
