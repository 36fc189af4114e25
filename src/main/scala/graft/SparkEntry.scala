package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries.{CorpusOps, DedupQueries, GraphQueries, MultimodalQueries, OmimQueries, QueryDef, Relational, SimilarityQueries, TemporalQueries, TextAnalytics, WebIngest}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the full operator inventory (one entry per implemented
  * operator family from SURVEY.md §2); `oracleSql` carries the DuckDB
  * equivalent for every SQL-expressible entry. Column aliases match
  * between the Spark plan and the oracle (driver hash-compares by
  * sorted column name).
  */
object SparkEntry {

  /** Registry of all verifiable queries, grouped by module. */
  def registry: Seq[QueryDef] =
    Relational.all ++ TextAnalytics.all ++ DedupQueries.all ++
      SimilarityQueries.all ++ OmimQueries.all ++ MultimodalQueries.all ++
      CorpusOps.all ++ TemporalQueries.all ++ WebIngest.all ++ GraphQueries.all

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.q03JoinRevenue.fn(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.fn).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    registry.flatMap(q => q.oracle.map(o => q.name -> o.trim)).toMap
}
