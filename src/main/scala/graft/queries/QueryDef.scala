package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One verifiable query: the Spark implementation plus (when the semantics
  * are ANSI-SQL-expressible) a DuckDB oracle that must hash-match it.
  *
  * Determinism contract (driver compares sorted-by-column-name hashes):
  *  - every query ends in a total ORDER BY so row order is stable either way;
  *  - aliases in the Spark plan and the oracle SQL are identical;
  *  - float outputs are rounded (HALF_UP in both engines) at a precision far
  *    below accumulated-error scale, never at a representable boundary;
  *  - DuckDB's HUGEINT sums are cast back to BIGINT to match Spark's LongType.
  *
  * Bench times every registry query whose `benchSkip` is false (the
  * default). `benchSkip = true` leaves a query out of the timed suite —
  * e.g. fixture-scale queries that ignore sfDir; each use says why at
  * its definition.
  */
final case class QueryDef(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    benchSkip: Boolean = false,
    // Build-once-serve-many hook: Bench runs this UNTIMED before the
    // timed rounds (persisted-index builds), so the samples measure only
    // the recurring probe path. The query's fn must stay self-contained
    // (build-if-absent) so Verify needs no setup pass.
    benchSetup: Option[(SparkSession, String) => Unit] = None)
