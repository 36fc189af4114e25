package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SaveMode}

/** Bucketed-table helpers for shuffle-free co-located joins.
  *
  * At 100 TB the dominant cost of a fact⋈fact join (lineitem⋈orders) is
  * shuffling both sides on the key. Writing both tables bucketed by that
  * key with the SAME bucket count pre-partitions them on disk: Catalyst
  * then plans a sort-merge join with NO Exchange on either side
  * (asserted in BucketingSpec). Bucket count rule of thumb: total size /
  * target task input (128–512 MB), rounded to a power of two.
  */
object Bucketing {

  /** Write `df` as a bucketed (and optionally sorted) managed table. */
  def writeBucketed(df: DataFrame, table: String, key: String,
                    numBuckets: Int, sort: Boolean = true): Unit = {
    val w = df.write.mode(SaveMode.Overwrite)
      .format("parquet").bucketBy(numBuckets, key)
    (if (sort) w.sortBy(key) else w).saveAsTable(table)
  }

  /** Z-order (Morton) key of two non-negative dimension columns, `bits`
    * bits each (≤ 31): bit i of `a` lands at output bit 2i, bit i of `b`
    * at 2i+1, so a RANGE SORT on the key interleaves both dimensions —
    * the data-layout primitive behind Delta/Iceberg Z-ORDER BY: files
    * written in z-key order are simultaneously clustered on BOTH
    * columns, and min/max file statistics prune scans for predicates on
    * either one. Pure integer column algebra (42 codegen'd bit terms for
    * 21 bits), reproduced term-for-term by the SQL oracle; callers
    * pre-reduce dimensions into [0, 2^bits) (e.g. `% (1<<bits)` for ids,
    * day-number for dates). */
  def zOrderKey(a: Column, b: Column, bits: Int): Column = {
    require(bits >= 1 && bits <= 31, s"bits must be 1..31, got $bits")
    import org.apache.spark.sql.functions.{lit, pmod, shiftright}
    // pmod (not %) so each term is the BIT `(x >> i) & 1` even for
    // negative inputs — Spark's % is sign-preserving and would emit -1
    // terms where the SQL twin's `& 1` emits 1, silently de-Morton-izing
    // the key off-contract. With pmod both twins agree on all inputs
    // (callers still owe [0, 2^bits) for a meaningful Morton code).
    (0 until bits).map { i =>
      pmod(shiftright(a.cast("long"), i), lit(2L)) * lit(1L << (2 * i)) +
        pmod(shiftright(b.cast("long"), i), lit(2L)) * lit(1L << (2 * i + 1))
    }.reduce(_ + _)
  }

  /** DuckDB twin of [[zOrderKey]] — the same term sequence as SQL text,
    * for oracle construction. */
  def zOrderKeySql(a: String, b: String, bits: Int): String =
    (0 until bits).map { i =>
      s"((($a >> $i) & 1) * ${1L << (2 * i)} + (($b >> $i) & 1) * ${1L << (2 * i + 1)})"
    }.mkString(" + ")

  /** N-dimensional Morton key — the general `OPTIMIZE ... ZORDER BY
    * (c1, …, cN)` form (production ZORDER is routinely 3–4 columns:
    * e.g. date × customer × region): bit i of dimension d lands at
    * output bit `i·N + d`, so a range sort interleaves ALL dimensions
    * and min/max file stats prune on any of them. `bits · N ≤ 62`
    * keeps the key in a non-negative long ([[zOrderKey]] is the N=2
    * special case, identical bit layout). Same pmod/codegen/oracle
    * conventions; selectivity per dimension decays with N (each gets
    * bits·(1/N) of the leading key), which is the standard ZORDER
    * trade-off, not an implementation artifact. */
  def zOrderKeyN(cols: Seq[Column], bits: Int): Column = {
    require(cols.size >= 2, s"need >= 2 dimensions, got ${cols.size}")
    require(bits >= 1 && bits * cols.size <= 62,
      s"bits*dims must be 1..62, got $bits*${cols.size}")
    import org.apache.spark.sql.functions.{lit, pmod, shiftright}
    val n = cols.size
    (for { i <- 0 until bits; (c, d) <- cols.zipWithIndex } yield
      pmod(shiftright(c.cast("long"), i), lit(2L)) * lit(1L << (i * n + d))
    ).reduce(_ + _)
  }

  /** DuckDB twin of [[zOrderKeyN]]. */
  def zOrderKeyNSql(cols: Seq[String], bits: Int): String = {
    val n = cols.size
    (for { i <- 0 until bits; (c, d) <- cols.zipWithIndex } yield
      s"((($c >> $i) & 1) * ${1L << (i * n + d)})").mkString(" + ")
  }
}
