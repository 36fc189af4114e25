package graft.io

import java.util.concurrent.{ConcurrentLinkedQueue, ExecutionException, Executors, TimeUnit}

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.Triple

/** Sinks for the OMIM artifact family (SURVEY.md §2.1 S9/S10). */
object Sinks {

  /** The name of every [[writeAll]] worker thread. */
  val WriterThreadName = "release-writer"

  /** Write a release's artifacts concurrently: each `(name, write)` runs
    * `write(s"$dir/$name")` on its own thread, so one artifact's driver
    * planning and codegen overlap another's Spark jobs (run one after
    * another, the writes leave most cores idle between small AQE jobs).
    *
    * The pool is created per call and its threads are created by the
    * calling thread, so every worker inherits the caller's Spark local
    * properties (job description, job group, tags) and active session as
    * they stand at the call; a long-lived shared pool would hand later
    * calls stale ones. Each worker labels its jobs with the call site
    * `release:<name>` (AQE stage jobs inherit it), so a stage names the
    * artifact it wrote; the job description stays the caller's.
    *
    * Every write runs to its end. Then the first failure, in `writes`
    * order, is rethrown as thrown by its write (not wrapped in an
    * ExecutionException), with the other failures attached as
    * suppressed; no pool thread outlives the call.
    *
    * No knob: the thread count is the number of writes — a release has
    * eight, and Spark's scheduler shares the cores between their jobs. */
  def writeAll(spark: SparkSession, dir: String, writes: Seq[(String, String => Unit)]): Unit = {
    val sc = spark.sparkContext
    val threads = new ConcurrentLinkedQueue[Thread]()
    val pool = Executors.newFixedThreadPool(writes.size, (r: Runnable) => {
      val t = new Thread(r, WriterThreadName)
      threads.add(t)
      t
    })
    try {
      val pending = writes.map { case (name, write) =>
        val task: Runnable = () => {
          sc.setCallSite(s"release:$name")
          try write(s"$dir/$name") finally sc.clearCallSite()
        }
        pool.submit(task)
      }
      val failures = pending.flatMap { f =>
        try { f.get(); None } catch { case e: ExecutionException => Some(e.getCause) }
      }
      failures.headOption.foreach { first =>
        failures.tail.foreach(first.addSuppressed)
        throw first
      }
    } finally {
      pool.shutdownNow()
      // a terminated pool's workers can still be on their way out:
      // join them, so that no writer thread outlives the call
      if (pool.awaitTermination(1, TimeUnit.MINUTES)) threads.forEach(_.join())
    }
  }

  /** Distinct CURIE prefixes appearing in the triple set: subject,
    * predicate, and non-literal object terms that are neither
    * `<>`-wrapped IRIs nor `_:` bnodes. One tiny distinct aggregate
    * (bounded by the number of namespaces, ≤ a few hundred rows) —
    * the only driver-side collect in the sink, and it is metadata. */
  def usedPrefixes(triples: Dataset[Triple]): Set[String] = {
    val df = triples.toDF()
    val terms = df.select(col("s").as("t"))
      .unionAll(df.select(col("p").as("t")))
      .unionAll(df.filter(!col("oIsLiteral")).select(col("o").as("t")))
    // Every non-IRI non-bnode term must be a CURIE (have a ':'): a term
    // without one can never expand, so fail loudly instead of silently
    // skipping it. The prefix is everything before the FIRST colon —
    // including the dipper map's '' base prefix and any digit-leading
    // prefix — so unusual prefixes hit the unbound-prefix require()
    // in writeTurtle rather than bypassing it.
    val rows = terms
      .filter(!col("t").startsWith("<") && !col("t").startsWith("_:"))
      .select(when(col("t").contains(":"),
        substring_index(col("t"), ":", 1)).as("pfx"))
      .distinct()
      .collect()
    require(rows.forall(!_.isNullAt(0)),
      "non-literal term is neither <IRI>, _:bnode, nor prefix:CURIE")
    rows.map(_.getString(0)).toSet
  }

  /** One canonical N-Triples-style line per edge row. Literals are escaped
    * and quoted; bnode ids (`_:`) and already-`<>`-wrapped IRIs pass
    * through; CURIEs stay compact (Turtle prefix form). Output equivalence
    * with the reference is defined as TRIPLE-SET equality (SURVEY.md §7.4),
    * which sorted canonical lines give us. */
  def toTurtleLines(triples: Dataset[Triple]): DataFrame = {
    val esc = (c: org.apache.spark.sql.Column) =>
      regexp_replace(regexp_replace(regexp_replace(c,
        "\\\\", "\\\\\\\\"), "\"", "\\\\\""), "\n", "\\\\n")
    val term = (c: org.apache.spark.sql.Column, isLit: org.apache.spark.sql.Column) =>
      when(isLit, concat(lit("\""), esc(c), lit("\"")))
        .otherwise(c)
    triples.toDF().select(
      concat(
        col("s"), lit(" "), col("p"), lit(" "),
        term(col("o"), col("oIsLiteral")), lit(" .")).as("line"))
  }

  /** Write the graph as Turtle, one file: @prefix header + sorted
    * triple lines.
    *
    * Like rdflib's Turtle serializer (which the reference relies on,
    * main.py:236-238), the header binds exactly the prefixes the
    * triple set USES, resolved against [[CurieMap.default]] (the
    * reference's full dipper curie_map.yaml plus the namespaces.py
    * extras, S6). A used prefix with no binding is an error: the
    * emitted CURIE would be un-expandable for every downstream
    * consumer, so fail loudly at write time instead. */
  def writeTurtle(spark: SparkSession, triples: Dataset[Triple], path: String): Unit = {
    import spark.implicits._
    val used = usedPrefixes(triples)
    val prefixes = CurieMap.default
    val unbound = used -- prefixes.keySet
    require(unbound.isEmpty,
      s"triples use CURIE prefixes with no binding: ${unbound.toSeq.sorted.mkString(", ")}")
    // Explicit (section, line) sort key: a plain union's branch order is NOT
    // preserved through coalesce, so the header gets section 0.
    val header = prefixes.filter(kv => used.contains(kv._1)).toSeq.sorted
      .map { case (p, u) => (0, s"@prefix $p: <$u> .") }.toDF("sec", "line")
    val body = toTurtleLines(triples).select(lit(1).as("sec"), col("line"))
    header.unionByName(body).orderBy("sec", "line").select("line")
      .coalesce(1).write.mode("overwrite").text(path)
  }

  /** Ordered TSV sink, one file, with optional extra header rows (ROBOT
    * templates prepend a sub-header row — ref:
    * mondo_omim_genes_robot_tsv.py:19-41, main.py:512-519). `sortCols`
    * is the one statement of the artifact's row order (W3): callers hand
    * in unordered frames. */
  def writeOrderedTsv(df: DataFrame, path: String, sortCols: Seq[String],
                      extraHeaderRows: Seq[Seq[String]] = Nil,
                      preHeaderLines: Seq[String] = Nil): Unit = {
    val spark = df.sparkSession
    val cols = df.columns
    import spark.implicits._
    // One distributed range sort over (__sec, __idx, sortCols...): header
    // rows carry sec 0 + their declared index (sortCols null there); body
    // rows carry sec 1 and sort by the requested columns. No global
    // row_number window (which would funnel everything through one task).
    // preHeaderLines land before the column header (SSSOM front-matter).
    var header = (preHeaderLines ++ (cols.toSeq +: extraHeaderRows).map(_.mkString("\t")))
      .zipWithIndex
      .map { case (line, i) => (0, i.toLong, line) }
      .toDF("__sec", "__idx", "__line")
    sortCols.foreach { sc =>
      header = header.withColumn(sc, lit(null).cast(df.schema(sc).dataType))
    }
    val body = df
      .select((Seq(lit(1).as("__sec"), lit(0L).as("__idx"),
        concat_ws("\t",
          cols.toIndexedSeq.map(c => coalesce(col(c).cast("string"), lit(""))): _*)
          .as("__line")) ++ sortCols.map(col)): _*)
    header.unionByName(body)
      .orderBy((Seq(col("__sec"), col("__idx")) ++ sortCols.map(col)): _*)
      .select("__line")
      .coalesce(1).write.mode("overwrite").text(path)
  }
}
