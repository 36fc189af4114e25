package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Paths

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.io.{CommentFramedTsv, CuratorTables, Sssom}
import graft.pipeline.BuildGraph
import graft.queries.QueryDef

/** One benchmark run in one JVM, driven by perfbench/run.py.
  *
  * A single closed-loop client keeps one operation in flight: set up the
  * session (several times; the median is `setup_s`), run timed passes over
  * the workload's operations until `seconds` have passed (or `max_passes`),
  * then run the output checks untimed. `warmup` untimed passes go first;
  * for releases the q40 fixture build also warms the JVM. With `trace=1`
  * the passes alternate untraced and traced; only traced passes carry
  * listeners, the log appender and spans.
  * Results go to `<out>/result.json`; spans to `<out>/spans.jsonl`.
  *
  * Arguments are `key=value`: workload, kind (queries|omim), data, seconds,
  * trace, out, cores, queries (comma list), setups, fixture, warmup (untimed
  * passes before the timed ones), max_passes (0: no limit; ignored traced).
  */
object Harness {

  final case class Conf(args: Map[String, String]) {
    def apply(k: String): String = args.getOrElse(k, sys.error(s"missing argument $k"))
    val workload = apply("workload")
    val kind = apply("kind")
    val data = apply("data")
    val seconds = apply("seconds").toDouble
    val trace = apply("trace") == "1"
    val out = apply("out")
    val cores = apply("cores").toInt
    val queries = apply("queries").split(',').filter(_.nonEmpty).toSeq
    val setups = apply("setups").toInt
    val fixture = apply("fixture")
    val warmup = apply("warmup").toInt
    val maxPasses = apply("max_passes").toInt
  }

  /** One unit of closed-loop work; `after` runs untimed once its pass ends. */
  trait Op {
    def name: String
    def run(spark: SparkSession, tr: Tracer): Unit
    def after(spark: SparkSession, traced: Boolean, m: mutable.Map[String, Double]): Unit = ()
  }

  /** A benched query: construct the DataFrame, then write the result as
    * parquet under `outRoot/<name>` — `graft.Verify`'s layout, which the
    * DuckDB oracle check reads after the timed passes. */
  final class QueryOp(q: QueryDef, data: String, outRoot: String) extends Op {
    def name: String = q.name
    def run(spark: SparkSession, tr: Tracer): Unit = {
      val df = tr.span("queries.build")(q.fn(spark, data))
      tr.span("exec.action")(df.write.mode("overwrite").parquet(s"$outRoot/${q.name}"))
    }
  }

  val VersionDate = "2026-08-12"

  def inputs(d: String): BuildGraph.Inputs = BuildGraph.Inputs(
    mimTitlesPath = s"$d/mimTitles.txt", mim2genePath = s"$d/mim2gene.txt",
    morbidmapPath = s"$d/morbidmap.txt", phenotypicSeriesPath = s"$d/phenotypicSeries.txt",
    genemap2Path = s"$d/genemap2.txt", hgncPath = s"$d/hgnc_complete_set.txt",
    exclusionsPath = s"$d/exclusions-disease-gene.tsv",
    protectedPath = s"$d/protected-disease-gene.tsv",
    capitalizationsPath = s"$d/known_capitalizations.tsv",
    sssomPath = s"$d/mondo_exactmatch_omim.sssom.tsv",
    mappingsPath = s"$d/mappings.tsv", pubmedRefsPath = s"$d/pubmed-refs.tsv")

  /** The reader calls `BuildGraph.build` makes, one by one. Traced passes
    * time them on their own, untimed after the release, for `io.read_s`:
    * the readers are lazy, so this costs their file listing and header
    * reads, as inside `build`. */
  def readTables(spark: SparkSession, in: BuildGraph.Inputs): BuildGraph.InputTables = {
    def tsv(p: String) = spark.read.option("sep", "\t").option("header", "true").csv(p)
    BuildGraph.InputTables(
      titlesRaw = CommentFramedTsv.read(spark, in.mimTitlesPath,
        Some(Seq("prefix", "mim", "pref_titles", "alt_titles", "inc_titles"))),
      mim2geneRaw = CommentFramedTsv.read(spark, in.mim2genePath,
        Some(Seq("mim", "entry_type", "entrez_id", "hgnc_symbol", "ensembl_id"))),
      morbidRaw = CommentFramedTsv.read(spark, in.morbidmapPath,
        Some(Seq("phenotype", "gene_symbols", "gene_mim", "cyto"))),
      psRaw = CommentFramedTsv.read(spark, in.phenotypicSeriesPath, Some(Seq("ps_id", "a", "b"))),
      genemap2 = CommentFramedTsv.read(spark, in.genemap2Path),
      hgncRaw = tsv(in.hgncPath),
      exclusions = CuratorTables.exclusions(spark, in.exclusionsPath),
      protectd = CuratorTables.protected_(spark, in.protectedPath),
      caps = CuratorTables.knownCapitalizations(spark, in.capitalizationsPath),
      omimToMondo = Sssom.readOmimToMondo(spark, in.sssomPath),
      mappings = tsv(in.mappingsPath),
      pubmed = tsv(in.pubmedRefsPath))
  }

  /** One full release: `BuildGraph.build`, then `writeArtifacts` into a
    * fresh directory. */
  final class ReleaseOp(src: String, outRoot: String) extends Op {
    val name = "release"
    private var n = 0
    private var last: Option[(BuildGraph.Outputs, String)] = None
    def run(spark: SparkSession, tr: Tracer): Unit = {
      n += 1
      val dir = s"$outRoot/release-$n"
      val out = tr.span("pipeline.build")(BuildGraph.build(spark, inputs(src), VersionDate))
      last = Some((out, dir))
      tr.span("sinks.write")(BuildGraph.writeArtifacts(spark, out, dir))
    }
    /** Untimed: the checked counts of this release's own artifacts. */
    val outputs = mutable.ArrayBuffer.empty[Map[String, Long]]
    override def after(spark: SparkSession, traced: Boolean, m: mutable.Map[String, Double]): Unit = {
      last.foreach { case (out, dir) =>
        val counts = Map(
          "triples" -> out.triples.count(),
          "morbidmap_protected_added_rows" -> dataRows(s"$dir/morbidmap-protected-added.tsv"),
          "mim2gene_protected_added_rows" -> dataRows(s"$dir/mim2gene-protected-added.tsv"),
          "output_bytes" -> Files.dirBytes(dir))
        outputs += counts
        if (traced) {
          val t0 = System.nanoTime()
          readTables(spark, inputs(src))
          m("io.read_s") = (System.nanoTime() - t0) / 1e9
          m("graph.triples") = counts("triples").toDouble
          m("sinks.output_mb") = counts("output_bytes") / 1e6
        }
        Files.deleteTree(new File(dir))
      }
      last = None
      spark.catalog.clearCache()
    }
  }

  /** Data rows of a single-file TSV artifact (its header row excluded). */
  def dataRows(artifact: String): Long =
    Option(new File(artifact).listFiles).toSeq.flatten.filter(_.getName.startsWith("part-"))
      .map(f => java.nio.file.Files.lines(f.toPath).count()).sum - 1

  object Files {
    def dirBytes(p: String): Long = {
      def walk(f: File): Long = if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(walk).sum else f.length
      walk(new File(p))
    }
    def deleteTree(f: File): Unit = {
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(deleteTree)
      f.delete()
    }
    def write(p: String, s: String): Unit =
      java.nio.file.Files.write(Paths.get(p), s.getBytes(UTF_8))
  }

  // ------------------------------------------------------------ session

  /** `graft.Bench`'s session: local[cores], shuffle partitions = cores, the
    * 64k coalescing floor, no UI; the JVM carries the UTC session zone. */
  def session(c: Conf): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${c.cores}]")
      .config("spark.sql.shuffle.partitions", c.cores.toString)
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"${c.out}/warehouse")
      .config("spark.local.dir", s"${c.out}/local")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def stopSession(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Session start, Bench's warm-up and the untimed `benchSetup` builds. */
  def setupOnce(c: Conf, qs: Seq[QueryDef]): (SparkSession, Double) = {
    val t0 = System.nanoTime()
    val spark = session(c)
    noop(spark.range(1000).selectExpr("sum(id)"))
    if (c.kind == "omim") noop(CommentFramedTsv.read(spark, s"${c.data}/mimTitles.txt"))
    else noop(spark.read.parquet(s"${c.data}/region.parquet"))
    qs.foreach(q => q.benchSetup.foreach(f => f(spark, c.data)))
    (spark, (System.nanoTime() - t0) / 1e9)
  }

  // ------------------------------------------------------------ helpers

  def median(xs: Seq[Double]): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** A fixed single-threaded integer loop: the host-speed control. */
  private var calibSink = 0L
  def calib(): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      var x = 0x9E3779B97F4A7C15L
      var i = 0
      while (i < 100000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
      calibSink ^= x
      (System.nanoTime() - t0) / 1e9
    }
    median(Seq.fill(3)(once()))
  }

  object Json {
    def str(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case ch if ch < ' ' => f"\\u${ch.toInt}%04x"
      case ch => ch.toString
    } + "\""
    def apply(v: Any): String = v match {
      case null => "null"
      case s: String => str(s)
      case b: Boolean => b.toString
      case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
      case n: Int => n.toString
      case n: Long => n.toString
      case m: scala.collection.Map[_, _] =>
        m.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
      case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
      case o => str(o.toString)
    }
  }

  // ------------------------------------------------------------ main

  def main(argv: Array[String]): Unit = {
    val c = Conf(argv.map(_.split("=", 2)).collect { case Array(k, v) => k -> v }.toMap)
    new File(c.out).mkdirs()
    val byName = SparkEntry.registry.map(q => q.name -> q).toMap
    val missing = c.queries.filterNot(byName.contains)
    require(missing.isEmpty, s"unknown queries: ${missing.mkString(", ")}")
    val qs = c.queries.map(byName)

    // set-up, several times; the last session is kept
    val setupTimes = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    (1 to c.setups).foreach { i =>
      val (s, dt) = setupOnce(c, qs)
      setupTimes += dt
      if (i < c.setups) stopSession(s) else spark = s
    }
    val sc = spark.sparkContext

    val release = if (c.kind == "omim") Some(new ReleaseOp(c.data, s"${c.out}/releases")) else None
    val ops: Seq[Op] = release.toSeq ++ qs.map(q => new QueryOp(q, c.data, s"${c.out}/results"))

    // the q40 fixture build: the release check, and the JIT warm-up of the
    // pipeline's code path before the timed release
    val w0 = System.nanoTime()
    val fixtureResult = release.map(_ => fixtureCheck(spark, c))
    val untraced = new Tracer
    (1 to c.warmup).foreach(_ => ops.foreach { op =>
      op.run(spark, untraced)
      op.after(spark, traced = false, mutable.Map.empty)
    })
    val warmupSecs = (System.nanoTime() - w0) / 1e9
    val calibBefore = calib()
    val tracer = new Tracer
    val probes = if (c.trace) Some(new Probes(spark)) else None

    final case class Sample(pass: Int, op: String, secs: Double, ok: Boolean, traced: Boolean)
    val samples = mutable.ArrayBuffer.empty[Sample]
    final case class Pass(wall: Double, traced: Boolean)
    val passes = mutable.ArrayBuffer.empty[Pass]
    val tracedMetrics = mutable.ArrayBuffer.empty[mutable.Map[String, Double]]
    val errors = mutable.ArrayBuffer.empty[String]

    val start = System.nanoTime()
    def elapsed = (System.nanoTime() - start) / 1e9
    val hardStop = 2 * c.seconds + 60
    var p = 0
    // passes until `seconds` have passed; traced runs (warmed up, see
    // run.py) make at least one untraced and one traced pass
    val maxPasses = if (c.trace || c.maxPasses == 0) Int.MaxValue else c.maxPasses
    while ((elapsed < c.seconds || (c.trace && passes.size < 2)) && elapsed < hardStop &&
        passes.size < maxPasses) {
      val traced = c.trace && p % 2 == 1
      tracer.on = traced
      val m = mutable.Map.empty[String, Double]
      val jit0 = Jvm.jitMs
      val classes0 = Jvm.codegenClasses
      probes.foreach { pr => if (traced) { pr.clear(); pr.attach() } }
      val pt0 = System.nanoTime()
      tracer.span("pass", "pass" -> p.toString) {
        ops.zipWithIndex.foreach { case (op, i) =>
          val key = s"$p/$i"
          sc.setJobDescription(s"perfbench ${c.workload} pass=$p op=${op.name}")
          sc.setLocalProperty(ExecListener.OpKey, key)
          val t0 = System.nanoTime()
          val ok =
            try { tracer.span("op", "op" -> op.name, "key" -> key)(op.run(spark, tracer)); true }
            catch { case NonFatal(e) =>
              errors += s"${op.name}: $e"
              System.err.println(s"[perfbench] ${op.name} failed: $e")
              false }
          val dt = (System.nanoTime() - t0) / 1e9
          sc.setLocalProperty(ExecListener.OpKey, null)
          sc.setJobDescription(null)
          samples += Sample(p, op.name, dt, ok, traced)
        }
      }
      val pt1 = System.nanoTime()
      val wall = samples.filter(_.pass == p).map(_.secs).sum
      passes += Pass(wall, traced)
      if (traced) probes.foreach { pr =>
        pr.detach()
        m ++= layerMetrics(c, pr, tracer, wall, pt0, pt1,
          samples.filter(_.pass == p).map(s => s.op -> s.secs).toSeq)
        m("jvm.jit_s") = (Jvm.jitMs - jit0) / 1e3
        m("codegen.classes") = (Jvm.codegenClasses - classes0).toDouble
        m("jvm.heap_peak_mb") = pr.heapPeakMb
      }
      // untimed, and outside the traced interval
      ops.foreach(_.after(spark, traced, m))
      if (traced) tracedMetrics += m
      p += 1
    }
    tracer.on = false
    val calibAfter = calib()

    // ---------------------------------------------------------- checks
    val checks = mutable.LinkedHashMap.empty[String, Any]
    val timedEnd = System.nanoTime()
    release match {
      case Some(r) => checks ++= fixtureResult.get + ("releases" -> r.outputs.toSeq)
      case None => checks ++= queryChecks(c, qs)
    }

    // ---------------------------------------------------------- output
    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> c.workload,
      "setup_s" -> setupTimes.toSeq,
      "calib_before_s" -> calibBefore,
      "calib_after_s" -> calibAfter,
      "passes" -> passes.map(p => Map("wall_s" -> p.wall, "traced" -> p.traced)).toSeq,
      "samples" -> samples.map(s => Map("pass" -> s.pass, "op" -> s.op, "secs" -> s.secs,
        "ok" -> s.ok, "traced" -> s.traced)).toSeq,
      "errors" -> errors.toSeq,
      "checks" -> checks,
      "phase_s" -> Map("warmup" -> warmupSecs, "timed" -> (timedEnd - start) / 1e9,
        "checks" -> (System.nanoTime() - timedEnd) / 1e9))
    if (c.trace) {
      val keys = tracedMetrics.flatMap(_.keys).distinct
      result("layers") = keys.map { k =>
        val xs = tracedMetrics.flatMap(_.get(k)).toSeq
        k -> (if (k == "jvm.heap_peak_mb") xs.max else median(xs))
      }.toMap
      result("layers_all") = tracedMetrics.map(_.toMap).toSeq
      result("layer_table") = layerTable(tracer)
      Files.write(s"${c.out}/spans.jsonl", tracer.spans.map { s =>
        Json(Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
          "start_s" -> (s.t0 - start) / 1e9, "end_s" -> (s.t1 - start) / 1e9, "attrs" -> s.attrs))
      }.mkString("", "\n", "\n"))
    }
    Files.write(s"${c.out}/result.json", Json(result))
    stopSession(spark)
  }

  // ------------------------------------------------------------ traced pass

  /** Per-layer metrics of one traced pass; Spark jobs and stages become
    * spans under the innermost benchmark span open when they started. */
  def layerMetrics(c: Conf, pr: Probes, tr: Tracer, wall: Double,
      pt0: Long, pt1: Long, opTimes: Seq[(String, Double)]): Map[String, Double] = {
    val ex = pr.exec
    val passSpans = tr.spans.filter(s => s.t0 >= pt0 && s.t1 <= pt1).toSeq
    def spanSecs(name: String) = passSpans.filter(_.name == name).map(_.dur).sum / 1e9
    val stageNumTasks = ex.stages.map(s => s.id -> s.numTasks).toMap
    val stageToJob = ex.jobs.values.flatMap(j => j.stageIds.map(_ -> j)).toMap
    val opOfKey = passSpans.filter(_.name == "op").map(s => s.attrs("key") -> s.attrs("op")).toMap
    val tasks = ex.tasks.toSeq
    val taskMs = tasks.map(_.runMs).sum
    val singleMs = tasks.filter(t => stageNumTasks.get(t.stageId).contains(1)).map(_.runMs).sum
    val jobIntervals = ex.jobs.values.map(j => (tr.epochMsToNano(j.startMs), tr.epochMsToNano(j.endMs)))
    val m = mutable.Map[String, Double](
      "queries.build_s" -> spanSecs("queries.build"),
      "pipeline.build_s" -> spanSecs("pipeline.build"),
      "sinks.write_s" -> spanSecs("sinks.write"),
      "io.input_mb" -> tasks.map(_.inBytes).sum / 1e6,
      "io.input_rows" -> tasks.map(_.inRecords).sum.toDouble,
      "plan.analysis_s" -> pr.plan.analysisMs / 1e3,
      "plan.optimization_s" -> pr.plan.optimizationMs / 1e3,
      "plan.planning_s" -> pr.plan.planningMs / 1e3,
      "codegen.compile_s" -> pr.appender.codegenMs / 1e3,
      "warn.window_single_partition" -> pr.appender.windowWarnings.toDouble,
      "exec.jobs" -> ex.jobs.size.toDouble,
      "exec.stages" -> ex.stages.size.toDouble,
      "exec.tasks" -> tasks.size.toDouble,
      "exec.task_s" -> taskMs / 1e3,
      "exec.task_cpu_s" -> tasks.map(_.cpuNs).sum / 1e9,
      "exec.gc_s" -> tasks.map(_.gcMs).sum / 1e3,
      "exec.shuffle_read_mb" -> tasks.map(_.shuffleRead).sum / 1e6,
      "exec.shuffle_write_mb" -> tasks.map(_.shuffleWrite).sum / 1e6,
      "exec.spill_mb" -> tasks.map(_.spill).sum / 1e6,
      "exec.single_task_share" -> (if (taskMs > 0) singleMs.toDouble / taskMs else 0.0),
      "exec.core_busy_frac" -> taskMs / 1e3 / (wall * c.cores),
      "exec.driver_only_s" -> (wall - Intervals.covered(jobIntervals, pt0, pt1) / 1e9).max(0.0))
    // jobs started while the sinks span was open
    val sinkSpans = passSpans.filter(_.name == "sinks.write").map(s => (s.t0, s.t1))
    m("sinks.jobs") = ex.jobs.values.count { j =>
      val t = tr.epochMsToNano(j.startMs)
      sinkSpans.exists { case (a, b) => t >= a && t <= b }
    }.toDouble
    // per-query wall and task time
    opTimes.groupBy(_._1).foreach { case (op, xs) => m(s"query.$op.wall_s") = xs.map(_._2).sum }
    tasks.groupBy(t => stageToJob.get(t.stageId).map(_.op).flatMap(opOfKey.get))
      .foreach { case (Some(op), ts) => m(s"query.$op.task_s") = ts.map(_.runMs).sum / 1e3
                 case _ => }
    // Spark jobs and stages as child spans
    ex.jobs.values.foreach { j =>
      val t0 = tr.epochMsToNano(j.startMs)
      val t1 = tr.epochMsToNano(j.endMs) max t0
      val parent = passSpans.filter(s => s.t0 <= t0 && t0 <= s.t1).minByOption(_.dur).map(_.id).getOrElse(0)
      val jid = tr.newId()
      tr.spans += Span(jid, parent, "spark.job", t0, t1, Map("job" -> j.id.toString, "op" -> j.op))
      ex.stages.filter(s => stageToJob.get(s.id).exists(_.id == j.id)).foreach { s =>
        val s0 = tr.epochMsToNano(s.submitMs)
        tr.spans += Span(tr.newId(), jid, "spark.stage", s0, tr.epochMsToNano(s.completeMs) max s0,
          Map("stage" -> s.id.toString, "tasks" -> s.numTasks.toString, "name" -> s.name))
      }
    }
    m.toMap
  }

  /** Self time per layer: a span's duration minus the part its children
    * cover, summed by span name and divided by the traced passes. */
  def layerTable(tr: Tracer): Seq[Map[String, Any]] = {
    val spans = tr.spans.toSeq
    val nPasses = spans.count(_.name == "pass").max(1)
    val children = spans.groupBy(_.parent)
    spans.groupBy(_.name).toSeq.map { case (name, ss) =>
      val total = ss.map(_.dur).sum
      val self = ss.map { s =>
        s.dur - Intervals.covered(children.getOrElse(s.id, Nil).map(k => (k.t0, k.t1)), s.t0, s.t1)
      }.sum
      Map[String, Any]("layer" -> name, "spans" -> ss.size / nPasses,
        "total_s" -> total / 1e9 / nPasses, "self_s" -> self / 1e9 / nPasses)
    }.sortBy(r => -r("self_s").asInstanceOf[Double])
  }

  // ------------------------------------------------------------ checks

  /** The oracle SQL beside the last pass's results, for run.py's DuckDB
    * check (every benched query has an oracle). */
  def queryChecks(c: Conf, qs: Seq[QueryDef]): Map[String, Any] = {
    val dir = s"${c.out}/results"
    new File(dir).mkdirs()
    Files.write(s"$dir/oracle_sql.json", Json(qs.flatMap(q => q.oracle.map(o => q.name -> o.trim)).toMap))
    Map("results_dir" -> dir)
  }

  /** The q40 fixture digest (403 triples), built in the run's session. */
  def fixtureCheck(spark: SparkSession, c: Conf): Map[String, Any] = {
    val fx = BuildGraph.build(spark, inputs(c.fixture), VersionDate).triples.toDF()
      .agg(count(lit(1)).as("n"),
        md5(array_join(sort_array(collect_list(
          concat_ws("\u0001", col("s"), col("p"), col("o"), col("oIsLiteral").cast("string")))),
          "\u0002")).as("d"))
      .head()
    spark.catalog.clearCache()
    Map("fixture_triples" -> fx.getLong(0), "fixture_digest" -> fx.getString(1))
  }
}
