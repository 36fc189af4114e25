package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.client.{CacheRefresh, HttpTransport, OmimClient}
import graft.pipeline.{BuildGraph, OmimPipeline}

/** CLI entry point mirroring the reference's interface
  * (omim2obo/interfaces/cli.py:30-42): build omim.ttl + release
  * artifacts from a directory of OMIM source files.
  *
  * `--use-cache` (the reference's `-c`) keeps the cached API tables
  * (mappings.tsv / pubmed-refs.tsv) as-is; without it the caches are
  * refreshed through the real batched API client first (requires
  * OMIM_API_KEY; refreshed copies are written to the output directory
  * and used for the build — inputs are never mutated).
  */
object Main {

  val usage: String =
    """omimspark: builds omim.ttl + release artifacts from OMIM sources
      |
      |Usage: graft.Main --data-dir DIR --out-dir DIR [options]
      |
      |  --data-dir DIR       directory with mimTitles.txt, mim2gene.txt,
      |                       morbidmap.txt, phenotypicSeries.txt, genemap2.txt,
      |                       hgnc_complete_set.txt, curator TSVs, SSSOM,
      |                       mappings.tsv, pubmed-refs.tsv
      |  --out-dir DIR        where to write omim.ttl + artifacts
      |  -c, --use-cache      use the cached API tables instead of refreshing
      |                       via the OMIM API (OMIM_API_KEY)
      |  --version-date DATE  ontology version date (default: today)
      |  --master MASTER      spark master (default: local[*])
      |  -h, --help           show this help""".stripMargin

  final case class Config(dataDir: String = "", outDir: String = "",
      useCache: Boolean = false,
      versionDate: String = java.time.LocalDate.now().toString,
      master: String = "local[*]", help: Boolean = false)

  def parseArgs(args: Seq[String]): Either[String, Config] = {
    def loop(rest: List[String], c: Config): Either[String, Config] = rest match {
      case Nil => Right(c)
      case ("-h" | "--help") :: _ => Right(c.copy(help = true))
      case ("-c" | "--use-cache") :: t => loop(t, c.copy(useCache = true))
      case "--data-dir" :: v :: t => loop(t, c.copy(dataDir = v))
      case "--out-dir" :: v :: t => loop(t, c.copy(outDir = v))
      case "--version-date" :: v :: t => loop(t, c.copy(versionDate = v))
      case "--master" :: v :: t => loop(t, c.copy(master = v))
      case other :: _ => Left(s"unknown or incomplete argument: $other")
    }
    loop(args.toList, Config()).flatMap { c =>
      if (c.help) Right(c)
      else if (c.dataDir.isEmpty || c.outDir.isEmpty)
        Left("--data-dir and --out-dir are required")
      else Right(c)
    }
  }

  def main(args: Array[String]): Unit = sys.exit(run(args.toIndexedSeq, None))

  /** Testable body: returns the exit code; reuses `existing` session when
    * given (specs), else builds one from --master. */
  def run(args: Seq[String], existing: Option[SparkSession]): Int =
    parseArgs(args) match {
      case Left(err) =>
        System.err.println(s"error: $err\n\n$usage"); 2
      case Right(c) if c.help =>
        println(usage); 0
      case Right(c) =>
        val spark = existing.getOrElse(SparkSession.builder()
          .master(c.master)
          .config("spark.sql.shuffle.partitions",
            math.max(2, Runtime.getRuntime.availableProcessors()))
          .config("spark.sql.session.timeZone", "UTC")
          .getOrCreate())
        try {
          val layout = BuildGraph.Inputs.fromDir(c.dataDir)
          val in =
            if (c.useCache) layout
            else refreshCaches(spark, c, layout) match {
              case Right(refreshed) => refreshed
              case Left(err) => System.err.println(s"error: $err"); return 2
            }
          val out = BuildGraph.build(spark, in, c.versionDate)
          new java.io.File(c.outDir).mkdirs()
          BuildGraph.writeArtifacts(spark, out, c.outDir)
          println(s"[graft] wrote ${out.triples.count()} triples + artifacts to ${c.outDir}")
          0
        } finally if (existing.isEmpty) spark.stop()
    }

  /** The no-cache path: refresh mappings/pubmed through the real client
    * (decide-stale → batched fetch → parse → upsert), writing the
    * refreshed tables to the OUTPUT dir and pointing `in` at them. */
  private def refreshCaches(spark: SparkSession, c: Config, in: BuildGraph.Inputs)
      : Either[String, BuildGraph.Inputs] =
    sys.env.get("OMIM_API_KEY") match {
      case None =>
        Left("cache refresh needs OMIM_API_KEY (or pass --use-cache to build " +
          "from the cached API tables)")
      case Some(key) =>
        val entryUrl = sys.env.getOrElse("OMIM_API_URL", "https://api.omim.org/api/entry")
        val transport = new HttpTransport(entryUrl, key)
        val cached = CacheRefresh.CacheTables(
          mappings = graft.io.HeaderedTsv.read(spark, in.mappingsPath),
          pubmed = graft.io.HeaderedTsv.read(spark, in.pubmedRefsPath))
        val titles = OmimPipeline.parseMimTitles(graft.io.CommentFramedTsv.read(
          spark, in.mimTitlesPath, Some(BuildGraph.TitleColumns)))
        val allMims = titles.select(col("mim"))
        val phenos = titles
          .filter(col("omim_type").isin("PHENOTYPE", "HERITABLE_PHENOTYPIC_MARKER"))
          .select(col("mim"))
        val refreshed = CacheRefresh.refresh(spark, cached, allMims, phenos,
          transport, fetchDate = c.versionDate)
        val mp = s"${c.outDir}/mappings.tsv"; val pp = s"${c.outDir}/pubmed-refs.tsv"
        new java.io.File(c.outDir).mkdirs()
        CacheRefresh.writeCaches(refreshed, mp, pp)
        Right(in.copy(mappingsPath = mp, pubmedRefsPath = pp))
    }
}
