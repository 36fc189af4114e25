package graft.pipeline

import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest
import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.catalyst.plans.logical.Sort
import org.apache.spark.sql.execution.{LogicalRDD, QueryExecution}
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkSpec
import graft.io.Sinks
import graft.model.Triple
import graft.operators.Barrier

/** Full end-to-end build over the synthetic fixtures: every source feeds
  * one triples DF; artifacts written and spot-checked. */
class BuildGraphSpec extends SparkSpec {

  private val inputs = BuildGraph.Inputs.fromDir("src/test/resources/omim")
  private val versionDate = "2026-08-12"
  private lazy val out = BuildGraph.build(spark, inputs, versionDate)

  /** md5 of each artifact's single part file: the fixture release's
    * bytes, identical at shuffle partitions 1, 4 and 7. */
  private val golden = Map(
    "omim.ttl" -> "397230eb8ef6242654c34047f3e07d26",
    "review.tsv" -> "f3bcaa590f10ddb255ada2f9da494e03",
    "mondo-omim-susceptibility-subset.robot.tsv" -> "d8aa92c4dc97b8211f8f36550fd67f1c",
    "mondo-omim-genes.robot.tsv" -> "53a3cf188817f989f1ade15dce50ae30",
    "disease-gene-relationships-qc.tsv" -> "6201279ba40b8335a4713dbcf1ca62bb",
    "omim.sssom.tsv" -> "ad998dc10f7b1ffe2eb3223ddb8d04e0",
    "morbidmap-protected-added.tsv" -> "cb066dc191bc6d9e049f6e371c84d3e5",
    "mim2gene-protected-added.tsv" -> "c4f947ff2db2599c94d9c950765f0300")

  private def partFile(dir: String, artifact: String): Path =
    Files.list(Paths.get(dir, artifact)).iterator().asScala
      .find(p => p.getFileName.toString.startsWith("part-") && !p.toString.endsWith(".crc"))
      .getOrElse(fail(s"$artifact has no part file"))

  private def digests(dir: String): Map[String, String] = golden.keys.map { n =>
    n -> MessageDigest.getInstance("MD5").digest(Files.readAllBytes(partFile(dir, n)))
      .map("%02x".format(_)).mkString
  }.toMap

  test("build assembles a coherent graph") {
    val t = out.triples.collect().toSet
    // header with injected version date
    assert(t.exists(x => x.p == "owl:versionInfo" && x.o == "2026-08-12"))
    // entity + cascade + mim2gene + hgnc + ps + links all contributed
    assert(t.contains(Triple.uri("OMIM:100100", "rdf:type", "owl:Class")))
    assert(t.exists(x => x.p == "owl:onProperty" && x.o == "RO:0004003"))
    assert(t.contains(Triple.uri("OMIM:100001", "skos:exactMatch", "NCBIGENE:218")))
    assert(t.contains(Triple.uri("OMIM:614041", "skos:exactMatch", "HGNC:4132")))
    assert(t.contains(Triple.uri("OMIM:100700", "rdfs:subClassOf", "OMIMPS:100700")))
    assert(t.exists(x => x.p == "IAO:0000142" && x.o == "PMID:1852104"))
    // SPARQL updates ran: flipped mondo mapping present both directions
    assert(t.contains(Triple.uri("OMIM:182280", "skos:exactMatch", "MONDO:0100537")))
    // protected augmentation (J9/J10): the 300000/100001 assoc absent from
    // morbidmap.txt is synthesized into the table and rides the cascade's
    // protected branch — its evidence is the map-key-3 meaning, and the
    // J5 leftover path (fixed 'protected association' string) never fires
    assert(t.contains(Triple.uri("OMIM:100001", "skos:exactMatch", "HGNC:4100")))
    assert(t.exists(x => x.p == "biolink:has_evidence" &&
      x.o == "Evidence: (3) The molecular basis for the disorder is known; a mutation has been found in the gene."))
    assert(!t.exists(_.o == "Evidence: (3) disease-defining (protected association)"))
    // hgnc_links: parallel RO:0004003 restriction targeting an HGNC class
    assert(t.contains(Triple.uri("HGNC:4132", "rdf:type", "owl:Class")))
    assert(t.exists(x => x.p == "owl:someValuesFrom" && x.o.startsWith("HGNC:")))
    // no duplicate triples after the update-stage distinct
    assert(out.triples.count() == out.triples.distinct().count())
  }

  test("QC reports are consistent with the graph") {
    val qc = out.diseaseGeneQc.collect()
    assert(qc.nonEmpty)
    assert(qc.forall(r => Set("Disease2Gene", "Gene2Disease")
      .contains(r.getAs[String]("PredDirection"))))
    val genes = out.mondoOmimGenes.collect()
    // protected mondo mapping 182280 -> MONDO:0100537 with HGNC:4132 via RO:0004003
    assert(genes.exists(r => r.getAs[String]("mondo_id") == "MONDO:0100537" &&
      r.getAs[String]("hgnc_id") == "HGNC:4132"))
    assert(out.reviewCases.count() > 0)
    assert(out.susceptibilityRows.count() == 2)
  }

  test("augmented tables expose synthesized protected rows (J9/J10)") {
    import org.apache.spark.sql.functions.col
    val synth = out.morbidmapAugmented.filter(col("is_added_protection")).collect()
    assert(synth.length == 1)
    assert(synth.head.getAs[String]("p_mim") == "300000" &&
      synth.head.getAs[String]("gene_mim") == "100001" &&
      synth.head.getAs[String]("p_label") == "Ghost disease, ")
    // review-visible: the self-ref detection input is the augmented table
    assert(out.morbidmapAugmented.filter(col("p_mim") === "300000").count() == 1)
    // protected gene 614041 (GG1) is absent from mim2gene.txt -> one
    // synthesized 'gene' row; 100001/GA1 is present -> skipped
    val m2gSynth = out.mim2geneAugmented.filter(col("is_added_protection")).collect()
    assert(m2gSynth.map(r => (r.getAs[String]("mim"),
      r.getAs[String]("entry_type"), r.getAs[String]("hgnc_symbol"))).toSeq ==
      Seq(("614041", "gene", "GG1")))
  }

  test("writeArtifacts produces the eight release files") {
    val dir = Files.createTempDirectory("build").toString
    BuildGraph.writeArtifacts(spark, out, dir)
    golden.keys.foreach { n =>
      assert(Files.readAllLines(partFile(dir, n)).size() > 0, s"$n empty")
    }
    assert(digests(dir) == golden, "the fixture release drifted from its recorded bytes")
    val lines = Files.readAllLines(partFile(dir, "omim.ttl")).asScala
    assert(lines.head.startsWith("@prefix"))
    assert(lines.exists(_.startsWith("OMIM:100100 rdf:type owl:Class .")))
    // S6 acceptance: every CURIE prefix appearing in the body is bound
    // by an @prefix header line (no unbound prefix in omim.ttl)
    val bound = lines.takeWhile(_.startsWith("@prefix "))
      .map(_.stripPrefix("@prefix ").takeWhile(_ != ':')).toSet
    val curiePfx = "^([A-Za-z][A-Za-z0-9_.-]*):".r
    val usedInBody = lines.dropWhile(_.startsWith("@prefix "))
      .flatMap(_.split(" ").take(3)) // s p o terms; literals start with '"'
      .filter(t => !t.startsWith("\"") && !t.startsWith("_:") && !t.startsWith("<"))
      .flatMap(t => curiePfx.findFirstMatchIn(t).map(_.group(1))).toSet
    assert((usedInBody -- bound).isEmpty,
      s"unbound prefixes in omim.ttl: ${(usedInBody -- bound).mkString(",")}")
    val sl = Files.readAllLines(partFile(dir, "omim.sssom.tsv")).asScala
    assert(sl.head.startsWith("# curie_map:"))
    assert(sl.contains("subject_id\tpredicate_id\tobject_id\tmapping_justification"))
  }

  test("the release is byte-identical with durable barriers at one shuffle partition") {
    val ckpt = Files.createTempDirectory("golden-ckpt")
    val dir = Files.createTempDirectory("golden-durable").toString
    val partitions = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set(Barrier.ConfKey, ckpt.toString)
      spark.conf.set("spark.sql.shuffle.partitions", "1")
      val durable = BuildGraph.build(spark, inputs, versionDate)
      BuildGraph.writeArtifacts(spark, durable, dir)
      assert(digests(dir) == golden)
      // the graph's lineage cuts are reliable checkpoints under the conf'd dir
      val cuts = durable.triples.queryExecution.analyzed.collect { case r: LogicalRDD => r.rdd }
      assert(cuts.nonEmpty && cuts.forall(_.getCheckpointFile.exists(_.contains(ckpt.toString))),
        s"graph cuts not durable: ${cuts.map(_.getCheckpointFile)}")
    } finally {
      spark.conf.unset(Barrier.ConfKey)
      spark.conf.set("spark.sql.shuffle.partitions", partitions)
      org.apache.commons.io.FileUtils.deleteQuietly(ckpt.toFile)
    }
  }

  test("each artifact write carries exactly one global Sort") {
    val dir = Files.createTempDirectory("sorts").toString
    // artifact name -> global Sorts in its write's optimized plan
    val sorts = new ConcurrentHashMap[String, Int]()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        qe.optimizedPlan.collectFirst { case w: InsertIntoHadoopFsRelationCommand => w }
          .foreach { w =>
            sorts.put(w.outputPath.getName,
              qe.optimizedPlan.collect { case s: Sort if s.global => s }.size)
          }
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      BuildGraph.writeArtifacts(spark, out, dir)
      // listener events arrive asynchronously
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (sorts.size < golden.size && System.nanoTime() < deadline) Thread.sleep(50)
    } finally spark.listenerManager.unregister(listener)
    assert(sorts.asScala.toMap == golden.keys.map(_ -> 1).toMap)
  }

  test("writeArtifacts fans out: caller's properties and a release:<artifact> label on every job") {
    val dir = Files.createTempDirectory("fanout").toString
    val sc = spark.sparkContext
    val key = "graft.spec.caller"
    out // built before the listener, so only the writes' jobs are seen
    // job id -> (caller property, call site); job id -> (start ms, end ms)
    val props = new ConcurrentHashMap[Int, (String, String)]()
    val times = new ConcurrentHashMap[Int, (Long, Long)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        def prop(k: String) = Option(e.properties).map(_.getProperty(k)).orNull
        props.put(e.jobId, (prop(key), prop("callSite.short")))
        times.put(e.jobId, (e.time, e.time))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        times.computeIfPresent(e.jobId, (_, t) => (t._1, e.time))
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(key, "release")
      try BuildGraph.writeArtifacts(spark, out, dir) finally sc.setLocalProperty(key, null)
      // listener events arrive in order: once a later job's start is seen,
      // every job the release started has been seen too
      sc.setLocalProperty(key, "sentinel")
      try spark.range(1).count() finally sc.setLocalProperty(key, null)
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!props.values.asScala.exists(_._1 == "sentinel") && System.nanoTime() < deadline)
        Thread.sleep(50)
    } finally sc.removeSparkListener(listener)
    assert(digests(dir) == golden)
    val jobs = props.asScala.toMap.filter(_._2._1 != "sentinel")
    assert(jobs.nonEmpty)
    assert(jobs.values.forall(_._1 == "release"),
      s"jobs without the caller's local property: ${jobs.filter(_._2._1 != "release")}")
    val labels = golden.keys.map(n => s"release:$n").toSet
    assert(jobs.values.map(_._2).toSet == labels)
    // each artifact's job window [first start, last end]
    val windows = jobs.groupBy(_._2._2).map { case (label, js) =>
      val ts = js.keys.map(times.get)
      label -> (ts.map(_._1).min, ts.map(_._2).max)
    }
    val overlapping = for {
      (a, (a0, a1)) <- windows; (b, (b0, b1)) <- windows
      if a < b && a0 <= b1 && b0 <= a1
    } yield (a, b)
    assert(overlapping.nonEmpty, s"the artifact writes ran one after another: $windows")
  }

  test("an unbound CURIE prefix fails the release with the turtle sink's own error, after the other writes") {
    import spark.implicits._
    val nope = Seq(Triple.uri("NOPE:1", "rdf:type", "owl:Class")).toDS()
    val direct = intercept[IllegalArgumentException](
      Sinks.writeTurtle(spark, nope, Files.createTempDirectory("nope").resolve("omim.ttl").toString))
    assert(direct.getMessage.contains("NOPE"))

    val dir = Files.createTempDirectory("failed-release")
    val broken = out.copy(triples = out.triples.union(nope))
    val thrown = intercept[Throwable](BuildGraph.writeArtifacts(spark, broken, dir.toString))
    assert(thrown.getClass == classOf[IllegalArgumentException], thrown)
    assert(thrown.getMessage == direct.getMessage)
    // the other seven writes ran to their end before the failure surfaced
    golden.keys.filter(_ != "omim.ttl").foreach { n =>
      assert(Files.exists(dir.resolve(n).resolve("_SUCCESS")), s"$n unfinished")
    }
    assert(!Files.exists(dir.resolve("omim.ttl").resolve("_SUCCESS")))
    val writers = Thread.getAllStackTraces.keySet.asScala.filter(_.getName == Sinks.WriterThreadName)
    assert(writers.isEmpty, s"writer threads outlived the release: $writers")
  }
}
