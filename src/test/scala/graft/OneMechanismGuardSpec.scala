package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source-scan guard that each driver-side chore keeps ONE mechanism:
  * sessions are built only by [[LocalSession]] (and `Main.run`, whose
  * `--master` is a deployment setting), an Observation's future is
  * awaited only by [[graft.operators.Barrier.observed]], main source
  * cuts lineage only through [[graft.operators.Barrier.cut]] (so the
  * durable-barrier conf reaches every cut), JPEG entropy decoders are
  * built only by [[graft.multimodal.JpegCodec]]'s scan layer, which the
  * hierarchical decoder calls, and threads and pools are made only by
  * [[graft.io.Sinks.writeAll]], the release's one fan-out. The ANN
  * operators of [[graft.operators.Similarity]] rank through one per-key
  * window and size bulk probes with one √n guard, and the quantile
  * sketches select with one nearest-rank expression. The public object
  * members that no src/main code names — reached only by specs — are a
  * pinned list, so that surface can only shrink; a name counts as used
  * only where its object is named (or in its own file). Comments and string
  * literals are not code, so a scaladoc usage example does not count. */
class OneMechanismGuardSpec extends AnyFunSuite {

  private val sources: Seq[(String, String)] =
    Seq("src/main/scala", "src/test/scala").flatMap { dir =>
      Files.walk(Paths.get(dir)).iterator().asScala
        .filter(_.toString.endsWith(".scala")).toSeq.sorted
        .map((p: Path) => p.toString -> code(Files.readString(p)))
    }

  /** `src` with each comment and string/char literal replaced by a space;
    * the `$name` and `${expr}` parts of an interpolated string are code. */
  private def code(src: String): String = {
    val out = new StringBuilder
    var i = 0
    def skipTo(end: String, from: Int): Unit = {
      val e = src.indexOf(end, from)
      i = if (e < 0) src.length else e + end.length
      out += ' '
    }
    def literal(quote: String): Unit = {
      val interpolated = i > 0 && src(i - 1).isLetter
      var j = i + quote.length
      while (j < src.length && !src.startsWith(quote, j)) {
        if (quote == "\"" && src(j) == '\\') j += 2
        else if (interpolated && src.startsWith("$$", j)) j += 2
        else if (interpolated && src.startsWith("${", j)) {
          val start = j + 2
          var depth = 1
          j = start
          while (j < src.length && depth > 0) {
            if (src(j) == '{') depth += 1 else if (src(j) == '}') depth -= 1
            j += 1
          }
          out += ' ' ++= src.substring(start, j - 1) += ' '
        } else if (interpolated && src(j) == '$') {
          val start = j + 1
          j = start
          while (j < src.length && (src(j).isLetterOrDigit || src(j) == '_')) j += 1
          out += ' ' ++= src.substring(start, j) += ' '
        } else j += 1
      }
      i = j + quote.length
      out += ' '
    }
    while (i < src.length) {
      if (src.startsWith("//", i)) skipTo("\n", i)
      else if (src.startsWith("/*", i)) skipTo("*/", i + 2)
      else if (src.startsWith("\"\"\"", i)) literal("\"\"\"")
      else if (src(i) == '"') literal("\"")
      else if (src.startsWith("'\\", i)) skipTo("'", i + 3)
      else if (src(i) == '\'' && i + 2 < src.length && src(i + 2) == '\'') skipTo("'", i + 2)
      else { out += src(i); i += 1 }
    }
    out.toString
  }

  test("SparkSession.builder() is called only by LocalSession and Main.run") {
    val builder = """SparkSession\s*\.\s*builder\s*\(""".r
    val sites = sources.flatMap { case (f, c) => builder.findAllIn(c).map(_ => f) }
    assert(sites == Seq("src/main/scala/graft/LocalSession.scala",
      "src/main/scala/graft/Main.scala"),
      s"hand-built sessions (use graft.LocalSession): $sites")
  }

  test("Observation futures are awaited only in Barrier.observed") {
    val await = """Await\s*\.\s*result\s*\(""".r
    val sites = sources.collect {
      case (f, c) if c.contains("Observation") && await.findFirstIn(c).nonEmpty => f
    }
    assert(sites == Seq("src/main/scala/graft/operators/Barrier.scala"),
      s"hand-copied observed-metric waits (use Barrier.observed): $sites")
  }

  test("lineage is cut (localCheckpoint/checkpoint/setCheckpointDir) only in Barrier") {
    val cutCall = """\blocalCheckpoint\b|\.\s*checkpoint\b|\bsetCheckpointDir\b""".r
    val sites = sources.collect {
      case (f, c) if f.startsWith("src/main/") && cutCall.findFirstIn(c).nonEmpty => f
    }
    assert(sites == Seq("src/main/scala/graft/operators/Barrier.scala"),
      s"lineage cuts outside Barrier (use Barrier.cut): $sites")
  }

  test("JPEG entropy decoders are built only in JpegCodec") {
    val decoderNew = """new\s+(Huff|BitReader|QmCoder\s*\.\s*Decoder)\s*\(""".r
    val sites = sources.collect {
      case (f, c) if f.startsWith("src/main/") && decoderNew.findFirstIn(c).nonEmpty => f
    }
    assert(sites == Seq("src/main/scala/graft/multimodal/JpegCodec.scala"),
      s"entropy decoders built outside JpegCodec (call its scan layer): $sites")
  }

  test("threads and pools are made in src/main only by the release fan-out, Sinks.writeAll") {
    val poolCall = """\bExecutors\s*\.|\bnew\s+Thread\s*\(|\bExecutionContext\s*\.\s*from|\bForkJoinPool\b""".r
    val helper = "src/main/scala/graft/io/Sinks.scala"
    val sites = sources.flatMap {
      case (f, c) if f.startsWith("src/main/") =>
        // the helper's body: from its `def` to the next one
        val body = if (f != helper) None else {
          val start = c.indexOf("def writeAll")
          Some((start, c.indexOf("def ", start + 1)))
        }
        poolCall.findAllMatchIn(c).map(_.start).collect {
          case at if !body.exists { case (a, b) => a >= 0 && at > a && at < b } => f
        }
      case _ => Nil
    }
    assert(sites.isEmpty, s"threads or pools outside Sinks.writeAll (fan out through it): $sites")
  }

  test("Similarity ranks through one window (topPerKey) and sizes bulk probes with one guard") {
    val f = "src/main/scala/graft/operators/Similarity.scala"
    val c = sources.toMap.apply(f)
    // the helper's body: from its `def` to the next one
    val start = c.indexOf("def topPerKey")
    val end = c.indexOf("def ", start + 1)
    val outside = """\brow_number\s*\(""".r.findAllMatchIn(c).map(_.start)
      .filterNot(at => start >= 0 && at > start && at < end).size
    assert(start >= 0 && outside == 0,
      s"row_number() outside Similarity.topPerKey ($outside sites): rank through rankTopK/topPerKey")
    val sizing = """require\s*\([^,]*math\s*\.\s*sqrt""".r.findAllIn(c).size
    assert(sizing == 1, s"$sizing copies of the bulk sqrt(n) sizing require (one, in bulkCandidates)")
  }

  test("quantile sketches select the nearest rank with one expression") {
    val nearestRank = """greatest\s*\(\s*lit\s*\(\s*1\s*\)\s*,\s*ceil\s*\(""".r
    val sites = sources.flatMap {
      case (f, c) if f.startsWith("src/main/") => nearestRank.findAllIn(c).map(_ => f)
      case _ => Nil
    }
    assert(sites == Seq("src/main/scala/graft/operators/Sketches.scala"),
      s"nearest-rank selections outside Sketches.nearestRank: $sites")
  }

  /** Public defs and vals declared directly in an object (or an object
    * nested in one) of `c`, as (object name, member name). */
  private def objectMembers(c: String): Seq[(String, String)] = {
    val member = """(?:^|[;\n])\s*((?:private|protected)\b[^\n]*?)?(?:(?:final|override|implicit|lazy)\s+)*(?:def|val)\s+([A-Za-z_]\w*)""".r
    // each object's text at its own depth (objects nested in objects too)
    val bodies = Seq.newBuilder[(String, StringBuilder)]
    var stack = List.empty[Option[StringBuilder]] // None: not an object chain
    var stmtStart = 0
    c.indices.foreach { i =>
      c(i) match {
        case '{' =>
          val head = c.substring(stmtStart, i)
          val obj = """\bobject\s+(\w+)""".r.findFirstMatchIn(head)
            .filter(_ => stack.forall(_.nonEmpty) && !head.contains("="))
          val body = obj.map(_ => new StringBuilder("\n"))
          obj.zip(body).foreach { case (o, b) => bodies += o.group(1) -> b }
          stack ::= body
          stmtStart = i + 1
        case '}' =>
          stack = stack.drop(1)
          stmtStart = i + 1
        case ch =>
          stack.headOption.flatten.foreach(_ += ch)
          if (ch == ';' || ch == '\n') stmtStart = i + 1
      }
    }
    bodies.result().flatMap { case (o, b) => member.findAllMatchIn(b.toString)
      .filter(_.group(1) == null).map(m => o -> m.group(2)) }
  }

  /** `Object.member` for each public object member of `files` that no
    * code names: a use counts only in the member's own file (beyond its
    * declarations) or in a file that names its object, so a common word
    * (`load`, `transform`) used elsewhere does not hide it. `main`
    * entry points are exempt. */
  private def unnamedMembers(files: Seq[(String, String)]): Set[String] = {
    val words = files.map { case (f, c) =>
      f -> """[A-Za-z_]\w*""".r.findAllIn(c).toSeq.groupBy(identity).map { case (w, ws) => w -> ws.size }
    }
    files.flatMap { case (f, c) =>
      val members = objectMembers(c)
      val declared = members.groupBy(_._2).map { case (m, ds) => m -> ds.size }
      members.collect { case (o, m) if m != "main" &&
          words.map { case (g, ws) =>
            if (g == f) ws.getOrElse(m, 0) - declared(m)
            else if (ws.contains(o)) ws.getOrElse(m, 0) else 0
          }.sum == 0 => s"$o.$m"
      }
    }.toSet
  }

  /** Public object members of src/main that no other src/main code names
    * — reached only by specs or from outside the library — each with the
    * reason it stays. A new test-only def fails this case; deleting one
    * means deleting its line here. */
  private val testOnlySurface: Map[String, String] = Map(
    // library entry points, called by users of the jar
    "GraftExtensions.register" -> "the SQL functions' entry point for a user's session",
    "Bpe.loadGpt2Merges" -> "loads the published GPT-2 vocab.bpe into the merge table",
    "Multimodal.extractMeta" -> "header metadata extraction over a media dataset",
    "Similarity.serveWithRetry" -> "the caller-side retry of the ANN serve contract",
    // column forms and HOF references of the codegen kernels, pinned in specs
    "TextFunctions.bandHash" -> "portable LSH band key over the hex minhash family",
    "TextFunctions.simhashBits" -> "HOF reference of SimhashBitsExpr",
    "TextFunctions.nfkcNormalize" -> "NFKC column form (no DuckDB twin), pinned against UAX #15",
    "VectorFunctions.dotHof" -> "HOF reference of the DotProduct kernel",
    // the reference's tools and helpers that the release does not call
    "SparqlQueries.pmidMentions" -> "the reference's get-pmids tool over the graph",
    "EntryTransform.readEntries" -> "reads the entry-API cache (transform_entry's input)",
    "EntryTransform.entryTriples" -> "the reference's transform_entry, pinned by its own golden tests",
    "AuxSources.scrapeUpdateCodes" -> "the reference's code scraper over fetched HTML",
    "AuxSources.removeAngleBrackets" -> "the reference's utils.remove_angle_brackets",
    "MimFields.parseOmimId" -> "the reference's parse_omim_id",
    "OmimPipeline.equivalencyCliques" -> "the reference's equivalency-cliques analysis",
    // streaming twins: each runs the batch kernel on a stream, spec pins stream == batch
    "EventsStreams.readEvents" -> "the events stream source",
    "EventsStreams.tumblingCounts" -> "q35's windows under a watermark, over windowCounts",
    "EventsStreams.slidingCounts" -> "q48's windowCounts under a watermark",
    "CorpusStreams.dedupByFingerprint" -> "q22's fingerprint dedup under a watermark",
    "CorpusStreams.dedupIncremental" -> "q100's index anti-join before the watermarked dedup",
    "CorpusStreams.quotaPerSource" -> "quotaPerGroup as a lifetime per-source cap",
    "TemporalStreams.asofJoinStream" -> "asofJoin with watermark-pruned per-key state",
    "TemporalStreams.rangeJoinStream" -> "rangeJoin's bucketed sides under an eviction bound",
    "Scd2Streams.scd2Stream" -> "scd2History folded per key in state",
    "LmStreams.trainPruned" -> "q129b's training half, pruned to driver metadata",
    "LmStreams.scoreStream" -> "q129b's scorer over the pruned model",
    "StreamingSketches.quantileSample" -> "the quantile sketch as an aggregate, merging by quantileMerge",
    "StreamingSketches.estimate" -> "nearestRank over the streamed sample"
  )

  test("src/main's test-only public surface is the pinned list") {
    val unnamed = unnamedMembers(sources.filter(_._1.startsWith("src/main/")))
    assert(unnamed == testOnlySurface.keySet,
      s"new: ${(unnamed -- testOnlySurface.keySet).toSeq.sorted.mkString(", ")}; " +
        s"gone: ${(testOnlySurface.keySet -- unnamed).toSeq.sorted.mkString(", ")}")
  }

  test("the scan sees code, not comments or strings") {
    val c = code("val a = 1 // SparkSession.builder()\n/* Await.result( */\n" +
      "val s = \"SparkSession.builder()\"; val q = '\"'; val t = \"\"\"x\"\"\"\n" +
      "val b = SparkSession.builder()")
    assert(!c.contains("Await"))
    assert("""SparkSession\s*\.\s*builder""".r.findAllIn(c).size == 1)
    // an interpolated string's `$name` / `${expr}` parts stay, its text goes
    val i = code("val m = s\"rows ${f(n)} of $total, $$5 \\\" done\" + \"$x\"")
    assert(i.contains("f(n)") && i.contains("total"))
    assert(Seq("rows", "of", "5", "done", "x")
      .forall(w => ("\\b" + w + "\\b").r.findFirstIn(i).isEmpty))
    // object members: public, at the object's own depth, nested objects too
    assert(objectMembers(code("object A {\n  def f = 1\n  private def g = 2\n" +
      "  class C { def h = 3 }\n  object B { val k = { def m = 4; 5 } }\n}")) ==
      Seq("A" -> "f", "B" -> "k"))
    // a use counts in the member's own file or where its object is named:
    // `load` in a file that never names `A` is another object's `load`
    val files = Seq(
      "a" -> code("object A { def load = 1; def run = 2; def self = run }"),
      "b" -> code("object B { def main = 0; def go = spark.read.load(p) }"),
      "c" -> code("object C { val x = A.run }"))
    assert(unnamedMembers(files) == Set("A.load", "A.self", "B.go", "C.x"))
  }
}
