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
  * window and size bulk probes with one √n guard. Comments and
  * string literals are not code, so a scaladoc usage example does not
  * count. */
class OneMechanismGuardSpec extends AnyFunSuite {

  private val sources: Seq[(String, String)] =
    Seq("src/main/scala", "src/test/scala").flatMap { dir =>
      Files.walk(Paths.get(dir)).iterator().asScala
        .filter(_.toString.endsWith(".scala")).toSeq.sorted
        .map((p: Path) => p.toString -> code(Files.readString(p)))
    }

  /** `src` with each comment and string/char literal replaced by a space. */
  private def code(src: String): String = {
    val out = new StringBuilder
    var i = 0
    def skipTo(end: String, from: Int): Unit = {
      val e = src.indexOf(end, from)
      i = if (e < 0) src.length else e + end.length
      out += ' '
    }
    while (i < src.length) {
      if (src.startsWith("//", i)) skipTo("\n", i)
      else if (src.startsWith("/*", i)) skipTo("*/", i + 2)
      else if (src.startsWith("\"\"\"", i)) skipTo("\"\"\"", i + 3)
      else if (src(i) == '"') {
        var j = i + 1
        while (j < src.length && src(j) != '"') j += (if (src(j) == '\\') 2 else 1)
        i = j + 1
        out += ' '
      } else if (src.startsWith("'\\", i)) skipTo("'", i + 3)
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

  test("the scan sees code, not comments or strings") {
    val c = code("val a = 1 // SparkSession.builder()\n/* Await.result( */\n" +
      "val s = \"SparkSession.builder()\"; val q = '\"'; val t = \"\"\"x\"\"\"\n" +
      "val b = SparkSession.builder()")
    assert(!c.contains("Await"))
    assert("""SparkSession\s*\.\s*builder""".r.findAllIn(c).size == 1)
  }
}
