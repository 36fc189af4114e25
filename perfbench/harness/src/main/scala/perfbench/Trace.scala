package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
import org.apache.spark.ListenerBusAccess
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** A closed interval of the benchmark's own thread, or of a Spark job or
  * stage attached under it. Times are `System.nanoTime` values. */
final case class Span(id: Int, parent: Int, name: String, t0: Long, t1: Long,
    attrs: Map[String, String]) {
  def dur: Long = t1 - t0
}

/** Records spans around the benchmark's calls into each layer. Off, it
  * only runs the body. Spans stay in memory until the run ends. */
final class Tracer {
  var on = false
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 1
  // listener events carry epoch milliseconds; this maps them onto nanoTime
  val epochOffsetNs: Long = System.currentTimeMillis() * 1000000L - System.nanoTime()

  def newId(): Int = { val id = nextId; nextId += 1; id }

  def span[T](name: String, attrs: (String, String)*)(body: => T): T =
    if (!on) body
    else {
      val id = newId()
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, parent, name, t0, System.nanoTime(), attrs.toMap)
        stack = stack.tail
      }
    }

  def epochMsToNano(ms: Long): Long = ms * 1000000L - epochOffsetNs
}

object Intervals {
  /** Total length covered by the intervals, clipped to [lo, hi]. */
  def covered(xs: Iterable[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = xs.map { case (a, b) => (a max lo, b min hi) }.filter(p => p._2 > p._1)
      .toSeq.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else if (b > curB) curB = b
    }
    if (curB > curA) total += curB - curA
    total
  }
}

/** Spark execution counters for the traced passes: jobs, stages and the
  * task metrics that roll up into the `exec.*`, `io.input_*` and
  * `query.<name>.task_s` metrics. */
final class ExecListener extends SparkListener {
  import ExecListener._
  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  val stages = mutable.ArrayBuffer.empty[Stage]
  val tasks = mutable.ArrayBuffer.empty[Task]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val op = Option(e.properties).flatMap(p => Option(p.getProperty(ExecListener.OpKey))).getOrElse("")
    jobs(e.jobId) = Job(e.jobId, e.time, e.time, e.stageIds, op)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val s = e.stageInfo
    stages += Stage(s.stageId, s.name, s.numTasks,
      s.submissionTime.getOrElse(0L), s.completionTime.getOrElse(0L))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) tasks += Task(e.stageId, m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
      m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
      m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
      m.diskBytesSpilled)
  }
  def clear(): Unit = synchronized { jobs.clear(); stages.clear(); tasks.clear() }
}

object ExecListener {
  final case class Job(id: Int, startMs: Long, var endMs: Long, stageIds: Seq[Int], op: String)
  final case class Stage(id: Int, name: String, numTasks: Int, submitMs: Long, completeMs: Long)
  final case class Task(stageId: Int, runMs: Long, cpuNs: Long, gcMs: Long, inBytes: Long,
      inRecords: Long, shuffleRead: Long, shuffleWrite: Long, spill: Long)

  /** Local property naming the operation a job ran for; Spark copies local
    * properties to the threads AQE and broadcasts run jobs from. */
  val OpKey = "perfbench.op"
}

/** Catalyst phase times of every executed query, from `qe.tracker`. */
final class PlanListener extends QueryExecutionListener {
  var analysisMs, optimizationMs, planningMs = 0L
  private def record(qe: QueryExecution): Unit = synchronized {
    val ph = qe.tracker.phases
    analysisMs += ph.get("analysis").map(_.durationMs).getOrElse(0L)
    optimizationMs += ph.get("optimization").map(_.durationMs).getOrElse(0L)
    planningMs += ph.get("planning").map(_.durationMs).getOrElse(0L)
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  def clear(): Unit = synchronized { analysisMs = 0; optimizationMs = 0; planningMs = 0 }
}

/** Counts WindowExec "No Partition Defined" warnings and sums codegen
  * compile time from CodeGenerator's "Code generated in N ms" lines. */
final class CountingAppender
    extends AbstractAppender("perfbench-counter", null, null, true, Property.EMPTY_ARRAY) {
  private val CodegenRe = """Code generated in ([0-9.]+) ms""".r
  var windowWarnings = 0L
  var codegenMs = 0.0
  override def append(e: LogEvent): Unit = {
    val msg = e.getMessage.getFormattedMessage
    val logger = e.getLoggerName
    if (logger.endsWith("WindowExec") && msg.contains("No Partition Defined"))
      synchronized { windowWarnings += 1 }
    else if (logger.endsWith("CodeGenerator"))
      CodegenRe.findFirstMatchIn(msg).foreach(m => synchronized { codegenMs += m.group(1).toDouble })
  }
  def clear(): Unit = synchronized { windowWarnings = 0; codegenMs = 0 }
}

/** Everything the traced passes attach to the session, and detach after. */
final class Probes(spark: SparkSession) {
  val exec = new ExecListener
  val plan = new PlanListener
  val appender = new CountingAppender
  private val codegenLogger = "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"
  private val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
  appender.start()

  @volatile private var heapPeak = 0L
  @volatile private var sampling = false
  private var sampler: Thread = _

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(exec)
    spark.listenerManager.register(plan)
    val cfg = ctx.getConfiguration
    cfg.addAppender(appender)
    val cg = new LoggerConfig(codegenLogger, Level.INFO, false)
    cg.addAppender(appender, Level.INFO, null)
    cfg.addLogger(codegenLogger, cg)
    cfg.getRootLogger.addAppender(appender, Level.WARN, null)
    ctx.updateLoggers()
    heapPeak = 0L
    sampling = true
    sampler = new Thread(() => {
      val mem = ManagementFactory.getMemoryMXBean
      while (sampling) {
        heapPeak = heapPeak max mem.getHeapMemoryUsage.getUsed
        Thread.sleep(20)
      }
    }, "perfbench-heap-sampler")
    sampler.setDaemon(true)
    sampler.start()
  }

  def detach(): Unit = {
    sampling = false
    sampler.join()
    ListenerBusAccess.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(exec)
    spark.listenerManager.unregister(plan)
    val cfg = ctx.getConfiguration
    cfg.removeLogger(codegenLogger)
    cfg.getRootLogger.removeAppender(appender.getName)
    ctx.updateLoggers()
  }

  def heapPeakMb: Double = heapPeak / 1e6

  def clear(): Unit = { exec.clear(); plan.clear(); appender.clear() }
}

object Jvm {
  def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  def codegenClasses: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}
