package graftbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
import org.apache.spark.scheduler._

/** One traced interval. `parent` is the id of the span that caused it
  * (an op's build and execute spans point at the op; a Spark job points
  * at the phase it ran in); all spans of one op share `op`. */
final case class Span(id: Long, parent: Long, op: String, name: String,
  startMs: Double, endMs: Double) {
  def durS: Double = (endMs - startMs) / 1000.0
}

/** Resource counters of the tasks a set of jobs ran. */
final case class TaskTotals(stages: Int = 0, tasks: Long = 0, runS: Double = 0,
  cpuS: Double = 0, gcS: Double = 0, schedWaitS: Double = 0,
  shuffleReadB: Long = 0, shuffleWriteB: Long = 0, spillB: Long = 0,
  peakMemB: Long = 0, recordsRead: Long = 0, bytesWritten: Long = 0) {
  def +(o: TaskTotals): TaskTotals = TaskTotals(stages + o.stages,
    tasks + o.tasks, runS + o.runS, cpuS + o.cpuS, gcS + o.gcS,
    schedWaitS + o.schedWaitS, shuffleReadB + o.shuffleReadB,
    shuffleWriteB + o.shuffleWriteB, spillB + o.spillB,
    math.max(peakMemB, o.peakMemB), recordsRead + o.recordsRead,
    bytesWritten + o.bytesWritten)
}

/** The benchmark's own SparkListener. Every job carries the job group
  * (op id) and description (phase) the benchmark set before calling
  * into the engine, so each job lands under its op and phase. Events
  * stay in memory; nothing is written until the run ends. */
final class JobLedger extends SparkListener {
  final case class Job(id: Int, op: String, phase: String, startMs: Long,
    var endMs: Long, stageIds: Seq[Int])

  private val jobs = mutable.LinkedHashMap[Int, Job]()
  private val stageOwner = mutable.HashMap[Int, Int]()
  private val stageSubmitMs = mutable.HashMap[Int, Long]()
  private val stageTotals = mutable.HashMap[Int, TaskTotals]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).getOrElse("")
    jobs(e.jobId) = Job(e.jobId, prop("spark.jobGroup.id"),
      prop("spark.job.description"), e.time, e.time, e.stageIds)
    e.stageIds.foreach(s => if (!stageOwner.contains(s)) stageOwner(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageSubmitMs(e.stageInfo.stageId) =
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val wait = stageSubmitMs.get(e.stageId)
        .map(s => math.max(0L, e.taskInfo.launchTime - s) / 1000.0).getOrElse(0.0)
      val t = TaskTotals(0, 1, m.executorRunTime / 1000.0,
        m.executorCpuTime / 1e9, m.jvmGCTime / 1000.0, wait,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled, m.peakExecutionMemory,
        m.inputMetrics.recordsRead, m.outputMetrics.bytesWritten)
      val prev = stageTotals.getOrElse(e.stageId, TaskTotals(stages = 1))
      stageTotals(e.stageId) = prev + t
    }
  }

  def jobsOf(op: String): Seq[Job] = synchronized { jobs.values.filter(_.op == op).toSeq }

  /** Task totals of the stages `jobs` ran (a reused stage is counted
    * under the job that first listed it). */
  def totals(js: Seq[Job]): TaskTotals = synchronized {
    js.flatMap(j => j.stageIds.filter(s => stageOwner.get(s).contains(j.id)))
      .flatMap(stageTotals.get).foldLeft(TaskTotals())(_ + _)
  }
}

/** Counts whole-stage-codegen fallbacks: the warnings
  * WholeStageCodegenExec logs, one per plan, when it gives up generating
  * or compiling a stage's code and runs that plan interpreted instead. */
final class CodegenFallbackCounter extends AbstractAppender(
    "graftbench-codegen-fallbacks", null, null, true, Property.EMPTY_ARRAY) {
  val count = new AtomicLong()
  override def append(e: LogEvent): Unit =
    if (e.getLevel.isMoreSpecificThan(Level.WARN)) count.incrementAndGet()
}

object CodegenFallbackCounter {
  private val Logger = "org.apache.spark.sql.execution.WholeStageCodegenExec"

  def attach(): CodegenFallbackCounter = {
    val counter = new CodegenFallbackCounter
    counter.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val lc = new LoggerConfig(Logger, Level.WARN, true)
    lc.addAppender(counter, Level.WARN, null)
    ctx.getConfiguration.addLogger(Logger, lc)
    ctx.updateLoggers()
    counter
  }
}

/** In-memory span recorder of a traced run. */
final class Tracer {
  private val spans = mutable.ArrayBuffer[Span]()
  private var nextId = 0L

  def add(parent: Long, op: String, name: String, startMs: Double,
    endMs: Double): Long = synchronized {
    nextId += 1
    spans += Span(nextId, parent, op, name, startMs, endMs)
    nextId
  }

  def all: Seq[Span] = synchronized(spans.toSeq)
}

object Tracer {
  /** Length of the union of `intervals` clipped to [lo, hi], in ms. */
  def covered(intervals: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) total += curB - curA
    total
  }
}
