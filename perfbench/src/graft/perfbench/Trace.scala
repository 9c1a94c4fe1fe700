package graft.perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** A harness-side span: the run, a set-up, a pass, an operation, a phase
  * of one (`construct` or `exec`), or a named call inside a phase. */
final class Span(val id: Int, val parent: Int, val kind: String, val name: String,
    val layer: String, val startNs: Long, val traced: Boolean) {
  var endNs: Long = -1L
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans kept in memory for the whole run. Timing the harness's own
  * spans is always on (operation latencies come from them); `traced`
  * only decides whether jobs launched inside a span are tagged with its
  * id, which is what the job listener keys on. */
final class Spans(sc: SparkContext) {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  val all = ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  var tracing = false

  def epochMs(ns: Long): Double = baseMs + (ns - baseNs) / 1e6

  def apply[T](kind: String, name: String, layer: String = "")(body: => T): T = {
    val s = new Span(all.size, stack.headOption.fold(-1)(_.id), kind, name, layer,
      System.nanoTime(), tracing)
    all += s
    stack = s :: stack
    if (tracing) sc.setLocalProperty(Spans.Property, s.id.toString)
    try body
    finally {
      s.endNs = System.nanoTime()
      stack = stack.tail
      sc.setLocalProperty(Spans.Property,
        if (tracing) stack.headOption.map(_.id.toString).orNull else null)
    }
  }
}

object Spans {
  /** The local property that carries a span id onto the jobs it launches. */
  val Property = "perfbench.span"
}

/** One Spark job seen by the listener, with the task metrics of its
  * stages summed. `module` is the repo module of the first `graft.`
  * frame of the job's call site, outside this harness. */
final class JobRec(val jobId: Int, val span: Int, val startMs: Long, val module: String,
    val callSite: String) {
  @volatile var endMs: Long = -1L
  @volatile var ok = true
  var stages, tasks, failedTasks = 0
  var runMs, cpuNs, shuffleRead, shuffleWrite, spill, peakMem, resultBytes = 0L
}

/** Planner time of one SQL action: analysis + optimization + planning. */
final case class PlanRec(startMs: Long, endMs: Long, ms: Long)

/** Spark listener plus query-execution listener for the traced run.
  * Only jobs tagged with a span id are recorded. */
final class JobListener extends SparkListener with QueryExecutionListener {
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, JobRec]()
  val plans = new java.util.concurrent.ConcurrentLinkedQueue[PlanRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Spans.Property)))
    span.foreach { id =>
      val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).details
      val rec = new JobRec(e.jobId, id.toInt, e.time, JobListener.module(site),
        site.linesIterator.find(_.contains("graft.")).getOrElse("").trim)
      jobs.put(e.jobId, rec)
      e.stageIds.foreach(stageJob.putIfAbsent(_, rec))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach { r =>
      r.endMs = e.time
      r.ok = e.jobResult == JobSucceeded
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageJob.get(e.stageInfo.stageId)).foreach(r => r.synchronized(r.stages += 1))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageJob.get(e.stageId)).foreach { r =>
      r.synchronized {
        r.tasks += 1
        if (!e.taskInfo.successful) r.failedTasks += 1
        val m = e.taskMetrics
        if (m != null) {
          r.runMs += m.executorRunTime
          r.cpuNs += m.executorCpuTime
          r.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          r.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          r.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          r.peakMem = math.max(r.peakMem, m.peakExecutionMemory)
          r.resultBytes += m.resultSize
        }
      }
    }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases.values
    if (phases.nonEmpty)
      plans.add(PlanRec(phases.map(_.startTimeMs).min, phases.map(_.endTimeMs).max,
        phases.map(p => p.endTimeMs - p.startTimeMs).sum))
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def allJobs: Seq[JobRec] = jobs.values().asScala.toSeq.sortBy(_.jobId)
}

object JobListener {
  private val Modules = Seq(
    "graft.Tables" -> "tables", "graft.queries." -> "queries", "graft.streaming." -> "streaming",
    "graft.pipeline." -> "pipeline", "graft.operators." -> "operators", "graft.fmp." -> "fmp",
    "graft.sinks." -> "sinks", "graft.etl." -> "etl", "graft.functions." -> "functions")

  /** The module of the innermost repo frame of a call site, or `harness`
    * when the call comes straight from the benchmark. */
  def module(callSite: String): String =
    callSite.linesIterator.map(_.trim.stripPrefix("at "))
      .flatMap(frame => Modules.collectFirst { case (p, m) if frame.startsWith(p) => m })
      .nextOption()
      .getOrElse("harness")
}
