package graftbench

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One span of the benchmark's trace: a call into one layer, timed from the
  * benchmark's own code. Spans never overlap except by nesting (one client,
  * one call at a time), so listener events are attributed to the innermost
  * span open at the event's time. */
final case class Span(id: Int, name: String, layer: String, parent: Int, run: String,
    startMs: Long, startNs: Long) {
  var endMs: Long = startMs
  var endNs: Long = startNs
  var compiles: Long = 0L
  var compileNs: Long = 0L
  def seconds: Double = (endNs - startNs) / 1e9
}

final case class JobRec(startMs: Long, var endMs: Long)
final case class TaskRec(endMs: Long, runMs: Long, cpuNs: Long, gcMs: Long, deserMs: Long,
    shuffleRead: Long, fetchWaitMs: Long, shuffleWrite: Long, spill: Long, recordsOut: Long)
final case class PlanRec(endMs: Long, analysisMs: Long, optimizeMs: Long, planningMs: Long)

/** Spark-side counters of a traced run: listener events (jobs, stages, tasks,
  * query planning phases) kept in memory, plus spans opened around calls into
  * the engine's layers. Everything is attributed after the run. */
final class Recorder(val run: String) extends SparkListener with QueryExecutionListener {
  val jobs = new ConcurrentLinkedQueue[JobRec]()
  val stageSubmits = new ConcurrentLinkedQueue[Long]()
  val tasks = new ConcurrentLinkedQueue[TaskRec]()
  val plans = new ConcurrentLinkedQueue[PlanRec]()
  private val openJobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val j = JobRec(e.time, e.time)
    openJobs.put(e.jobId, j)
    jobs.add(j)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(openJobs.remove(e.jobId)).foreach(_.endMs = e.time)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stageSubmits.add(e.stageInfo.submissionTime.getOrElse(0L))
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) tasks.add(TaskRec(e.taskInfo.finishTime, m.executorRunTime,
      m.executorCpuTime, m.jvmGCTime, m.executorDeserializeTime,
      m.shuffleReadMetrics.localBytesRead + m.shuffleReadMetrics.remoteBytesRead,
      m.shuffleReadMetrics.fetchWaitTime, m.shuffleWriteMetrics.bytesWritten,
      m.memoryBytesSpilled + m.diskBytesSpilled,
      m.outputMetrics.recordsWritten))
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit =
    record(qe)
  private def record(qe: QueryExecution): Unit = {
    val p = qe.tracker.phases
    def ms(k: String) = p.get(k).map(_.durationMs).getOrElse(0L)
    val end = p.values.map(_.endTimeMs).foldLeft(0L)(math.max)
    plans.add(PlanRec(end, ms(QueryPlanningTracker.ANALYSIS),
      ms(QueryPlanningTracker.OPTIMIZATION), ms(QueryPlanningTracker.PLANNING)))
  }

  // -- spans ---------------------------------------------------------------
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil

  def span[T](name: String, layer: String)(body: => T): T = {
    val s = Span(spans.size, name, layer, stack.headOption.map(_.id).getOrElse(-1), run,
      System.currentTimeMillis(), System.nanoTime())
    spans += s
    stack = s :: stack
    val (c0, t0) = (Recorder.compiles, Recorder.compileNs)
    try body
    finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      s.compiles = Recorder.compiles - c0
      s.compileNs = Recorder.compileNs - t0
      stack = stack.tail
    }
  }

  /** Self time: a span's duration minus the part its children cover. */
  def selfSeconds(s: Span): Double =
    s.seconds - spans.filter(_.parent == s.id).map(_.seconds).sum

  private def innermost(ms: Long): Option[Span] =
    spans.filter(s => s.startMs <= ms && ms <= s.endMs).maxByOption(_.startNs)

  /** Listener events attributed to each span (innermost containing span). */
  lazy val taskOf: Map[Int, Seq[TaskRec]] =
    tasks.asScala.toSeq.flatMap(t => innermost(t.endMs).map(_.id -> t))
      .groupMap(_._1)(_._2)
  lazy val jobOf: Map[Int, Seq[JobRec]] =
    jobs.asScala.toSeq.flatMap(j => innermost(j.startMs).map(_.id -> j))
      .groupMap(_._1)(_._2)

  private def under(s: Span): Seq[Span] = {
    val kids = spans.filter(_.parent == s.id).toSeq
    s +: kids.flatMap(under)
  }
  /** Tasks / jobs of a span and all spans nested in it. */
  def tasksIn(s: Span): Seq[TaskRec] = under(s).flatMap(c => taskOf.getOrElse(c.id, Nil))
  def jobsIn(s: Span): Seq[JobRec] = under(s).flatMap(c => jobOf.getOrElse(c.id, Nil))

  /** Time inside a span that no Spark job covers (driver-side work). */
  def uncoveredSeconds(s: Span): Double = {
    val iv = jobs.asScala.toSeq
      .map(j => (math.max(j.startMs, s.startMs), math.min(j.endMs, s.endMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var (curA, curB) = (-1L, -1L)
    iv.foreach { case (a, b) =>
      if (a > curB) { covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    covered += curB - curA
    math.max(0.0, s.seconds - covered / 1e3)
  }
}

object Recorder {
  def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  def compileNs: Long = CodeGenerator.compileTime
}
