package graftbench

import scala.jdk.CollectionConverters._

/** Per-layer metrics of a traced run, from its spans and listener events.
  * Layers the workload never entered report 0. Counts that need the
  * pipeline's own outputs (files in, DQ drops, SCD2 rows) are added by
  * `run.py` from the run's checks. */
object Layers {
  private val mb = 1024.0 * 1024.0
  private val pipelineLayers = Set("bronze", "silver", "gold")

  def summarize(r: Recorder, ops: Seq[Main.Op], cores: Int): Map[String, Double] = {
    val top = r.spans.filter(_.layer == "op").toSeq
    def spansOf(layer: String) = r.spans.filter(_.layer == layer).toSeq
    def wall(layer: String) = spansOf(layer).map(_.seconds).sum
    def tasksOf(layer: String) = spansOf(layer).flatMap(r.tasksIn)
    def shuffleMb(ts: Seq[TaskRec]) = ts.map(t => t.shuffleRead + t.shuffleWrite).sum / mb
    val tasks = top.flatMap(r.tasksIn)
    val opWall = top.map(_.seconds).sum
    val inOp = (ms: Long) => top.exists(s => s.startMs <= ms && ms <= s.endMs)
    val plans = r.plans.asScala.toSeq.filter(p => inOp(p.endMs))
    val stages = r.stageSubmits.asScala.toSeq.filter(inOp)
    val gapSpans = r.spans.filter(s => s.layer == "action" || pipelineLayers(s.layer)).toSeq
    val runS = tasks.map(_.runMs).sum / 1e3
    Map(
      "build.wall_s" -> wall("build"),
      "build.jobs" -> spansOf("build").flatMap(r.jobsIn).size.toDouble,
      "plan.analysis_s" -> plans.map(_.analysisMs).sum / 1e3,
      "plan.optimize_s" -> plans.map(_.optimizeMs).sum / 1e3,
      "plan.planning_s" -> plans.map(_.planningMs).sum / 1e3,
      "codegen.compiles" -> top.map(_.compiles).sum.toDouble,
      "codegen.compile_s" -> top.map(_.compileNs).sum / 1e9,
      "sched.jobs" -> top.flatMap(r.jobsIn).size.toDouble,
      "sched.stages" -> stages.size.toDouble,
      "sched.tasks" -> tasks.size.toDouble,
      "sched.driver_gap_s" -> gapSpans.map(r.uncoveredSeconds).sum,
      "exec.task_run_s" -> runS,
      "exec.task_cpu_s" -> tasks.map(_.cpuNs).sum / 1e9,
      "exec.busy_frac" -> (if (opWall > 0) runS / (opWall * cores) else 0.0),
      "exec.gc_s" -> tasks.map(_.gcMs).sum / 1e3,
      "exec.deser_s" -> tasks.map(_.deserMs).sum / 1e3,
      "shuffle.read_mb" -> tasks.map(_.shuffleRead).sum / mb,
      "shuffle.write_mb" -> tasks.map(_.shuffleWrite).sum / mb,
      "shuffle.fetch_wait_s" -> tasks.map(_.fetchWaitMs).sum / 1e3,
      "shuffle.spill_mb" -> tasks.map(_.spill).sum / mb,
      "mem.leaked_rdds" -> ops.map(_.leakedRdds).sum.toDouble,
      "mem.leaked_mb" -> ops.map(_.leakedBytes).sum / mb,
      "bronze.wall_s" -> wall("bronze"),
      "bronze.rows_out" -> tasksOf("bronze").map(_.recordsOut).sum.toDouble,
      "bronze.task_cpu_s" -> tasksOf("bronze").map(_.cpuNs).sum / 1e9,
      "silver.wall_s" -> wall("silver"),
      "silver.shuffle_mb" -> shuffleMb(tasksOf("silver")),
      "gold.wall_s" -> wall("gold"),
      "gold.rows_out" -> tasksOf("gold").map(_.recordsOut).sum.toDouble,
      "gold.shuffle_mb" -> shuffleMb(tasksOf("gold")),
      "catalog.driver_s" ->
        r.spans.filter(s => pipelineLayers(s.layer)).map(r.uncoveredSeconds).sum,
      "trace.op_self_s" -> top.map(r.selfSeconds).sum)
  }
}
