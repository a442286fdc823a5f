package etlbench

import scala.collection.immutable.ListMap

/** Per-layer metrics of one traced pass, from the spans and listener
  * records around each call into a module. Which end-to-end metric each
  * should move, on which workload, is in the README.
  */
object Layers {

  /** Every per-layer metric with its unit, in report order. */
  val Units: ListMap[String, String] = ListMap(
    "tables.scan_s" -> "s", "tables.input_mb" -> "MB",
    "operators.build_s" -> "s", "operators.build_jobs" -> "count",
    "operators.build_task_s" -> "s", "operators.build_share" -> "ratio",
    "plans.plan_s" -> "s", "plans.exchanges" -> "count",
    "plans.partitionless_windows" -> "count",
    "exec.exec_s" -> "s", "exec.jobs" -> "count", "exec.stages" -> "count",
    "exec.tasks" -> "count", "exec.task_s" -> "s", "exec.cpu_s" -> "s", "exec.gc_s" -> "s",
    "exec.shuffle_read_mb" -> "MB", "exec.shuffle_write_mb" -> "MB", "exec.spill_mb" -> "MB",
    "exec.failed_tasks" -> "count",
    "exec.slot_util" -> "ratio", "exec.driver_idle_s" -> "s",
    "exec.single_task_stages" -> "count", "exec.stage_skew_max" -> "ratio",
    "sources.ingest_s" -> "s", "sources.fetch_ok_ratio" -> "ratio", "sources.write_s" -> "s",
    "sources.files_written" -> "count", "sources.mb_written" -> "MB",
    "sources.write_amp" -> "ratio", "sources.compact_s" -> "s",
    "sources.files_after_compact" -> "count",
    "streaming.batches" -> "count", "streaming.batch_p50_s" -> "s",
    "streaming.batch_max_s" -> "s", "streaming.rows_per_s" -> "rows/s",
    "streaming.planning_s" -> "s", "streaming.commit_s" -> "s",
    "jobs.collector_s" -> "s", "jobs.transform_s" -> "s", "jobs.marts_s" -> "s",
    "jobs.maintenance_s" -> "s", "jobs.actions" -> "count", "jobs.actions_failed" -> "count",
    "jvm.gc_s" -> "s", "jvm.heap_peak_mb" -> "MB", "trace.wall_s" -> "s")

  /** A single-task stage counts when its task ran at least this long:
    * shorter ones (final collects, AQE-coalesced tiny shuffles) cost no
    * parallelism worth reporting.
    */
  val SingleTaskMinMs = 100L

  private val MB = 1e6

  /** Totals of one operation (or one pass, summed over its operations). */
  def ofOps(ops: Seq[OpTrace], cores: Int): ListMap[String, Double] = {
    def phaseS(name: String) = ops.flatMap(_.phases).filter(_.name == name).map(_.seconds).sum
    def jobsIn(phase: String) = ops.flatMap(_.jobs).filter(_._3.name == phase)
    def stagesOf(js: Seq[(JobRec, Seq[StageRec], Span)]) = js.flatMap(_._2)
    def attr(k: String) = ops.map(_.op.attrs.getOrElse(k, 0.0)).sum
    def stepS(names: String*) = ops.filter(o => names.contains(o.op.name)).map(_.op.seconds).sum
    val all = stagesOf(ops.flatMap(_.jobs))
    val build = stagesOf(jobsIn("build"))
    val execJobs = jobsIn("exec")
    val exec = stagesOf(execJobs)
    val wall = ops.map(_.op.seconds).sum
    val taskS = all.map(_.runMs).sum / 1e3
    val idle = ops.map { o =>
      val intervals = o.jobs.flatMap(_._2).flatMap(_.intervals)
      o.op.seconds - covered(intervals, o.op.start.toLong, o.op.end.toLong) / 1e3
    }.sum
    val skew = all.filter(_.tasks >= 2).map { s =>
      val med = Stats.median(s.taskMs.map(_.toDouble).toSeq)
      s.taskMs.max / math.max(med, 1.0)
    }
    val writes = ops.flatMap(_.writes)
    val writeMb = writes.map(_.bytes).sum / MB
    val inputMb = attr("input_bytes") / MB
    val batches = ops.flatMap(_.batches)
    val batchS = batches.map(_.seconds)
    def writeSIn(step: String) = ops.filter(_.op.name == step).flatMap(_.writes).map(_.seconds).sum
    ListMap(
      "tables.scan_s" -> all.filter(_.inputBytes > 0).map(_.runMs).sum / 1e3,
      "tables.input_mb" -> all.map(_.inputBytes).sum / MB,
      "operators.build_s" -> phaseS("build"),
      "operators.build_jobs" -> jobsIn("build").size.toDouble,
      "operators.build_task_s" -> build.map(_.runMs).sum / 1e3,
      "operators.build_share" -> (if (wall > 0) phaseS("build") / wall else 0.0),
      "plans.plan_s" -> phaseS("plan"),
      "plans.exchanges" -> attr("exchanges"),
      "plans.partitionless_windows" -> attr("partitionless_windows"),
      "exec.exec_s" -> phaseS("exec"),
      "exec.jobs" -> execJobs.size.toDouble,
      "exec.stages" -> exec.size.toDouble,
      "exec.tasks" -> exec.map(_.tasks).sum.toDouble,
      "exec.task_s" -> exec.map(_.runMs).sum / 1e3,
      "exec.cpu_s" -> exec.map(_.cpuNs).sum / 1e9,
      "exec.gc_s" -> exec.map(_.gcMs).sum / 1e3,
      "exec.shuffle_read_mb" -> exec.map(_.shuffleReadBytes).sum / MB,
      "exec.shuffle_write_mb" -> exec.map(_.shuffleWriteBytes).sum / MB,
      "exec.spill_mb" -> exec.map(_.spillBytes).sum / MB,
      "exec.failed_tasks" -> exec.map(_.failedTasks).sum.toDouble,
      "exec.slot_util" -> (if (wall > 0) taskS / (wall * cores) else 0.0),
      "exec.driver_idle_s" -> idle,
      "exec.single_task_stages" ->
        all.count(s => s.tasks == 1 && s.runMs >= SingleTaskMinMs).toDouble,
      "exec.stage_skew_max" -> (if (skew.isEmpty) 0.0 else skew.max),
      "sources.ingest_s" -> writeSIn("collector"),
      "sources.fetch_ok_ratio" ->
        (if (attr("fetch_attempts") > 0) attr("fetch_ok") / attr("fetch_attempts") else 0.0),
      "sources.write_s" -> writes.map(_.seconds).sum,
      "sources.files_written" -> writes.map(_.files).sum.toDouble,
      "sources.mb_written" -> writeMb,
      "sources.write_amp" -> (if (inputMb > 0) writeMb / inputMb else 0.0),
      "sources.compact_s" -> writeSIn("maintenance"),
      "sources.files_after_compact" -> attr("files_after_compact"),
      "streaming.batches" -> batches.size.toDouble,
      "streaming.batch_p50_s" -> (if (batchS.isEmpty) 0.0 else Stats.median(batchS)),
      "streaming.batch_max_s" -> (if (batchS.isEmpty) 0.0 else batchS.max),
      "streaming.rows_per_s" ->
        (if (batchS.sum > 0) batches.map(_.rows).sum / batchS.sum else 0.0),
      "streaming.planning_s" -> batches.map(_.planningS).sum,
      "streaming.commit_s" -> batches.map(_.commitS).sum,
      "jobs.collector_s" -> stepS("collector"),
      "jobs.transform_s" -> stepS("transform"),
      "jobs.marts_s" -> stepS("athena_mart", "summary_mart"),
      "jobs.maintenance_s" -> stepS("maintenance"),
      "jobs.actions" -> ops.map(_.actions).sum.toDouble,
      "jobs.actions_failed" -> ops.map(_.actionsFailed).sum.toDouble)
  }

  /** Milliseconds of [from, to] during which at least one interval runs. */
  def covered(intervals: Seq[(Long, Long)], from: Long, to: Long): Long = {
    var end = from
    var sum = 0L
    for ((s, e) <- intervals.map { case (s, e) => (math.max(s, from), math.min(e, to)) }
        .filter { case (s, e) => e > s }.sortBy(_._1)) {
      if (e > end) { sum += e - math.max(s, end); end = e }
    }
    sum
  }
}
