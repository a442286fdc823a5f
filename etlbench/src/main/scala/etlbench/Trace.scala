package etlbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import graft.jobs.Observability

/** One node of the span tree: run → pass → operation → phase → Spark job. */
final class Span(val id: Int, val parent: Int, val kind: String, val name: String,
    val start: Double) {
  var end: Double = Double.NaN
  val attrs: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  def seconds: Double = (end - start) / 1e3
}

/** Spans recorded by the benchmark around its calls into the engine. They
  * stay in memory and are written out when the run ends. While disabled,
  * `span` is a plain call. A phase span tags the Spark jobs it starts with
  * the job group `<run id>#<span id>`.
  */
final class Tracer(spark: SparkSession, val runId: String) {
  @volatile var enabled = false
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  private var stack: List[Span] = Nil
  private val nano0 = System.nanoTime()
  private val ms0 = System.currentTimeMillis().toDouble

  /** Epoch milliseconds on the monotonic clock, comparable to Spark's job times. */
  def nowMs: Double = ms0 + (System.nanoTime() - nano0) / 1e6

  def span[T](kind: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = open(kind, name)
      try body finally close(s)
    }

  /** Opens a span whether or not tracing is enabled (the run's root). */
  def open(kind: String, name: String): Span = {
    val s = new Span(spans.size, stack.headOption.fold(-1)(_.id), kind, name, nowMs)
    spans += s
    stack = s :: stack
    if (kind == "phase") spark.sparkContext.setJobGroup(s"$runId#${s.id}", s"etlbench $name", false)
    s
  }

  def close(s: Span): Unit = {
    s.end = nowMs
    stack = stack.tail
    if (s.kind == "phase") spark.sparkContext.clearJobGroup()
  }

  /** Adds to a counter on the innermost operation span. */
  def attr(key: String, value: Double): Unit =
    stack.find(_.kind == "op").foreach(s => s.attrs(key) = s.attrs.getOrElse(key, 0.0) + value)

  def spanOf(jobGroup: String): Option[Span] =
    if (jobGroup.startsWith(runId + "#")) spans.lift(jobGroup.drop(runId.length + 1).toInt)
    else None
}

final class JobRec(val id: Int, val group: Option[String], val submitMs: Long) {
  @volatile var endMs: Long = -1L
}

/** Task totals of one stage, summed from its task-end events. */
final class StageRec(val id: Int) {
  var tasks, failedTasks = 0
  var runMs, cpuNs, gcMs, inputBytes, shuffleReadBytes, shuffleWriteBytes,
    spillBytes = 0L
  val taskMs: mutable.ArrayBuffer[Long] = mutable.ArrayBuffer.empty
  val intervals: mutable.ArrayBuffer[(Long, Long)] = mutable.ArrayBuffer.empty
}

final case class WriteRec(seconds: Double, files: Long, bytes: Long)
final case class BatchRec(seconds: Double, rows: Long, planningS: Double, commitS: Double)

/** Scheduler events. Summed executor run time is always counted (it is
  * the `task_s` metric); per-job and per-stage records only while
  * `detailed` is set, in traced passes.
  */
final class BenchListener extends SparkListener {
  val taskRunMs = new AtomicLong
  @volatile var detailed = false
  private val jobs = new ConcurrentLinkedQueue[JobRec]
  private val jobById = new ConcurrentHashMap[Int, JobRec]
  private val stageOwner = new ConcurrentHashMap[Int, Int]
  private val stages = new ConcurrentHashMap[Int, StageRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = if (detailed) {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    val j = new JobRec(e.jobId, group, e.time)
    jobs.add(j)
    jobById.put(e.jobId, j)
    e.stageInfos.foreach(s => stageOwner.putIfAbsent(s.stageId, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobById.get(e.jobId)).foreach(_.endMs = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) taskRunMs.addAndGet(m.executorRunTime)
    if (detailed) {
      val s = stages.computeIfAbsent(e.stageId, id => new StageRec(id))
      s.tasks += 1
      if (!e.taskInfo.successful) s.failedTasks += 1
      s.intervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
      if (m != null) {
        s.runMs += m.executorRunTime
        s.taskMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.inputBytes += m.inputMetrics.bytesRead
        s.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  /** Jobs recorded since the last call, each with the stages it ran. */
  def take(): Seq[(JobRec, Seq[StageRec])] = {
    val taken = Iterator.continually(jobs.poll()).takeWhile(_ != null).toSeq
    val ids = taken.map(_.id).toSet
    val owned = stageOwner.asScala.collect { case (s, j) if ids(j) => s -> j }
    owned.keys.foreach(stageOwner.remove)
    taken.foreach(j => jobById.remove(j.id))
    taken.map { j =>
      j -> owned.collect { case (s, o) if o == j.id => Option(stages.remove(s)) }.flatten.toSeq
    }
  }
}

/** File writes (parquet inserts) with the files and bytes they produced. */
final class WriteListener extends QueryExecutionListener {
  @volatile var enabled = false
  private val writes = new ConcurrentLinkedQueue[WriteRec]

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (enabled) PlanStats.collectFirst(qe.executedPlan) {
      case w: DataWritingCommandExec if w.cmd.isInstanceOf[InsertIntoHadoopFsRelationCommand] => w
    }.foreach { w =>
      def metric(k: String) = w.cmd.metrics.get(k).fold(0L)(_.value)
      writes.add(WriteRec(durationNs / 1e9, metric("numFiles"), metric("numOutputBytes")))
    }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  def take(): Seq[WriteRec] = Iterator.continually(writes.poll()).takeWhile(_ != null).toSeq
}

/** Micro-batch progress of the streaming queries. */
final class StreamListener extends StreamingQueryListener {
  @volatile var enabled = false
  private val batches = new ConcurrentLinkedQueue[BatchRec]

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    if (enabled && e.progress.numInputRows > 0) {
      val d = e.progress.durationMs
      def s(k: String) = Option(d.get(k)).fold(0.0)(_.longValue / 1e3)
      batches.add(BatchRec(s("triggerExecution"), e.progress.numInputRows,
        s("queryPlanning"), s("walCommit") + s("commitOffsets")))
    }

  def take(): Seq[BatchRec] = Iterator.continually(batches.poll()).takeWhile(_ != null).toSeq
}

/** Everything a traced pass recorded for one operation. */
final case class OpTrace(pass: Int, op: Span, phases: Seq[Span],
    jobs: Seq[(JobRec, Seq[StageRec], Span)], writes: Seq[WriteRec],
    batches: Seq[BatchRec], actions: Int, actionsFailed: Int)

/** The listeners of a traced run, read back one operation at a time. */
final class TraceSession(spark: SparkSession, val tracer: Tracer, val listener: BenchListener) {
  private val writes = new WriteListener
  private val streams = new StreamListener
  private val recorder: Observability.MetricsRecorder = Observability.register(spark)
  spark.listenerManager.register(writes)
  spark.streams.addListener(streams)

  def enable(on: Boolean): Unit = {
    tracer.enabled = on
    listener.detailed = on
    writes.enabled = on
    streams.enabled = on
  }

  /** Called after operation `op` ended and the listener bus drained. Jobs
    * attach to their phase through the job group, or, for jobs started
    * under another group (stream executions), by submission time.
    */
  def collect(pass: Int, op: Span): OpTrace = {
    val phases = tracer.spans.filter(s => s.parent == op.id && s.kind == "phase").toSeq
    val jobs = listener.take().map { case (j, st) =>
      val phase = j.group.flatMap(tracer.spanOf).filter(_.parent == op.id)
        .orElse(phases.find(p => p.start <= j.submitMs && j.submitMs <= p.end))
        .getOrElse(op)
      (j, st, phase)
    }
    val recs = recorder.records
    recorder.clear()
    OpTrace(pass, op, phases, jobs, writes.take(), streams.take(),
      recs.size, recs.count(_.error.isDefined))
  }
}
