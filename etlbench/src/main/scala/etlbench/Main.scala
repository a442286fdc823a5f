package etlbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.etlbench.Bus
import org.apache.spark.sql.SparkSession

import graft.Tables

/** One benchmark run: one workload, one seed, one JVM.
  *
  * A closed loop: the main thread submits one operation at a time and the
  * next only after the previous returned. The run sets up the session three
  * times, runs every operation once as output check and once more as
  * warm-up, then runs timed passes until `--seconds` have elapsed and at
  * least three have run. The last
  * stdout line is the result: end-to-end metrics with `--trace 0`; with
  * `--trace 1` every timed pass is traced and the line holds the per-layer
  * metrics. Tracing overhead is `trace.wall_s` of a traced run minus
  * `wall_s` of an untraced one.
  */
object Main {
  val SetupRepeats = 3
  val MinPasses = 3

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      benchDir: String, cores: Int, commit: String, sourceSha: String)

  def parseArgs(argv: Array[String]): Args = {
    val m = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }.toMap
    def req(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(req("workload"), req("seed").toLong, req("seconds").toInt,
      req("trace") match {
        case "0" => false
        case "1" => true
        case t => throw new IllegalArgumentException(s"--trace takes 0 or 1, not $t")
      },
      req("bench-dir"), req("cores").toInt,
      m.getOrElse("commit", "unknown"), m.getOrElse("source-sha256", "unknown"))
  }

  def main(argv: Array[String]): Unit = {
    val code =
      try {
        val a = parseArgs(argv)
        require(a.seconds >= 1, "--seconds must be at least 1")
        val workload = Workloads(a.workload, a.benchDir)
        val runId = s"${a.workload}-s${a.seed}-t${if (a.trace) 1 else 0}-${System.currentTimeMillis}"
        val dirs = RunDirs(s"${a.benchDir}/.work/$runId").create()
        val out = new File(s"${a.benchDir}/results/$runId")
        out.mkdirs()
        val line = try new Run(a, workload, runId, dirs, out).apply() finally dirs.delete()
        println(line)
        0
      } catch {
        case NonFatal(e) =>
          e.printStackTrace()
          1
      }
    System.out.flush()
    System.exit(code)
  }

  def checkPass(ops: Seq[Op], ctx: Ctx): Seq[(String, Option[String])] =
    ops.map(op => op.name -> (try op.check(ctx) catch { case NonFatal(e) => Some(failure(op, e)) }))

  def failure(op: Op, e: Throwable): String = s"${op.name}: ${e.getClass.getName}: ${e.getMessage}"
}

final case class PassRec(index: Int, wallS: Double, taskS: Double,
    gcS: Double, latencies: Seq[(String, Double)], failures: Seq[String],
    traces: Seq[OpTrace])

final class Run(a: Main.Args, workload: Workload, runId: String, dirs: RunDirs, out: File) {
  private val fixtures = s"${a.benchDir}/fixtures/sf0.01"

  def apply(): String = {
    val (spark, setups, confs) = setUp()
    val sc = spark.sparkContext
    val listener = new BenchListener
    sc.addSparkListener(listener)
    val tracer = new Tracer(spark, runId)
    val session = if (a.trace) Some(new TraceSession(spark, tracer, listener)) else None
    val ctx = new Ctx(spark, dirs, fixtures, tracer)

    val tPrepare = System.nanoTime()
    workload.prepare(ctx, a.seed)
    workload.beforePass(ctx)
    val tCheck = System.nanoTime()
    val checks = Main.checkPass(workload.pass(a.seed, 0), ctx)
    checks.collect { case (_, Some(f)) => f }.foreach(f => System.err.println(s"[etlbench] CHECK FAILED $f"))

    // One untimed pass more: in a fresh JVM the first pass after the check
    // ran 10-25 % slower than the next, with twice the spread across runs.
    val tWarm = System.nanoTime()
    workload.beforePass(ctx)
    val warmOps = workload.pass(a.seed, -1)
    val warmFailures = warmOps.flatMap { op =>
      try { op.run(ctx); None } catch { case NonFatal(e) => Some(Main.failure(op, e)) }
    }
    warmFailures.foreach(f => System.err.println(s"[etlbench] FAILED in warm-up $f"))
    val untimed = Json.obj("prepare_s" -> (tCheck - tPrepare) / 1e9,
      "check_pass_s" -> (tWarm - tCheck) / 1e9, "warmup_s" -> (System.nanoTime() - tWarm) / 1e9)

    heapPools.foreach(_.resetPeakUsage())
    session.foreach(_.enable(true))
    val root = session.map(_ => tracer.open("run", runId))
    val passes = ArrayBuffer.empty[PassRec]
    val t0 = System.nanoTime()
    while (passes.size < Main.MinPasses || (System.nanoTime() - t0) / 1e9 < a.seconds)
      passes += timedPass(passes.size + 1, ctx, listener, session)
    root.foreach(tracer.close)
    session.foreach(_.enable(false))
    val heapPeakMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1e6
    val env = stamp(spark, confs)
    spark.stop()

    val attempted = checks.size + warmOps.size + passes.map(p => p.latencies.size + p.failures.size).sum
    val failed = checks.count(_._2.isDefined) + warmFailures.size + passes.map(_.failures.size).sum
    val result =
      if (!a.trace) endToEnd(setups, passes.toSeq, attempted, failed)
      else perLayer(passes.toSeq, heapPeakMb)
    println(s"# etlbench ${a.workload} seed=${a.seed} seconds=${a.seconds} trace=${if (a.trace) 1 else 0} " +
      s"${env("master")} nproc=${a.cores} spark=${env("spark")} passes=${passes.size} " +
      s"results=results/$runId")
    val metrics = result._1
    val correct = failed == 0

    Files.writeString(new File(out, "result.json").toPath, Json(Json.obj(
      "run_id" -> runId, "env" -> env, "correct" -> correct, "attempted" -> attempted,
      "failed" -> failed, "metrics" -> json(metrics), "notes" -> result._2,
      "setup_s_samples" -> setups, "untimed" -> untimed,
      "checks" -> checks.map { case (n, f) => Json.obj("op" -> n, "failure" -> f) },
      "passes" -> passes.map(p => Json.obj("index" -> p.index, "wall_s" -> p.wallS, "task_s" -> p.taskS, "failures" -> p.failures,
        "latencies" -> p.latencies.map { case (n, s) => Json.obj("op" -> n, "s" -> s) })))) + "\n",
      UTF_8)
    if (a.trace) writeTrace(tracer, passes.toSeq, metrics)
    metrics.foreach { case (k, (v, unit)) => println(f"# $k%-30s $v%14.4f $unit") }
    result._2.foreach { case (k, v) => println(s"# $k: $v") }
    Json(Json.obj("correct" -> correct, "attempted" -> attempted, "failed" -> failed,
      "metrics" -> json(metrics)))
  }

  private def json(m: Metrics) = m.map { case (k, (v, u)) => k -> Json.obj("value" -> v, "unit" -> u) }

  /** Session set-up, three times: from JVM start (class loading and
    * codegen warm-up included), then twice as a session restart. Each
    * covers the session, the conf read-back, the fixture contract check
    * and a warm-up job.
    */
  private def setUp(): (SparkSession, Seq[Double], Seq[(String, String)]) = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    var spark: SparkSession = null
    var confs: Seq[(String, String)] = Nil
    val setups = (0 until Main.SetupRepeats).map { i =>
      val t0 = if (i == 0) jvmStart else System.currentTimeMillis()
      if (spark != null) spark.stop()
      spark = BenchSession.start(a.cores, dirs)
      confs = BenchSession.parity(spark, a.cores)
      Tables.assertFixtureContract(spark, fixtures)
      spark.range(1000000).selectExpr("sum(id)").collect()
      (System.currentTimeMillis() - t0) / 1e3
    }
    (spark, setups, confs)
  }

  private def timedPass(index: Int, ctx: Ctx, listener: BenchListener,
      session: Option[TraceSession]): PassRec = {
    val sc = ctx.spark.sparkContext
    workload.beforePass(ctx)
    // A full collection between passes keeps promoted garbage of one pass
    // from setting the next pass's heap footprint, which steadies peak_rss_mb.
    System.gc()
    Bus.drain(sc)
    val task0 = listener.taskRunMs.get
    val gc0 = gcMs
    val ops = workload.pass(a.seed, index)
    val latencies = ArrayBuffer.empty[(String, Double)]
    val failures = ArrayBuffer.empty[String]
    val traces = ArrayBuffer.empty[OpTrace]
    val t0 = System.nanoTime()
    ctx.tracer.span("pass", s"pass-$index") {
      for (op <- ops) {
        val s = System.nanoTime()
        try {
          ctx.tracer.span("op", op.name)(op.run(ctx))
          latencies += op.name -> (System.nanoTime() - s) / 1e9
        } catch {
          case NonFatal(e) => failures += Main.failure(op, e)
        }
        session.foreach { ts =>
          Bus.drain(sc)
          traces += ts.collect(index, ctx.tracer.spans.findLast(_.kind == "op").get)
        }
      }
    }
    val wall = (System.nanoTime() - t0) / 1e9
    Bus.drain(sc)
    failures.foreach(f => System.err.println(s"[etlbench] FAILED $f"))
    PassRec(index, wall, (listener.taskRunMs.get - task0) / 1e3, (gcMs - gc0) / 1e3,
      latencies.toSeq, failures.toSeq, traces.toSeq)
  }

  type Metrics = ListMap[String, (Double, String)]

  /** Timings are best-of-passes, as in graft.Bench: a busy host can slow a
    * pass down but never speed one up, so the fastest pass is the reading
    * least disturbed by other load. Per operation, the fastest of its passes.
    */
  private def endToEnd(setups: Seq[Double], passes: Seq[PassRec], attempted: Int,
      failed: Int): (Metrics, ListMap[String, String]) = {
    val lat = passes.flatMap(_.latencies).groupMapReduce(_._1)(_._2)(math.min).values.toSeq
    val (tail, pct) = if (lat.isEmpty) (Double.NaN, 0.0) else Stats.tail(lat)
    def best(xs: Seq[Double]) = if (xs.isEmpty) Double.NaN else xs.min
    (ListMap(
      "setup_s" -> (Stats.median(setups), "s"),
      "wall_s" -> (best(passes.map(_.wallS)), "s"),
      "query_p50_s" -> (if (lat.isEmpty) Double.NaN else Stats.median(lat), "s"),
      "query_tail_s" -> (tail, "s"),
      "task_s" -> (best(passes.map(_.taskS)), "s"),
      "peak_rss_mb" -> (peakRssMb, "MB"),
      "ok_frac" -> (1.0 - failed.toDouble / attempted, "ratio")),
     ListMap(
      "query_tail_s" -> f"p$pct%.1f of ${lat.size} operations (fastest of ${passes.size} passes each)",
      "failed_frac" -> f"${failed.toDouble / attempted}%.4f ($failed of $attempted operations)"))
  }

  /** Each per-layer metric is the median over passes of its per-pass value,
    * except `trace.wall_s`: the fastest pass, comparable with `wall_s`.
    */
  private def perLayer(passes: Seq[PassRec], heapPeakMb: Double): (Metrics, ListMap[String, String]) = {
    val perPass = passes.map(p => Layers.ofOps(p.traces, a.cores) ++ ListMap("jvm.gc_s" -> p.gcS))
    val runLevel = Map("jvm.heap_peak_mb" -> heapPeakMb, "trace.wall_s" -> passes.map(_.wallS).min)
    (ListMap(Layers.Units.toSeq.map { case (k, u) =>
      k -> (runLevel.getOrElse(k, Stats.median(perPass.map(_(k)))), u)
    }: _*), ListMap("traced_passes" -> passes.size.toString))
  }

  /** Spans as JSON lines, and the per-layer table with a per-operation breakdown. */
  private def writeTrace(tracer: Tracer, passes: Seq[PassRec], metrics: Metrics): Unit = {
    val traces = passes.flatMap(_.traces)
    var nextId = tracer.spans.size
    val jobSpans = traces.flatMap(_.jobs).map { case (j, stages, phase) =>
      nextId += 1
      Json.obj("run" -> runId, "id" -> (nextId - 1), "parent" -> phase.id, "kind" -> "job",
        "name" -> s"job-${j.id}", "start_ms" -> j.submitMs.toDouble, "end_ms" -> j.endMs.toDouble,
        "attrs" -> Json.obj("stages" -> stages.size, "tasks" -> stages.map(_.tasks).sum,
          "task_s" -> stages.map(_.runMs).sum / 1e3))
    }
    val lines = tracer.spans.map(s => Json.obj("run" -> runId, "id" -> s.id, "parent" -> s.parent,
      "kind" -> s.kind, "name" -> s.name, "start_ms" -> s.start, "end_ms" -> s.end,
      "attrs" -> s.attrs)) ++ jobSpans
    Files.writeString(new File(out, "spans.jsonl").toPath, lines.map(Json(_)).mkString("", "\n", "\n"), UTF_8)
    val rows = traces.map { t =>
      val l = Layers.ofOps(Seq(t), a.cores)
      val stages = t.jobs.flatMap(_._2)
      Json.obj("pass" -> t.pass, "op" -> t.op.name, "wall_s" -> t.op.seconds,
        "jobs" -> t.jobs.size, "stages" -> stages.size, "task_s" -> stages.map(_.runMs).sum / 1e3) ++ l
    }
    Files.writeString(new File(out, "trace.json").toPath, Json(Json.obj(
      "run_id" -> runId, "per_layer" -> json(metrics),
      "operations" -> rows)) + "\n", UTF_8)
    println("# op                          pass   wall_s  build_s   plan_s   exec_s  jobs  build_task_s   task_s  1task_stages")
    rows.foreach { r =>
      println(f"# ${r("op")}%-28s ${r("pass")}%4s ${r("wall_s").asInstanceOf[Double]}%8.3f " +
        f"${r("operators.build_s").asInstanceOf[Double]}%8.3f ${r("plans.plan_s").asInstanceOf[Double]}%8.3f " +
        f"${r("exec.exec_s").asInstanceOf[Double]}%8.3f ${r("jobs")}%5s " +
        f"${r("operators.build_task_s").asInstanceOf[Double]}%13.3f ${r("task_s").asInstanceOf[Double]}%8.3f " +
        f"${r("exec.single_task_stages").asInstanceOf[Double]}%13.0f")
    }
  }

  /** What every result file records about where and how it was measured. */
  private def stamp(spark: SparkSession, confs: Seq[(String, String)]): ListMap[String, Any] = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val defSha = md.digest(workload.definition.getBytes(UTF_8)).map(b => f"${b & 0xff}%02x").mkString
    Json.obj(
      "nproc" -> a.cores, "master" -> spark.sparkContext.master,
      "java" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
      "spark" -> spark.version,
      "heap" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.filter(_.startsWith("-Xm")).mkString(" "),
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1000000,
      "git_commit" -> a.commit, "source_sha256" -> a.sourceSha,
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds,
      "workload_sha256" -> defSha, "session_confs" -> ListMap(confs: _*))
  }

  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)

  private def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** The process's peak resident set (VmHWM). */
  private def peakRssMb: Double =
    Files.readAllLines(new File("/proc/self/status").toPath).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble * 1024 / 1e6).getOrElse(Double.NaN)
}
