package etlbench

import java.nio.file.Paths

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange

import graft.{GlobalWindows, SparkEntry}

/** What an operation reaches while it runs. */
final class Ctx(val spark: SparkSession, val dirs: RunDirs, val fixtures: String,
    val tracer: Tracer) {
  def tracing: Boolean = tracer.enabled
  def phase[T](name: String)(body: => T): T = tracer.span("phase", name)(body)
  def attr(key: String, value: Double): Unit = tracer.attr(key, value)
}

/** One timed unit of a workload: a registry query or a pipeline step.
  * `run` is what the timed loop calls. `check` runs the same work once,
  * outside the timed region, then verifies its output and returns the
  * failure to report when the output is wrong.
  */
final case class Op(name: String, run: Ctx => Unit, check: Ctx => Option[String])

trait Workload {
  def name: String
  /** The frozen definition as text; its hash goes in every result file. */
  def definition: String
  /** Untimed input generation for this seed. */
  def prepare(ctx: Ctx, seed: Long): Unit = ()
  /** Untimed reset before each pass. */
  def beforePass(ctx: Ctx): Unit = ()
  /** The operations of pass `index`, in the order the seed gives them. */
  def pass(seed: Long, index: Int): Seq[Op]
}

/** A frozen list of registry queries over the read-only fixture tables.
  * The seed only permutes the query order within each pass.
  */
final class QueryWorkload(val name: String, queries: Seq[String],
    expected: Map[String, String]) extends Workload {
  require(queries.forall(SparkEntry.queries.contains),
    s"$name names unknown queries: ${queries.filterNot(SparkEntry.queries.contains)}")

  def definition: String = (s"$name over fixtures/sf0.01" +: queries).mkString("\n")

  def pass(seed: Long, index: Int): Seq[Op] =
    new scala.util.Random(seed * 1000003L + index).shuffle(queries).map(op)

  /** Build is the registry call; exec is a `noop` write, which consumes
    * every row and column (a count would let Catalyst prune the columns).
    */
  private def op(q: String): Op = {
    def run(ctx: Ctx) = {
      val df = ctx.phase("build")(SparkEntry.queries(q)(ctx.spark, ctx.fixtures))
      if (ctx.tracing) ctx.phase("plan") {
        ctx.attr("exchanges", PlanStats.exchanges(df.queryExecution.executedPlan))
        ctx.attr("partitionless_windows",
          GlobalWindows.countPartitionless(df.queryExecution.sparkPlan))
      }
      ctx.phase("exec")(df.write.format("noop").mode("overwrite").save())
      df
    }
    Op(q, ctx => run(ctx), ctx => {
      val df = run(ctx)
      ResultHash.verdict(q, ResultHash.of(df.schema, df.collect()), expected.get(q))
    })
  }
}

object PlanStats extends AdaptiveSparkPlanHelper {
  /** Shuffle and broadcast exchanges, through adaptive plans and subqueries. */
  def exchanges(plan: SparkPlan): Int =
    collectWithSubqueries(plan) { case e: Exchange => e }.size
}

object Workloads {
  val Names: Seq[String] = Seq("dedup_graph", "medallion_etl")

  /** Graph queries whose cost is eager checkpoints and fixpoint rounds run
    * while the DataFrame is built: g2's triangle count and g3's connected
    * components.
    */
  val DedupGraph: Seq[String] = Seq("g2_triangles", "g3_components")

  def apply(name: String, benchDir: String): Workload = {
    def expected = ResultHash.load(Paths.get(benchDir, "expected", "sf0.01.tsv"))
    name match {
      case "dedup_graph"   => new QueryWorkload(name, DedupGraph, expected)
      case "medallion_etl" => new MedallionWorkload
      case other => throw new IllegalArgumentException(
        s"unknown workload $other; expected one of ${Names.mkString(", ")}")
    }
  }
}
