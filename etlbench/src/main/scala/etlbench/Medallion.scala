package etlbench

import java.io.File
import java.sql.Timestamp
import java.time.{DayOfWeek, LocalDate, ZoneOffset}

import scala.jdk.CollectionConverters._

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions.{col, count, lit, sum, to_date, xxhash64}
import org.apache.spark.sql.types._

import graft.jobs.{CollectorJob, MaintenanceJob, TransformJob}
import graft.operators.B3Pipeline
import graft.streaming.EventStream

/** Seeded input shaped like the reference's: daily OHLCV rows per ticker
  * for the collector, and minute bars in the fixtures' `events` shape
  * (user_id = ticker, ts = time, value = close) for the transform and the
  * stream. The same seed gives identical input; another seed gives the same
  * shape with other prices, null positions and failing tickers.
  */
object MedallionGen {
  val Tickers = 4
  /** The reference collector's `1mo` period. */
  val TradingDays = 21
  /** One bar per minute of a 6.5 hour session. */
  val BarsPerDay = 390
  val FailingTickers = 1
  /** Bars whose close is dropped, per thousand. */
  val NullPerMille = 2
  val FirstDay: LocalDate = LocalDate.of(2024, 1, 2)

  val eventsSchema: StructType = StructType(Seq(
    StructField("event_id", LongType, nullable = false),
    StructField("ts", TimestampType, nullable = false),
    StructField("user_id", LongType, nullable = false),
    StructField("event_type", StringType, nullable = false),
    StructField("value", DoubleType)))

  /** The generated input with the counts it declares. */
  final case class Input(tickers: IndexedSeq[String], failing: Set[String],
      days: IndexedSeq[LocalDate], daily: Map[String, IndexedSeq[Row]],
      bars: IndexedSeq[Row], nullBars: Int) {
    /** Rows the collector must land: the tickers that do not fail. */
    def okDailyRows: Int = daily.collect { case (t, rs) if !failing(t) => rs.size }.sum
    /** Bars that survive the transform's null filter. */
    def validBars: Int = bars.size - nullBars
    /** (ticker, year, month) groups of the marts. */
    def martGroups: Int = tickers.size * days.map(d => (d.getYear, d.getMonthValue)).distinct.size

    /** The collector's fetch: a failing ticker throws, like a dead symbol. */
    def fetch(ticker: String): Seq[Row] =
      if (failing(ticker)) throw new java.io.IOException(s"$ticker: no data")
      else daily(ticker)
  }

  def tradingDays: IndexedSeq[LocalDate] =
    Iterator.iterate(FirstDay)(_.plusDays(1))
      .filterNot(d => d.getDayOfWeek == DayOfWeek.SATURDAY || d.getDayOfWeek == DayOfWeek.SUNDAY)
      .take(TradingDays).toIndexedSeq

  def apply(seed: Long): Input = {
    val rnd = new scala.util.Random(seed)
    val tickers = (0 until Tickers).map(i => f"B3T$i%02d.SA")
    val failing = rnd.shuffle(tickers).take(FailingTickers).toSet
    val days = tradingDays
    val bars = IndexedSeq.newBuilder[Row]
    val daily = Map.newBuilder[String, IndexedSeq[Row]]
    var nulls = 0
    var eventId = 0L
    for ((ticker, t) <- tickers.zipWithIndex) {
      var cents = 1000L + rnd.nextInt(9000)
      val dayRows = for (day <- days) yield {
        val open = Timestamp.from(day.atTime(10, 0).toInstant(ZoneOffset.UTC))
        val closes = for (m <- 0 until BarsPerDay) yield {
          cents = math.max(100L, cents + rnd.nextInt(21) - 10)
          val isNull = rnd.nextInt(1000) < NullPerMille
          if (isNull) nulls += 1
          bars += Row(eventId, new Timestamp(open.getTime + m * 60000L), t.toLong, "bar",
            if (isNull) null else cents / 100.0)
          eventId += 1
          cents
        }
        Row(Timestamp.from(day.atStartOfDay().toInstant(ZoneOffset.UTC)),
          closes.head / 100.0, closes.max / 100.0, closes.min / 100.0, closes.last / 100.0,
          1000L + rnd.nextInt(1000000), 0.0, 0.0, ticker)
      }
      daily += ticker -> dayRows
    }
    Input(tickers, failing, days, daily.result(), bars.result(), nulls)
  }
}

/** The reference's own pipeline, one cycle per pass: collector → raw,
  * transform → 2-level partitioned refined layer, the Athena-style and
  * summary marts, the streaming ingest of daily raw drops, and maintenance
  * compacting the landing directory behind its expectation gate.
  */
final class MedallionWorkload extends Workload {
  import MedallionGen._

  val name = "medallion_etl"
  /** Daily drops per micro-batch of the throttled stream. */
  val FilesPerTrigger = 7

  def definition: String =
    s"$name tickers=$Tickers days=$TradingDays bars=$BarsPerDay failing=$FailingTickers " +
      s"nullPerMille=$NullPerMille filesPerTrigger=$FilesPerTrigger " +
      "steps=collector,transform,athena_mart,summary_mart,stream_ingest,maintenance"

  private var input: Input = _
  private var root: String = _
  /** The raw events as daily drops, one parquet file per trading day: the
    * transform's input and the stream's landing files.
    */
  private def events = s"$root/inputs/events"
  private def cycle = s"$root/cycle"
  private def raw = s"$cycle/raw"
  private def refined = s"$cycle/refined"
  private def drops = s"$cycle/drops"
  private def sink = s"$cycle/sink"
  private def streamCkpt = s"$cycle/stream-checkpoint"
  private val RefinedTable = "bench_refined"

  override def prepare(ctx: Ctx, seed: Long): Unit = {
    root = ctx.dirs.out
    input = MedallionGen(seed)
    // write day partitions, then flatten them into one file per day
    val staging = s"$root/inputs/staging"
    ctx.spark.createDataFrame(input.bars.asJava, eventsSchema)
      .withColumn("day", to_date(col("ts"))).repartition(col("day"))
      .write.partitionBy("day").parquet(staging)
    new File(events).mkdirs()
    for (dir <- new File(staging).listFiles() if dir.getName.startsWith("day=");
         (f, i) <- dir.listFiles().filter(_.getName.endsWith(".parquet")).zipWithIndex)
      FileUtils.moveFile(f, new File(events, s"${dir.getName.drop(4)}-$i.parquet"))
    FileUtils.deleteDirectory(new File(staging))
  }

  override def beforePass(ctx: Ctx): Unit = {
    FileUtils.deleteDirectory(new File(cycle))
    FileUtils.copyDirectory(new File(events), new File(drops))
  }

  def pass(seed: Long, index: Int): Seq[Op] = Seq(
    step("collector") { ctx =>
      var attempts, ok = 0
      val fetch = (t: String) => { attempts += 1; val rows = input.fetch(t); ok += 1; rows }
      val n = CollectorJob.run(ctx.spark, input.tickers, fetch, raw)
      ctx.attr("fetch_attempts", attempts)
      ctx.attr("fetch_ok", ok)
      n
    } { (_, n) => expect("collector rows", n, input.okDailyRows) },

    step("transform") { ctx =>
      ctx.attr("input_bytes", FileUtils.sizeOfDirectory(new File(events)).toDouble)
      TransformJob.run(ctx.spark, events, refined, Some(RefinedTable))
    } { (_, n) => expect("refined rows", n, input.validBars) },

    step("athena_mart") { ctx =>
      TransformJob.athenaStyleSummary(ctx.spark, RefinedTable)
    } { (_, mart) =>
      val rows = mart.collect()
      expect("athena mart groups", rows.length, input.martGroups)
        .orElse(expect("athena mart rows", rows.map(_.getAs[Long]("total_registros")).sum,
          input.validBars))
    },

    step("summary_mart") { ctx =>
      TransformJob.summaryMart(ctx.spark, refined)
    } { (ctx, mart) =>
      val direct = B3Pipeline.flagship(ctx.spark.read.parquet(events))
      if (sortedRows(mart) == sortedRows(direct)) None
      else Some("summary mart over the refined layer differs from B3Pipeline.flagship")
    },

    step("stream_ingest") { ctx =>
      ctx.attr("input_bytes", FileUtils.sizeOfDirectory(new File(drops)).toDouble)
      EventStream.runForeachBatchSink(ctx.spark,
        EventStream.readRawThrottled(ctx.spark, drops, eventsSchema, FilesPerTrigger),
        sink, streamCkpt)
    } { (ctx, _) =>
      val landed = fingerprint(ctx.spark.read.parquet(sink))
      val dropped = fingerprint(ctx.spark.read.schema(eventsSchema).parquet(drops))
      expect("stream sink rows", landed._1, input.bars.size).orElse {
        if (landed == dropped) None else Some("stream sink rows differ from the dropped rows")
      }
    },

    step("maintenance") { ctx =>
      val (before, after, _) = MaintenanceJob.run(ctx.spark, drops, Seq("value"),
        Seq("price_positive" -> (col("value").isNull || col("value") > 0)))
      ctx.attr("files_after_compact", after)
      (before, after)
    } { case (ctx, (before, after)) =>
      expect("rows after compaction", ctx.spark.read.parquet(drops).count(), input.bars.size)
        .orElse(if (after < before) None else Some(s"compaction left $after of $before files"))
    })

  /** A step whose result is forced inside the timed call: a returned
    * DataFrame is consumed by a `noop` write, like the query workloads.
    */
  private def step[T](name: String)(body: Ctx => T)(verify: (Ctx, T) => Option[String]): Op = {
    def exec(ctx: Ctx): T = ctx.phase("exec") {
      val out = body(ctx)
      out match {
        case df: Dataset[_] => df.write.format("noop").mode("overwrite").save()
        case _ =>
      }
      out
    }
    Op(name, ctx => exec(ctx), ctx => verify(ctx, exec(ctx)))
  }

  private def expect(what: String, got: Long, want: Long): Option[String] =
    if (got == want) None else Some(s"$what: $got, expected $want")

  /** Row count and an order-free sum of row hashes over the event columns. */
  private def fingerprint(df: DataFrame): (Long, Long) = {
    val h = xxhash64(eventsSchema.fieldNames.map(col): _*).bitwiseAND(lit(0xffffffffL))
    val r = df.agg(count(lit(1)), sum(h)).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(ResultHash.canon).toSeq.sorted
}
