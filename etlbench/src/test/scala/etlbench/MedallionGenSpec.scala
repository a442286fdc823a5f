package etlbench

import org.scalatest.funsuite.AnyFunSuite

class MedallionGenSpec extends AnyFunSuite {
  import MedallionGen._

  private def values(in: Input): Seq[Any] = in.bars.map(_.get(4))

  test("the same seed gives identical input") {
    val (a, b) = (MedallionGen(7), MedallionGen(7))
    assert(a.failing === b.failing)
    assert(a.bars === b.bars)
    assert(a.daily === b.daily)
  }

  test("another seed gives the same shape with other values") {
    val (a, b) = (MedallionGen(7), MedallionGen(8))
    assert(a.tickers === b.tickers)
    assert(a.days === b.days)
    assert(a.bars.size === b.bars.size)
    assert(a.bars.map(_.getLong(0)) === b.bars.map(_.getLong(0)))
    assert(a.daily.values.map(_.size).sum === b.daily.values.map(_.size).sum)
    assert(values(a) !== values(b))
  }

  test("declared counts match the data") {
    val in = MedallionGen(7)
    assert(in.tickers.size === Tickers)
    assert(in.days.size === TradingDays)
    assert(in.bars.size === Tickers * TradingDays * BarsPerDay)
    assert(in.nullBars === values(in).count(_ == null))
    assert(in.nullBars > 0, "null closes must be injected")
    assert(in.validBars === in.bars.size - in.nullBars)
    assert(in.failing.size === FailingTickers)
    assert(in.okDailyRows === (Tickers - FailingTickers) * TradingDays)
    assert(in.martGroups === Tickers) // all trading days fall in one month
  }

  test("failing tickers fail the fetch and the others return their days") {
    val in = MedallionGen(7)
    val fetched = graft.sources.Ingest.fetchAll(in.tickers, in.fetch)
    assert(fetched.size === in.okDailyRows)
    assert(fetched.map(_.getString(8)).toSet === in.tickers.toSet -- in.failing)
    in.failing.foreach(t => assertThrows[java.io.IOException](in.fetch(t)))
  }

  test("prices are positive two-decimal values") {
    val prices = values(MedallionGen(7)).collect { case d: Double => d }
    assert(prices.forall(_ > 0))
    assert(prices.forall(p => math.abs(p * 100 - math.rint(p * 100)) < 1e-6))
  }
}
