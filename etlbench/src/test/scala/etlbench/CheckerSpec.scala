package etlbench

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

class CheckerSpec extends AnyFunSuite {
  private val schema = StructType(Seq(StructField("k", LongType), StructField("v", DoubleType)))
  private val rows = Array(Row(1L, 0.5), Row(2L, null))
  private val hash = ResultHash.of(schema, rows)

  test("the hash respects row order, values and schema") {
    assert(ResultHash.of(schema, rows) === hash)
    assert(ResultHash.of(schema, rows.reverse) !== hash)
    assert(ResultHash.of(schema, Array(Row(1L, 0.5), Row(2L, 0.0))) !== hash)
    assert(ResultHash.of(StructType(schema.fields.reverse), rows) !== hash)
  }

  test("a wrong or missing hash is a failure") {
    assert(ResultHash.verdict("q", hash, Some(hash)) === None)
    assert(ResultHash.verdict("q", hash, Some("0" * 64)).exists(_.contains("q")))
    assert(ResultHash.verdict("q", hash, None).isDefined)
  }

  test("a failed check counts as a failure, not as a timing") {
    val wrong = Op("q", _ => (), _ => ResultHash.verdict("q", hash, Some("0" * 64)))
    val right = Op("r", _ => (), _ => ResultHash.verdict("r", hash, Some(hash)))
    val broken = Op("b", _ => (), _ => throw new IllegalStateException("boom"))
    val results = Main.checkPass(Seq(wrong, right, broken), ctx = null)
    assert(results.map(_._1) === Seq("q", "r", "b"))
    assert(results.map(_._2.isDefined) === Seq(true, false, true))
  }

  test("the tail is the highest order statistic with ten samples above it") {
    assert(Stats.tail((1 to 30).map(_.toDouble)) === ((20.0, 100.0 * 20 / 30)))
    assert(Stats.tail((1 to 12).map(_.toDouble)) === ((12.0, 100.0)))
    assert(Stats.median(Seq(3.0, 1.0, 2.0, 10.0)) === 2.5)
  }
}
