package etlbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** Order-respecting result hashes and the verdict the checker draws from
  * them. Every registry query ends in a total ORDER BY, so the collected
  * row order is part of the result.
  */
object ResultHash {

  /** SHA-256 over the schema and every row, in collected order. */
  def of(schema: StructType, rows: Array[Row]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    md.update(schema.simpleString.getBytes(UTF_8))
    rows.foreach { r => md.update('\n'.toByte); md.update(canon(r).getBytes(UTF_8)) }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  /** Canonical text of a value: time zone free, exact for doubles. */
  def canon(v: Any): String = v match {
    case null                     => "<null>"
    case r: Row                   => r.toSeq.map(canon).mkString("(", ",", ")")
    case d: Double                => java.lang.Double.toString(d)
    case f: Float                 => java.lang.Float.toString(f)
    case t: java.sql.Timestamp    => s"ts:${t.getTime / 1000}.${t.getNanos}"
    case d: java.sql.Date         => s"date:${d.toLocalDate}"
    case i: java.time.Instant     => s"ts:${i.getEpochSecond}.${i.getNano}"
    case b: Array[Byte]           => b.map(x => f"${x & 0xff}%02x").mkString("0x", "", "")
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => canon(k) + "->" + canon(x) }.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case other                    => other.toString
  }

  /** None when `got` is the expected hash, else the failure to report. */
  def verdict(name: String, got: String, want: Option[String]): Option[String] =
    want match {
      case Some(w) if w == got => None
      case Some(w)             => Some(s"$name: result hash $got, expected $w")
      case None                => Some(s"$name: no expected hash recorded")
    }

  /** Expected hashes: one `name<TAB>sha256` line per query. */
  def load(path: java.nio.file.Path): Map[String, String] =
    scala.io.Source.fromFile(path.toFile, "UTF-8").getLines()
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val Array(k, v) = l.split('\t'); k -> v }.toMap
}
