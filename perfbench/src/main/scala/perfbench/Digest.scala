package perfbench

import java.math.{BigDecimal => JBigDecimal, MathContext}
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{DataFrame, Row}

/** Order-insensitive digest of a query result: the schema (column
  * names and types, not nullability, so a parquet round trip keeps
  * it) and the multiset of rows. Each row is rendered canonically and
  * hashed to 64 bits; the sorted row hashes and the schema go through
  * SHA-256. Doubles are rendered to 10 significant digits, so a
  * last-bit difference from summation order cannot flip a digest;
  * every other value renders exactly. */
object Digest {
  case class Result(digest: String, rows: Long)

  def of(df: DataFrame): Result = {
    val schema = df.schema.fields
      .map(f => s"${f.name}:${f.dataType.simpleString}").mkString(",")
    val hashes = df.collect().map(rowHash).sorted
    val md = MessageDigest.getInstance("SHA-256")
    md.update(schema.getBytes(UTF_8))
    val buf = java.nio.ByteBuffer.allocate(8)
    hashes.foreach { h => buf.clear(); buf.putLong(h); md.update(buf.array()) }
    Result(md.digest().take(16).map(b => f"${b & 0xff}%02x").mkString, hashes.length)
  }

  def rowHash(r: Row): Long = {
    val s = render(r)
    (MurmurHash3.stringHash(s, 0x5eed).toLong << 32) |
      (MurmurHash3.stringHash(s, 0x0ddba11).toLong & 0xffffffffL)
  }

  private val sig10 = new MathContext(10)

  def render(v: Any): String = v match {
    case null => "∅"
    case d: Double => double(d)
    case f: Float => double(f.toDouble)
    case b: JBigDecimal => b.stripTrailingZeros.toString
    case b: BigDecimal => b.bigDecimal.stripTrailingZeros.toString
    case a: Array[Byte] => a.map(x => f"${x & 0xff}%02x").mkString("0x", "", "")
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + "->" + render(x) }.sorted
        .mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case other => other.toString
  }

  private def double(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else new JBigDecimal(d).round(sig10).stripTrailingZeros.toString
}
