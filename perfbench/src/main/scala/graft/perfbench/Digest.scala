package graft.perfbench

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.Row

/** Order-insensitive digest of a query result.
  *
  * Each row is rendered canonically and hashed with MD5; the digest is
  * the row count plus the 128-bit sum of the row hashes. Addition
  * commutes, so partition order and output order do not matter, while
  * a missing, extra or changed row (including a duplicate) does.
  * Doubles are rendered to 6 significant digits: the order of a
  * distributed floating-point sum can move the last bits between runs.
  */
object Digest {

  final case class Result(rows: Long, digest: String)

  def cell(v: Any): String = v match {
    case null => "∅"
    case d: Double => number(d)
    case f: Float => number(f.toDouble)
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case b: scala.math.BigDecimal => b.bigDecimal.stripTrailingZeros.toPlainString
    case a: Array[Byte] => a.map(x => f"$x%02x").mkString("0x", "", "")
    case r: Row => (0 until r.length).map(i => cell(r.get(i))).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => cell(k) + "->" + cell(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
    case other => other.toString
  }

  private def number(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else java.lang.String.format(java.util.Locale.ROOT, "%.6g", Double.box(d))

  def of(rows: Iterator[Row]): Result = {
    val md5 = MessageDigest.getInstance("MD5")
    var n = 0L
    var hi = 0L
    var lo = 0L
    rows.foreach { r =>
      val h = md5.digest(cell(r).getBytes(StandardCharsets.UTF_8))
      val bb = java.nio.ByteBuffer.wrap(h)
      hi += bb.getLong
      lo += bb.getLong
      n += 1
    }
    Result(n, f"$hi%016x$lo%016x")
  }
}
