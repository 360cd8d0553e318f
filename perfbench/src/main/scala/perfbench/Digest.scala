package perfbench

import java.security.MessageDigest
import java.util.Locale

import org.apache.spark.sql.Row

/** Order-insensitive content digest of a result: the 64-bit sum of
  * per-row hashes over a canonical text form of each row. Floating-point
  * values are canonicalised to 8 significant digits, so a different
  * summation order inside an aggregate does not change the digest. */
object Digest {
  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else String.format(Locale.ROOT, "%.8g", Double.box(d))

  def canon(v: Any): String = v match {
    case null                          => "null"
    case d: Double                     => num(d)
    case f: Float                      => num(f.toDouble)
    case b: java.math.BigDecimal       => num(b.doubleValue)
    case b: BigDecimal                 => num(b.toDouble)
    case r: Row                        => r.toSeq.map(canon).mkString("(", ",", ")")
    case a: Array[Byte]                => a.map(b => f"$b%02x").mkString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_]    => s.map(canon).mkString("[", ",", "]")
    case other                         => other.toString
  }

  private def rowHash(s: String): Long = {
    val h = MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
    h.take(8).foldLeft(0L)((acc, b) => (acc << 8) | (b & 0xffL))
  }

  def of(rows: Array[Row]): String = f"${rows.iterator.map(r => rowHash(canon(r))).sum}%016x"
}
