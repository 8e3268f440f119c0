package graftbench

import org.apache.spark.sql.Row
import scala.util.hashing.MurmurHash3

/** Result fingerprints that do not depend on row order or on the last
  * bits of a floating-point sum, whose value depends on the order in
  * which partial aggregates merge.
  */
object Check {

  /** Significant digits kept from a floating-point value. */
  val digits = 9

  def canon(v: Any): String = v match {
    case null => "null"
    case d: Double => canonDouble(d)
    case f: Float => canonDouble(f.toDouble)
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case other => other.toString
  }

  def canonDouble(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else new java.math.BigDecimal(d)
      .round(new java.math.MathContext(digits))
      .stripTrailingZeros.toString

  /** Order-insensitive 64-bit fingerprint of a multiset of rows: the
    * wrapping sum of a 64-bit hash of each row's canonical text.
    */
  def fingerprint(rows: Iterable[Row]): String = {
    var acc = 0L
    rows.foreach { r =>
      val s = canon(r)
      acc += (MurmurHash3.stringHash(s, 0x3c6ef372).toLong << 32) ^
        (MurmurHash3.stringHash(s, 0x1b873593).toLong & 0xffffffffL)
    }
    f"$acc%016x"
  }

  /** Numeric equality with a relative tolerance for floating sums. */
  def close(a: Double, b: Double, rel: Double = 1e-9): Boolean =
    a == b || math.abs(a - b) <= rel * math.max(1.0, math.max(math.abs(a), math.abs(b)))
}
