package perfbench

import java.math.{MathContext, RoundingMode}
import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.Row

/** Order-insensitive content hash of a query's output rows.
  *
  * Each row is rendered to a canonical string and hashed with MD5; the
  * first 8 digest bytes of every row are summed modulo 2^64, so the
  * result depends on the multiset of rows and not on their order or
  * partitioning. Doubles keep 9 significant digits (floats 6): the
  * engine's double aggregates may add in a partition-dependent order,
  * and the rounding absorbs the last-bit differences that causes.
  * Decimals, integers and strings are rendered exactly. */
object RowHash {
  private val doubleCtx = new MathContext(9, RoundingMode.HALF_EVEN)
  private val floatCtx = new MathContext(6, RoundingMode.HALF_EVEN)

  def apply(rows: Array[Row]): (Long, String) = {
    val md = MessageDigest.getInstance("MD5")
    var acc = 0L
    rows.foreach { r =>
      val d = md.digest(render(r).getBytes(StandardCharsets.UTF_8))
      acc += java.nio.ByteBuffer.wrap(d, 0, 8).getLong
    }
    (rows.length.toLong, f"$acc%016x")
  }

  private def num(x: Double, ctx: MathContext): String =
    if (x.isNaN) "NaN"
    else if (x.isInfinite) (if (x > 0) "Inf" else "-Inf")
    else if (x == 0.0) "0"
    else new java.math.BigDecimal(x).round(ctx).stripTrailingZeros().toString

  def render(v: Any): String = v match {
    case null                       => "\\N"
    case d: Double                  => num(d, doubleCtx)
    case f: Float                   => num(f.toDouble, floatCtx)
    case b: java.math.BigDecimal    => b.stripTrailingZeros().toPlainString
    case b: scala.math.BigDecimal   => b.bigDecimal.stripTrailingZeros().toPlainString
    case a: Array[Byte]             => a.map(x => f"${x & 0xff}%02x").mkString("0x", "", "")
    case r: Row                     => (0 until r.length).map(i => render(r.get(i))).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + "->" + render(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case v: org.apache.spark.ml.linalg.Vector => v.toArray.map(x => num(x, doubleCtx)).mkString("<", ",", ">")
    case other                      => other.toString
  }
}
