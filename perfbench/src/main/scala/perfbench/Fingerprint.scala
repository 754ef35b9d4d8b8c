package perfbench

import java.math.{BigDecimal => JBigDecimal, RoundingMode}
import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** Order-independent fingerprint of a query result: the row count plus a
  * hash over every value. Canonicalization follows the repository's
  * oracle pre-flight (tools/check_oracle.py): columns are sorted by name,
  * floating-point and decimal values are rounded to 6 places, and row
  * order does not matter (each row is hashed on its own and the row
  * hashes are summed).
  */
object Fingerprint {

  def of(schema: StructType, rows: Seq[Row]): String = {
    val order = schema.fieldNames.zipWithIndex.sortBy(_._1).map(_._2)
    var sum = 0L
    rows.foreach { r =>
      sum += hash64(order.map(i => canon(r.get(i))).mkString("\u0001"))
    }
    val cols = hash64(schema.fieldNames.sorted.mkString(","))
    f"${rows.size}:$cols%016x:$sum%016x"
  }

  /** A value as text; floats and decimals at 6 places, -0 folded to 0. */
  def canon(v: Any): String = v match {
    case null                => "\u0000"
    case d: Double           => real(d)
    case f: Float            => real(f.toDouble)
    case d: java.math.BigDecimal => fixed(d)
    case d: BigDecimal       => fixed(d.bigDecimal)
    case b: Array[Byte]      => b.map(x => f"$x%02x").mkString
    case t: java.sql.Timestamp =>
      (Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000).toString
    case t: java.time.Instant =>
      (t.getEpochSecond * 1000000L + t.getNano / 1000).toString
    case d: java.sql.Date    => d.toLocalDate.toEpochDay.toString
    case d: java.time.LocalDate => d.toEpochDay.toString
    case r: Row              => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "=" + canon(x) }.sorted
        .mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case other               => other.toString
  }

  private def real(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString else fixed(new JBigDecimal(d))

  private def fixed(d: JBigDecimal): String = {
    val r = d.setScale(6, RoundingMode.HALF_EVEN)
    if (r.signum == 0) "0.000000" else r.toPlainString
  }

  private def hash64(s: String): Long = {
    val h = MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes(StandardCharsets.UTF_8))
    java.nio.ByteBuffer.wrap(h, 0, 8).getLong
  }
}
