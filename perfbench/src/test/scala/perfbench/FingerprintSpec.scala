package perfbench

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

class FingerprintSpec extends AnyFunSuite {
  private val ab = StructType(Seq(
    StructField("a", LongType), StructField("b", DoubleType)))
  private val ba = StructType(Seq(
    StructField("b", DoubleType), StructField("a", LongType)))

  test("row order does not change the fingerprint") {
    val rows = Seq(Row(1L, 0.5), Row(2L, 1.5), Row(3L, null))
    assert(Fingerprint.of(ab, rows) == Fingerprint.of(ab, rows.reverse))
  }

  test("columns are compared by name, not position") {
    assert(Fingerprint.of(ab, Seq(Row(1L, 0.5), Row(2L, 1.5))) ==
      Fingerprint.of(ba, Seq(Row(1.5, 2L), Row(0.5, 1L))))
  }

  test("floats are rounded to 6 places; a 7th-place difference is equal, a 6th is not") {
    val base = Fingerprint.of(ab, Seq(Row(1L, 0.1234561)))
    assert(Fingerprint.of(ab, Seq(Row(1L, 0.1234559))) == base)
    assert(Fingerprint.of(ab, Seq(Row(1L, 0.123457))) != base)
    assert(Fingerprint.canon(-0.0) == Fingerprint.canon(0.0))
    assert(Fingerprint.canon(new java.math.BigDecimal("2.50")) == Fingerprint.canon(2.5))
  }

  test("row count, values and duplicates all count") {
    val one = Seq(Row(1L, 0.5))
    assert(Fingerprint.of(ab, one) != Fingerprint.of(ab, one ++ one))
    assert(Fingerprint.of(ab, one) != Fingerprint.of(ab, Seq(Row(2L, 0.5))))
    assert(Fingerprint.of(ab, one).startsWith("1:"))
  }

  test("nested values are canonicalized element by element") {
    assert(Fingerprint.canon(Seq(1.00000001, null)) == "[1.000000,\u0000]")
    assert(Fingerprint.canon(Map("y" -> 1, "x" -> 2)) == "{x=2,y=1}")
  }
}
