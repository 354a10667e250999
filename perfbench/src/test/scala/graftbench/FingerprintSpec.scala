package graftbench

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

class FingerprintSpec extends AnyFunSuite {
  import Fingerprint._

  private def fp(rows: Row*): Fp = ofRows(rows.iterator)

  test("row order does not change the fingerprint") {
    val rows = Seq(Row(1L, "a", 0.5), Row(2L, "b", 1.5), Row(3L, null, -2.0))
    assert(fp(rows: _*) == fp(rows.reverse: _*))
    assert(fp(rows: _*).rows == 3)
  }

  test("a changed, dropped or duplicated row changes the fingerprint") {
    val base = fp(Row(1L, "a"), Row(2L, "b"))
    assert(fp(Row(1L, "a"), Row(2L, "c")) != base)
    assert(fp(Row(1L, "a")) != base)
    assert(fp(Row(1L, "a"), Row(2L, "b"), Row(2L, "b")) != base)
  }

  test("-0.0 reads as 0, NaN and infinities get names") {
    assert(canon(-0.0) == "0" && canon(0.0) == "0")
    assert(fp(Row(-0.0)) == fp(Row(0.0)))
    assert(canon(Double.NaN) == "NaN")
    assert(canon(Double.PositiveInfinity) == "Inf")
    assert(canon(Double.NegativeInfinity) == "-Inf")
    assert(canon(Float.NaN) == "NaN")
  }

  test("doubles keep SigDigits significant digits: last-bit noise vanishes") {
    assert(0.1 + 0.2 != 0.3)
    assert(canon(0.1 + 0.2) == canon(0.3))
    assert(canon(1e-300 * 3) == canon(3e-300))
    assert(canon(1234567890123.0) == "1.23456789E+12")
    // a difference inside the kept digits still shows
    assert(canon(1.00000001) != canon(1.00000002))
  }

  test("floats keep six digits; decimals drop trailing zeros") {
    assert(canon(0.1f) == "0.1")
    assert(canon(1.0f / 3) == "0.333333")
    assert(canon(new java.math.BigDecimal("12.5000")) == "12.5")
    assert(canon(new java.math.BigDecimal("0E-18")) == "0")
    assert(canon(BigDecimal("100")) == "100")
  }

  test("nested values canonicalize recursively; map entries are sorted") {
    assert(canon(Seq(1.0, -0.0)) == "[1,0]")
    assert(canon(Row(1L, Seq("x"))) == "(1,[\"x\"])")
    assert(canon(Map("b" -> 2, "a" -> 1)) == canon(Map("a" -> 1, "b" -> 2)))
    assert(canon(null) != canon("∅"))
  }

  test("timestamps print as UTC instants whatever the JVM zone") {
    val prev = java.util.TimeZone.getDefault
    try {
      val t = java.sql.Timestamp.from(java.time.Instant.parse("2024-01-01T00:00:00Z"))
      java.util.TimeZone.setDefault(java.util.TimeZone.getTimeZone("Asia/Tokyo"))
      assert(canon(t) == "2024-01-01T00:00:00Z")
    } finally java.util.TimeZone.setDefault(prev)
  }
}
