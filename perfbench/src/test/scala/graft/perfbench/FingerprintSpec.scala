package graft.perfbench

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

/** The output fingerprint against hand-computed values. */
class FingerprintSpec extends AnyFunSuite {
  test("FNV-1a 64 matches the published test vectors") {
    assert(Fingerprint.fnv1a64("") == 0xcbf29ce484222325L)
    assert(Fingerprint.fnv1a64("a") == 0xaf63dc4c8601ec8cL)
  }

  test("canonical form rounds floating point and sorts map entries") {
    assert(Fingerprint.canon(Row(1L, "x", 0.1 + 0.2)) == "(1,x,0.3)")
    assert(Fingerprint.canon(Row(1.0f / 3)) == "(0.333333)")
    assert(Fingerprint.canon(Row(-0.0, Double.NaN)) == "(0,NaN)")
    assert(Fingerprint.canon(Map("b" -> 2, "a" -> 1)) == "{a:1,b:2}")
    assert(Fingerprint.canon(Seq(Row(1, null))) == "[(1,null)]")
    assert(Fingerprint.canon(new java.math.BigDecimal("12.500")) == "12.5")
  }

  test("combine is the count and the wrapping sum of row hashes") {
    assert(Fingerprint.combine(Iterator(1L, 2L, 3L)) == Fingerprint.Value(3, 6))
    // Long.MaxValue + 2 wraps to Long.MinValue + 1
    assert(Fingerprint.combine(Iterator(Long.MaxValue, 2L)) ==
      Fingerprint.Value(2, Long.MinValue + 1))
    val rows = Seq(Row(1L, "a"), Row(2L, "b"), Row(3L, "c"))
    val h = rows.map(Fingerprint.rowHash)
    assert(Fingerprint.combine(h.iterator) == Fingerprint.combine(h.reverseIterator))
    assert(Fingerprint.rowHash(Row(1L, "a")) == Fingerprint.fnv1a64("(1,a)"))
    assert(Fingerprint.Value(0, 255).hex == "00000000000000ff")
  }
}
