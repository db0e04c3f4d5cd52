package graft.perfbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.CatalystTypeConverters

/** Order-insensitive content fingerprint of a query result: the row count
  * and the wrapping 64-bit sum of one FNV-1a hash per row. Each row is
  * first rendered to a canonical string, so the fingerprint ignores row
  * order, map entry order and the last bits of floating-point sums that
  * depend on partition order (doubles keep 8 significant digits, floats
  * 6). */
object Fingerprint {
  final case class Value(rows: Long, hash: Long) {
    def hex: String = f"$hash%016x"
  }

  private val FnvOffset = 0xcbf29ce484222325L
  private val FnvPrime = 0x100000001b3L

  def fnv1a64(s: String): Long = {
    var h = FnvOffset
    s.getBytes("UTF-8").foreach { b => h = (h ^ (b & 0xff)) * FnvPrime }
    h
  }

  private def num(d: Double, digits: Int): String =
    if (d.isNaN) "NaN"
    else if (d.isInfinite) (if (d > 0) "Inf" else "-Inf")
    else if (d == 0.0) "0"
    else new java.math.BigDecimal(d)
      .round(new java.math.MathContext(digits)).stripTrailingZeros.toString

  def canon(v: Any): String = v match {
    case null => "null"
    case d: Double => num(d, 8)
    case f: Float => num(f.toDouble, 6)
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString("0x", "", "")
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + ":" + canon(x) }.sorted
        .mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case d: java.math.BigDecimal => d.stripTrailingZeros.toPlainString
    case t: java.sql.Timestamp => t.toInstant.toString
    case t: java.time.Instant => t.toString
    case other => other.toString
  }

  def rowHash(r: Row): Long = fnv1a64(canon(r))

  /** Combine per-row hashes: the count and the sum modulo 2^64. */
  def combine(hashes: Iterator[Long]): Value =
    hashes.foldLeft(Value(0L, 0L))((acc, h) => Value(acc.rows + 1, acc.hash + h))

  /** Fingerprints the frame's internal rows, converted to external Rows
    * by the interpreted converter: the physical plan is the one the timed
    * `noop` write compiled, so this adds no code generation of its own. */
  def of(df: DataFrame): Value = {
    val schema = df.schema
    df.queryExecution.toRdd.mapPartitions { rows =>
      val toRow = CatalystTypeConverters.createToScalaConverter(schema)
      Iterator(combine(rows.map(r => rowHash(toRow(r).asInstanceOf[Row]))))
    }.collect().foldLeft(Value(0L, 0L))((a, b) => Value(a.rows + b.rows, a.hash + b.hash))
  }
}
