package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge.{column, expression}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native 63-bit dHash of a payload's codepoint stream — the codegen'd
  * form of multimodal_phash_dedup's signature (SURVEY.md §2.19): sample
  * 64 grid cells at codepoint index (i·n) div 64, set bit i when
  * cell(i) > cell(i+1). Bit-identical to the SQL spelling
  * `aggregate(sequence(0,62), ..., ascii(substring(text, 1 + (i·n) div 64,
  * 1)) > ascii(substring(...)))` — which is interpreted per element AND
  * re-scans the UTF-8 string per substring call (O(63·n) per row, each
  * substring a fresh codepoint walk). This expression decodes the
  * codepoint array ONCE and samples it — O(n + 64) — inside
  * WholeStageCodegen via a static helper call, no per-row boxing.
  * Semantic parity with the HOF form is pinned exactly (Round9bSpec);
  * the DuckDB oracle twin is unchanged. */
case class DHash(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_dhash"

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"graft_dhash expects string, got $other")
    }

  override protected def nullSafeEval(input: Any): Any =
    DHash.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.DHash.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object DHash {

  /** One codepoint decode pass, then 64 samples; matches the SQL form's
    * 1-based `substring`/`ascii` semantics (codepoints, not UTF-16
    * units — a surrogate pair is ONE cell). */
  def compute(s: UTF8String): Long = {
    val str = s.toString
    val n = str.codePointCount(0, str.length)
    if (n == 0) return 0L
    val cps = new Array[Int](n)
    var ci = 0
    var off = 0
    while (off < str.length) {
      val cp = str.codePointAt(off)
      cps(ci) = cp
      ci += 1
      off += Character.charCount(cp)
    }
    var h = 0L
    var i = 0
    while (i < 63) {
      val a = cps(((i.toLong * n) / 64L).toInt)
      val b = cps((((i + 1).toLong * n) / 64L).toInt)
      if (a > b) h |= (1L << i)
      i += 1
    }
    h
  }

  /** `graft_dhash(text)` as a Column. */
  def col(text: Column): Column = column(DHash(expression(text)))
}
