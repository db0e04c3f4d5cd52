package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge.{column, expression}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.types.{DataType, LongType}

/** Native Catalyst expression: 64-bit Morton (Z-order) code of two int64
  * keys' low 32 bits — the space-filling-curve sort key for multi-column
  * data layout.
  *
  * WHY at 100 TB: parquet/lakehouse file skipping prunes on per-file
  * min/max ranges. A table sorted by (a) clusters a but scatters b; sorted
  * by morton(a, b) every file covers a small RECTANGLE in (a, b), so
  * predicates on either column (or both) skip most files. This is the
  * layout operator behind "Z-ORDER BY" in the lakehouse engines, built
  * here as the (b) rung of the custom-operator ladder: a codegen'd
  * expression (bit-twiddle interleave, no boxing, inside
  * WholeStageCodegen) rather than a UDF.
  *
  * Bit spreading uses the standard magic-number interleave (public
  * bit-hack: spread 32 bits to even positions in 5 mask steps); x
  * occupies even bits, y odd bits.
  */
case class MortonCode(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_morton"

  override def checkInputDataTypes(): TypeCheckResult =
    Seq(left, right).map(_.dataType) match {
      case Seq(LongType, LongType) => TypeCheckResult.TypeCheckSuccess
      case other =>
        TypeCheckResult.TypeCheckFailure(
          s"graft_morton expects (bigint, bigint), got $other")
    }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    MortonCode.interleave(a.asInstanceOf[Long], b.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      s"${ev.value} = graft.functions.MortonCode.interleave($a, $b);"
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object MortonCode {

  /** Spread the low 32 bits of v to the even bit positions of a long. */
  def spread(v: Long): Long = {
    var x = v & 0xffffffffL
    x = (x | (x << 16)) & 0x0000ffff0000ffffL
    x = (x | (x << 8)) & 0x00ff00ff00ff00ffL
    x = (x | (x << 4)) & 0x0f0f0f0f0f0f0f0fL
    x = (x | (x << 2)) & 0x3333333333333333L
    x = (x | (x << 1)) & 0x5555555555555555L
    x
  }

  /** Morton code: x on even bits, y on odd bits. */
  def interleave(x: Long, y: Long): Long =
    spread(x) | (spread(y) << 1)

  /** `graft_morton(x, y)` as a Column. */
  def col(x: Column, y: Column): Column =
    column(MortonCode(expression(x), expression(y)))
}
