package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge.{column, expression}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.types.{DataType, LongType}

/** Native Catalyst expression: order-16 Hilbert-curve index of two int64
  * keys' low 16 bits — [[MortonCode]]'s locality-superior sibling.
  *
  * WHY at 100 TB: both space-filling curves make every parquet file
  * cover a small rectangle in (a, b) for min/max skipping, but the
  * Hilbert curve never takes the long diagonal jumps Z-order takes at
  * quadrant boundaries — consecutive curve positions are always
  * grid-ADJACENT (the defining property, pinned exhaustively at order 4
  * in Round11bSpec), so per-file bounding boxes are tighter and range
  * predicates skip more files. This is the layout behind Hilbert
  * clustering in the lakehouse engines, built as the same codegen'd
  * expression rung as graft_morton (bit ops in WholeStageCodegen, no
  * boxing).
  *
  * Algorithm: the classic quadrant fold — at each scale s the quadrant
  * index q = (3·rx) xor ry orders sub-squares as (0,0)→(0,1)→(1,1)→
  * (1,0), then the lower bits reflect/transpose into the sub-square's
  * frame (coordinates are masked to < s each step, so the fold's state
  * stays bounded). The DuckDB twin walks the identical 16-step fold as
  * a recursive CTE, making the whole curve oracle-gated.
  */
case class HilbertCode(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_hilbert"

  override def checkInputDataTypes(): TypeCheckResult =
    Seq(left, right).map(_.dataType) match {
      case Seq(LongType, LongType) => TypeCheckResult.TypeCheckSuccess
      case other =>
        TypeCheckResult.TypeCheckFailure(
          s"graft_hilbert expects (bigint, bigint), got $other")
    }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    HilbertCode.encode16(a.asInstanceOf[Long], b.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      s"${ev.value} = graft.functions.HilbertCode.encode16($a, $b);"
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object HilbertCode {

  /** Hilbert d-index at the given order (grid 2^order × 2^order).
    * Per scale s: quadrant index (3·rx) xor ry, then the sub-square
    * transform — ry=0 ∧ rx=1: reflect both coords within the quadrant
    * then transpose; ry=0 ∧ rx=0: transpose; ry=1: identity — with
    * coordinates masked to the quadrant (< s) every step. */
  def encode(order: Int, x0: Long, y0: Long): Long = {
    val n = 1L << order
    var x = x0 & (n - 1)
    var y = y0 & (n - 1)
    var d = 0L
    var s = n >> 1
    while (s > 0) {
      val rx = if ((x & s) != 0L) 1L else 0L
      val ry = if ((y & s) != 0L) 1L else 0L
      d += s * s * ((3L * rx) ^ ry)
      val m = s - 1
      if (ry == 0L) {
        val nx = if (rx == 1L) m - (y & m) else y & m
        val ny = if (rx == 1L) m - (x & m) else x & m
        x = nx; y = ny
      } else {
        x &= m; y &= m
      }
      s >>= 1
    }
    d
  }

  /** The expression's fixed order-16 form (low 16 bits per key). */
  def encode16(x: Long, y: Long): Long = encode(16, x, y)

  /** `graft_hilbert(x, y)` as a Column. */
  def col(x: Column, y: Column): Column =
    column(HilbertCode(expression(x), expression(y)))
}
