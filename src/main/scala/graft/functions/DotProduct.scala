package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge.{column, expression}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Reverse}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expression: dot product of two float32 (or float64)
  * vectors in double precision, left-to-right fold — both operands must
  * share an element type.
  *
  * This is the (b) rung of the custom-operator ladder (SURVEY.md §2.10 /
  * build brief): a codegen'd `Expression` — the generated Java loop runs
  * inside WholeStageCodegen with no per-row boxing, where a Scala UDF
  * would deserialize each array into a WrappedArray and box every
  * element. The fold order matches DuckDB's list_sum AND the typed-map
  * while-loop the ALS readout previously used, so results are
  * oracle-comparable after Det rounding and the double path is
  * bit-identical to the JVM fold (Round13Spec's replay pin holds
  * unchanged).
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"

  private def isDouble: Boolean = left.dataType match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }

  // ExpectsInputTypes is private[sql] in Spark 4 — validate directly.
  override def checkInputDataTypes(): TypeCheckResult =
    Seq(left, right).map(_.dataType) match {
      case Seq(ArrayType(FloatType, _), ArrayType(FloatType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case Seq(ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case other =>
        TypeCheckResult.TypeCheckFailure(
          s"graft_dot expects (array<float>, array<float>) or " +
            s"(array<double>, array<double>), got $other")
    }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    if (isDouble)
      while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
    else
      while (i < n) { s += x.getFloat(i).toDouble * y.getFloat(i).toDouble; i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val term = if (isDouble) s"$a.getDouble($i) * $b.getDouble($i)"
        else s"(double) $a.getFloat($i) * (double) $b.getFloat($i)"
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += $term;
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object DotProduct {
  /** `graft_dot(a, b)` as a Column. */
  def col(a: Column, b: Column): Column =
    column(DotProduct(expression(a), expression(b)))
}

/** Domain optimizer rule (the `Rule[LogicalPlan]` rung): a dot product is
  * invariant under simultaneous reversal of both operands, so
  * `graft_dot(reverse(a), reverse(b))` → `graft_dot(a, b)` — eliminating
  * two per-row array materializations. Inert unless the pattern occurs;
  * sound for any operand lengths (both folds pair index i with index i). */
object DotReverseElimination extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case DotProduct(Reverse(l), Reverse(r)) => DotProduct(l, r)
    }
}
