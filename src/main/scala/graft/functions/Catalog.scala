package graft.functions

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.SparkStrategy
import scala.reflect.{ClassTag, classTag}

/** The one catalog of graft's native functions, planner strategies and
  * optimizer rules. The contract:
  *  - Operators never look a native up by name: they build it as a
  *    Column (`DotProduct.col(a, b)`, `DHash.col(text)`, ...), so running
  *    an operator leaves the caller's function registry as it was.
  *  - SQL text needs the names. A cluster gets them on every session with
  *    `--conf spark.sql.extensions=graft.functions.GraftExtensions`; a
  *    plain session gets them from `Catalog.install(spark)`.
  *  - `install` is idempotent and silent: it registers only the names,
  *    strategies and rules the session lacks, so Spark never logs
  *    "replaced a previously registered function".
  * `AsOfJoin.asof` and `TopKPerGroup.topK` call `install`, because their
  * logical nodes need the strategies to plan.
  */
object Catalog {

  private def entry[T: ClassTag](name: String)(build: FunctionBuilder)
      : (FunctionIdentifier, ExpressionInfo, FunctionBuilder) =
    (FunctionIdentifier(name),
      new ExpressionInfo(classTag[T].runtimeClass.getName, name), build)

  val functions: Seq[(FunctionIdentifier, ExpressionInfo, FunctionBuilder)] = Seq(
    entry[DotProduct]("graft_dot")(c => DotProduct(c(0), c(1))),
    entry[DHash]("graft_dhash")(c => DHash(c(0))),
    entry[MortonCode]("graft_morton")(c => MortonCode(c(0), c(1))),
    entry[HilbertCode]("graft_hilbert")(c => HilbertCode(c(0), c(1))),
    entry[HllSketch]("graft_hll")(c => HllSketch(c(0)).toAggregateExpression()),
    entry[HllRegisters]("graft_hll_regs")(
      c => HllRegisters(c(0)).toAggregateExpression()),
    entry[BitmapDistinct]("graft_bitmap")(
      c => BitmapDistinct(c(0)).toAggregateExpression()),
    entry[TDigestQuantile]("graft_tdigest")(
      c => TDigestQuantile(c(0), c(1)).toAggregateExpression()))

  val strategies: Seq[SparkStrategy] =
    Seq(graft.plans.AsOfJoinStrategy, graft.plans.TopKStrategy)

  val rules: Seq[Rule[LogicalPlan]] = Seq(DotReverseElimination)

  /** Add whatever of the catalog `spark` lacks (see the contract above). */
  def install(spark: SparkSession): Unit = synchronized {
    val registry = spark.sessionState.functionRegistry
    functions.foreach { case (id, info, build) =>
      if (!registry.functionExists(id)) registry.registerFunction(id, info, build)
    }
    val exp = spark.experimental
    val newStrategies = strategies.filterNot(exp.extraStrategies.contains)
    if (newStrategies.nonEmpty)
      exp.extraStrategies = exp.extraStrategies ++ newStrategies
    val newRules = rules.filterNot(exp.extraOptimizations.contains)
    if (newRules.nonEmpty)
      exp.extraOptimizations = exp.extraOptimizations ++ newRules
  }
}

/** The [[Catalog]] as a session extension, for clusters that set
  * `spark.sql.extensions=graft.functions.GraftExtensions`: every session
  * starts with all of the catalog's names, strategies and rules. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    Catalog.functions.foreach(ext.injectFunction)
    Catalog.strategies.foreach(s => ext.injectPlannerStrategy(_ => s))
    Catalog.rules.foreach(r => ext.injectOptimizerRule(_ => r))
  }
}
