package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Minimal private[sql] bridge: turn a custom LogicalPlan into a DataFrame.
  * `classic.Dataset.ofRows` is private[sql] in Spark 4, so third-party
  * operator libraries (this one, Sedona, Delta, …) expose it through a
  * one-liner in the org.apache.spark.sql package. Nothing else may live
  * here — all graft logic stays under the graft.* packages.
  */
object GraftBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** A Catalyst expression as a Column, and back — how the native
    * graft_* expressions reach the DataFrame API without a registry
    * lookup by name (`ExpressionUtils` is private[sql]). */
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Native bloom-membership predicate: Spark's own codegen'd
    * `BloomFilterMightContain` (the runtime-filter expression) over a
    * serialized `util.sketch.BloomFilter` — the engine ships no public
    * Column API for it, so third-party bloom prefilters either pay a
    * row-at-a-time UDF or bridge here. The filter bytes ride the plan as
    * a Literal (each executor lazily deserializes once); the value side
    * must be LongType. */
  def bloomMightContain(filterBytes: Array[Byte], value: Column): Column =
    column(catalyst.expressions.BloomFilterMightContain(
      catalyst.expressions.Literal(filterBytes, types.BinaryType),
      expression(value)))

  /** Flatten a physical plan INCLUDING adaptive wrappers. Under AQE
    * (default-on), `executedPlan` is an `AdaptiveSparkPlanExec` — a
    * LeafExecNode, so `plan.collect` on the wrapper sees NOTHING inside:
    * any tree-shape assertion silently passes. Plan-shape tests must
    * traverse through the wrapper (its current physical plan) and
    * through materialized query stages; both members are private[sql],
    * hence this bridge. Subquery plans ride along via plan expressions. */
  def deepPlanNodes(p: execution.SparkPlan): Seq[execution.SparkPlan] = {
    val children = p match {
      case a: execution.adaptive.AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: execution.adaptive.QueryStageExec => Seq(q.plan)
      case r: execution.exchange.ReusedExchangeExec => Seq(r.child)
      case other => other.children
    }
    val subqueries = p.expressions.flatMap(_.collect {
      case sub: execution.ScalarSubquery => sub.plan
      case sub: execution.InSubqueryExec => sub.plan
    })
    p +: (children ++ subqueries).flatMap(deepPlanNodes)
  }

  /** Force-create the driver's StateStoreCoordinator RPC endpoint. A
    * streaming query does this on start; BATCH transformWithState also
    * needs it (its state store loads consult the coordinator) but nothing
    * creates it on a purely-batch session — tasks then die with
    * RpcEndpointNotFoundException. Touching the manager's lazy val is the
    * supported-path equivalent of starting a first stream. */
  def ensureStateStoreCoordinator(spark: SparkSession): Unit =
    spark.asInstanceOf[classic.SparkSession].streams.stateStoreCoordinator
}
