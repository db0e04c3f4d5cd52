package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.SparkStrategy

/** Test access to the private[sql] hooks through which a session builder
  * applies a `SparkSessionExtensions`: what a session configured with
  * `spark.sql.extensions` would get, applied to an existing session. */
object ExtensionsProbe {
  def registerFunctions(ext: SparkSessionExtensions, into: SparkSession): Unit =
    ext.registerFunctions(into.sessionState.functionRegistry)

  def plannerStrategies(ext: SparkSessionExtensions, s: SparkSession): Seq[SparkStrategy] =
    ext.buildPlannerStrategies(s)

  def optimizerRules(ext: SparkSessionExtensions, s: SparkSession): Seq[Rule[LogicalPlan]] =
    ext.buildOptimizerRules(s)
}
