package org.apache.spark.sql

import org.apache.spark.sql.catalyst.analysis.SimpleFunctionRegistry
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule

/** Test-only access to Spark internals the graft suites check against;
  * each accessor is `private[sql]` or `private[spark]` in Spark.
  */
object GraftTestAccess {

  /** Function names a [[SparkSessionExtensions]] injects. */
  def injectedFunctionNames(ext: SparkSessionExtensions): Seq[String] =
    ext.registerFunctions(new SimpleFunctionRegistry).listFunction().map(_.funcName)

  /** Optimizer rules a [[SparkSessionExtensions]] injects. */
  def injectedOptimizerRules(ext: SparkSessionExtensions,
                             spark: SparkSession): Seq[Rule[LogicalPlan]] =
    ext.buildOptimizerRules(spark)

  /** Spark's default `spark.memory.storageFraction`. */
  def storageFractionDefault: Double =
    org.apache.spark.internal.config.MEMORY_STORAGE_FRACTION.defaultValue.get
}
