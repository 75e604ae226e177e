package org.apache.spark.sql.graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule

/** Reads back what a [[SparkSessionExtensions]] holds, through its
  * `private[sql]` builders: the functions it registers and the optimizer
  * rules it builds. */
object ExtensionsBridge {
  def registerFunctions(ext: SparkSessionExtensions, registry: FunctionRegistry): FunctionRegistry =
    ext.registerFunctions(registry)
  def optimizerRules(ext: SparkSessionExtensions, spark: SparkSession): Seq[Rule[LogicalPlan]] =
    ext.buildOptimizerRules(spark)
}
