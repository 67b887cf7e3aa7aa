package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Namespace bridge to the private[sql] DataFrame-from-LogicalPlan
  * constructor — the standard pattern for Catalyst extensions that
  * introduce their own logical operators (no stable public API exists
  * for this; see Spark's own docs on `extraStrategies`). */
object GraftBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(
      spark.asInstanceOf[classic.SparkSession], plan)
}
