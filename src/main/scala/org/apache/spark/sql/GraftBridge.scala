package org.apache.spark.sql

import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}

/** Namespace bridge to the private[sql] DataFrame-from-LogicalPlan
  * constructor — the standard pattern for Catalyst extensions that
  * introduce their own logical operators (no stable public API exists
  * for this; see Spark's own docs on `extraStrategies`). */
object GraftBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(
      spark.asInstanceOf[classic.SparkSession], plan)

  /** Analyze `df.where(cond)` with the session analyzer and no Dataset:
    * an unresolvable `cond` throws its AnalysisException here. A Dataset
    * that fails analysis is also reported to the session's execution
    * listeners, and once an `Observation` has run in the session its
    * listener re-raises the failure, which the listener bus logs at ERROR
    * with a full stack trace. */
  def requireResolves(df: DataFrame, cond: Column): Unit = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    ds.sparkSession.sessionState.analyzer.executeAndCheck(
      Filter(ds.sparkSession.expression(cond), ds.queryExecution.analyzed),
      new QueryPlanningTracker)
  }
}
