package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge into Spark's `private[sql]` Column↔Expression and
  * LogicalPlan↔DataFrame converters — the standard pattern for libraries
  * that ship native Catalyst expressions / plan nodes (Spark 4 removed the
  * public `Column(expr)` constructor and `Dataset.ofRows` is package-
  * private).
  */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  def analyzedPlan(df: DataFrame): LogicalPlan = df.queryExecution.analyzed

  /** Tables cached in the session's `CacheManager`. */
  def numCachedEntries(spark: SparkSession): Int =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager.numCachedEntries
}
