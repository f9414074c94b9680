package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Minimal bridge into Spark's `private[sql]` Column↔Expression converters
  * (Spark 4 wraps Column around ColumnNode; the classic converters live in
  * `org.apache.spark.sql.classic.ExpressionUtils`) and its plan → DataFrame
  * factory. Standard extension technique: one accessor object compiled into
  * the sql package.
  */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
}
