package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Column ↔ catalyst Expression bridge for custom expressions. Spark 4's
  * Column API hides the classic expression behind `private[sql]`
  * (`org.apache.spark.sql.classic.ExpressionUtils`); this is the standard
  * in-package shim used by Spark extension libraries.
  */
object GraftBridge {
  def column(e: Expression): Column      = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression  = classic.ExpressionUtils.expression(c)

  /** The frame of a logical plan (analysed here, as any Dataset is). */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
}
