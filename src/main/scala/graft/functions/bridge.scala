/** Bridge into Spark's private[sql] Column <-> Expression converters and
  * plan -> DataFrame constructor. Spark 4 wraps Column around ColumnNode;
  * the supported conversion lives in org.apache.spark.sql.classic.
  * ExpressionUtils which is private[sql], as is classic.Dataset.ofRows —
  * the standard extension idiom is a shim declared inside the sql package.
  */
package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
}
