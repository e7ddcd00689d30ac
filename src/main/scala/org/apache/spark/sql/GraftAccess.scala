package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** The one Spark-internal the column helpers need: wrapping a Catalyst
  * expression as a `Column` and back (`private[sql]` in Spark 4).
  */
object GraftAccess {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
}
