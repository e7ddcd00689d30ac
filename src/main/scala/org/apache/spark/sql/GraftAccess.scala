package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** The Spark internals the engine needs: wrapping a Catalyst expression
  * as a `Column` and back (`private[sql]` in Spark 4), and the
  * SparkContext's listener bus (`private[spark]`).
  */
object GraftAccess {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Blocks until every queued listener event has been delivered. Throws
    * `TimeoutException` if the bus does not empty within 10 s.
    */
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
