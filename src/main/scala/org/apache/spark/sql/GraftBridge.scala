package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.catalyst.expressions.Expression

/** Column <-> Expression bridge for custom Catalyst expressions.
  *
  * Spark 4's Column wraps a ColumnNode and the conversion helpers
  * (classic.ExpressionUtils) are private[sql]; a bridge object inside
  * the sql package is the standard extension-library pattern for
  * exposing custom expressions as Columns. It also exposes the
  * listener-bus drain that job counters and plan capture wait on.
  */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Blocks until every event posted so far to `sc`'s listener bus
    * (package-private to Spark) has been delivered, so a listener's
    * record is complete.
    */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
