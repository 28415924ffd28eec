package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge to Spark 4's ColumnNode-backed Column for registering custom
  * Catalyst expressions (classic.ExpressionUtils is private[sql]), and to
  * the listener bus's drain, which a listener that must see every event
  * posted so far needs (`SparkContext.listenerBus` is private[spark]). */
object GraftGlue {
  def toColumn(e: Expression): Column = classic.ExpressionUtils.column(e)
  def toExpression(c: Column): Expression = classic.ExpressionUtils.expression(c)
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
