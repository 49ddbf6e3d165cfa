package org.apache.spark.sql.graft

import org.apache.spark.SparkContext
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Access bridge: Spark 4's classic Column<->Expression converters are
  * `private[sql]`; graft's native expressions need them to expose a
  * Column API. This is the supported pattern for libraries adding
  * Catalyst expressions without going through the (per-session) function
  * registry. */
object bridge {
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
  def column(e: Expression): Column = ExpressionUtils.column(e)
  /** Block until every posted listener event has been delivered
    * (`LiveListenerBus` is `private[spark]`): read listener counts only
    * after this, so they do not depend on delivery timing. */
  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty(60000L)
}
