package org.apache.spark.sql.graft

import org.apache.spark.SparkContext
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.SQLExecution

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
  /** Row count of `df` in ONE Spark job, run as an SQL execution like
    * any Dataset action. `Dataset.count()` plans a global aggregate
    * whose exchange AQE runs as a job of its own (two jobs; three when
    * it also materializes a cache); counting the executed plan's rows
    * needs no exchange. */
  def countRows(df: DataFrame): Long = {
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("count"))(qe.toRdd.count())
  }
}
