package org.apache.spark.sql.graft

import org.apache.spark.SparkContext
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column <-> Catalyst Expression bridge for graft's native expressions.
  *
  * Spark 4 decoupled `Column` from Catalyst (column nodes, SPARK-46708);
  * the classic-mode converters live in `ExpressionUtils`, which is
  * `private[sql]` — hence this one-file shim inside the sql namespace,
  * the conventional pattern for third-party Catalyst expression
  * libraries. Everything else in graft stays in its own package.
  *
  * It also drains the listener bus (package-private to Spark) for the
  * job decomposition of [[graft.tools.Probe]].
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
  /** Block until every posted listener event has been delivered. */
  def drainListeners(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
