package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into Spark's `private[sql]` Column ↔ Expression conversion
  * and the `private[spark]` listener bus.
  *
  * Spark 4.x moved `Column` to a connect-compatible ColumnNode wrapper; the
  * only supported in-JVM conversion is `classic.ExpressionUtils`, which is
  * `private[sql]`. Declaring this one-file shim inside package
  * `org.apache.spark.sql` is the standard library-extension pattern (the
  * same trick every Spark connector uses for private[sql] APIs).
  */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Blocks until every listener has handled every event posted so far;
    * throws `TimeoutException` after `timeoutMs`. Runs no Spark job.
    */
  def drainListenerBus(sc: SparkContext, timeoutMs: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
