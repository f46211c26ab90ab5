package org.apache.spark.sql.graft

import org.apache.spark.SparkContext
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{AbstractDataType, StringType}

/** Minimal bridge into `private[sql]` / `private[spark]` Spark internals
  * (Column <-> Expression conversion, listener-bus draining), the standard
  * pattern for Catalyst extension libraries.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
  val stringInputTypes: Seq[AbstractDataType] = Seq(StringType)

  /** Blocks until every event posted so far has reached the listeners (or
    * throws after `timeoutMillis`), so a listener's counts are complete.
    */
  def drainListenerBus(sc: SparkContext, timeoutMillis: Long = 30000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMillis)
}
