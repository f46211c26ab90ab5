package org.apache.spark.sql.graft

import org.apache.spark.SparkContext
import org.apache.spark.sql.{Column, DataFrame, Observation, Row}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.{Dataset, ExpressionUtils}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.types.{AbstractDataType, StringType}
import org.apache.spark.util.CallSite

/** Minimal bridge into `private[sql]` / `private[spark]` Spark internals
  * (Column <-> Expression conversion, listener-bus draining, observed
  * rows, checkpoint release, job call sites), the standard
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

  /** The metrics `o` observed, as a row in declaration order (blocks until
    * the observed action has reported them).
    */
  def observedRow(o: Observation): Row = o.getRow

  /** Frees the blocks of every checkpoint `df` reads directly (the RDDs
    * behind its `LogicalRDD` leaves). `Dataset.unpersist` does not reach
    * them: a checkpoint is no cached plan. (`RDD.unpersist` would do it
    * too, with a warning per RDD that its lineage is gone.)
    */
  def releaseCheckpoints(df: DataFrame): Unit =
    df.asInstanceOf[Dataset[_]].logicalPlan.foreach {
      case l: LogicalRDD => l.rdd.sparkContext.unpersistRDD(l.rdd.id, blocking = false)
      case _ =>
    }

  /** Runs `body` with `short` as the short call site of the jobs it starts
    * (the stage names a listener or the UI shows), then restores the
    * caller's. The long form, with the calling stack, is left alone.
    */
  def withCallSite[T](sc: SparkContext, short: String)(body: => T): T = {
    val prev = sc.getLocalProperty(CallSite.SHORT_FORM)
    sc.setLocalProperty(CallSite.SHORT_FORM, short)
    try body finally sc.setLocalProperty(CallSite.SHORT_FORM, prev)
  }
}
