package org.apache.spark

/** Blocks until every event posted so far has reached the listeners. The
  * listener bus is private to Spark, hence this package.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
