package org.apache.spark

/** Blocks until every event posted so far has reached every listener.
  * The listener bus is private to Spark's own package; a reader that
  * sleeps a fixed time instead can read before late events arrive. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
