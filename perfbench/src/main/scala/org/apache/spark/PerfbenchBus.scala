package org.apache.spark

/** Waits until every event posted so far has reached the listeners, so a
  * counter read after an action includes that action's jobs and tasks.
  * The listener bus is private to Spark, hence this package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
