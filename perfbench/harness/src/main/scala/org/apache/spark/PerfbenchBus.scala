package org.apache.spark

/** Waits until every event posted so far reached the listeners, so a
  * traced run's numbers include the last operation's jobs and tasks. The
  * listener bus is package-private to Spark. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
