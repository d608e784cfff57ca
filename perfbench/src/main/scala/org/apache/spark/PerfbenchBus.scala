package org.apache.spark

/** Waits until every event posted so far has reached the listeners, so
  * counters read at an op boundary include that op's tasks.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
