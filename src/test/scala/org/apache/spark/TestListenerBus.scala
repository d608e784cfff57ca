package org.apache.spark

/** Test access to the listener bus: waits until every event posted so
  * far has reached the listeners, so a counter read afterwards includes
  * everything the code before the call started.
  */
object TestListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
