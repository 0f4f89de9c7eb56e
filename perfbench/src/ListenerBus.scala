package org.apache.spark

/** Listener events arrive asynchronously; counters are read only after
  * the bus has delivered every event posted so far.
  */
object PerfbenchListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
