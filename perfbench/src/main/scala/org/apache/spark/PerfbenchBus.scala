package org.apache.spark

/** Listener events are delivered asynchronously; a traced run waits for
  * the bus to drain before it reads the listeners' counters. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
