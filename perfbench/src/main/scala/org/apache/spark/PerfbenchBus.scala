package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so the
  * trace is complete before it is read (the bus is package-private). */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
