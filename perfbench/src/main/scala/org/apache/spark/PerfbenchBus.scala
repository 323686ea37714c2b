package org.apache.spark

/** Lets the benchmark's listener wait for the event queue to drain before it
  * reads its counters; the bus is only visible inside the spark package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
