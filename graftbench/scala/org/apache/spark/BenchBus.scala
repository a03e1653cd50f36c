package org.apache.spark

/** The listener bus is private to Spark; the trace reads its counters only
  * after every event posted so far has been delivered. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
