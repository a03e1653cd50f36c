package org.apache.spark

/** Waits until every queued listener event has been delivered, so the
  * status tracker has seen every job submitted so far (the bus itself
  * is private to Spark). */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
