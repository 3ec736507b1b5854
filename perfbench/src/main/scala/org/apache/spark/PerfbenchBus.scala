package org.apache.spark

/** Waits until every posted listener event has been delivered, so the
  * benchmark reads complete counters after an operation ends. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
