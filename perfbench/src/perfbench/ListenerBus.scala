package org.apache.spark

/** Waits until every posted listener event has been delivered, so the
  * benchmark reads complete counters at a phase boundary.
  */
object BenchListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
