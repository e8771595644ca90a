package org.apache.spark

/** Waits until every posted listener event has been delivered, so the
  * benchmark reads complete job and task totals (the bus is asynchronous
  * and its drain call is package-private). */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
