package org.apache.spark

/** Waits until every posted listener event has been delivered, so the
  * benchmark's listeners have seen all jobs before it reads them. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
