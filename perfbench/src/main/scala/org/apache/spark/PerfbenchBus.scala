package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so a
  * traced pass's last jobs and micro-batches are recorded before the
  * benchmark's listeners detach. (The bus is package-private.) */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
