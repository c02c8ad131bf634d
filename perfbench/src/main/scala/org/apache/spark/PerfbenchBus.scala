package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so the
  * traced run reads complete counts. `listenerBus` is package-private. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
