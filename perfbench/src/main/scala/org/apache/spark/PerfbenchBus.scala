package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so a
  * listener's counters are complete when the traced run reads them.
  * `listenerBus` is package-private; this file lives in Spark's package
  * for that one call.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
