package org.apache.spark

/** Drains the listener bus so that listener totals read right after a job
  * include every event of that job. Lives in this package because
  * `SparkContext.listenerBus` is `private[spark]`. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
