package org.apache.spark

/** The listener bus's drain is package-private; the harness needs it to
  * attribute asynchronously delivered events to the operation that caused
  * them before starting the next one. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
