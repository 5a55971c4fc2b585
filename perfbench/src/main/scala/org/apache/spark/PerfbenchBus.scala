package org.apache.spark

/** Waits until the context's listener bus has delivered every posted
  * event, so the trace is complete before it is summarised. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
