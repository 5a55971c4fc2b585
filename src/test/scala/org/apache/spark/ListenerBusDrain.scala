package org.apache.spark

/** Test access to the `private[spark]` listener bus: block until every
  * event posted so far has reached its listeners, so what a listener
  * recorded is complete when a test reads it. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
