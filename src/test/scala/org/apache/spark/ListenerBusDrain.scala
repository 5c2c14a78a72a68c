package org.apache.spark

/** Test access to the listener bus's drain, so a listener's counts are
  * complete when a test reads them. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
