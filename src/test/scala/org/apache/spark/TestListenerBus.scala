package org.apache.spark

/** The listener bus is package-private; specs that count jobs drain it. */
object TestListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
