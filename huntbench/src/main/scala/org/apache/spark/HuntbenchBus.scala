package org.apache.spark

/** The listener bus is package-private; counting per call needs its drain. */
object HuntbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
