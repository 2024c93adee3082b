package org.apache.spark

/** The listener bus is package-private; graft.Meter drains it so every
  * event of a unit is counted before the unit's counts are read. */
object MeterBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
