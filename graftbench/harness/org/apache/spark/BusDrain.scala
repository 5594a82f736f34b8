package org.apache.spark

/** The listener bus's drain is package-private; the harness needs it so a
  * traced run's last statements have all their events before the trace is
  * written. */
object BusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
