package org.apache.spark

/** Test-side access to the SparkContext's listener bus, whose drain is
  * package-private to Spark: a listener's counts are complete only once
  * every event posted so far has been delivered.
  */
object ListenerBusProbe {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
