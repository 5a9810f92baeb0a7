package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private:
  * counters read before the bus is empty miss the last events.
  */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
