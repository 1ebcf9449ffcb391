package org.apache.spark

/** Access to the listener bus, which Spark keeps package-private: the
  * benchmark reads its listener counters only after every event posted so
  * far has been delivered. */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
