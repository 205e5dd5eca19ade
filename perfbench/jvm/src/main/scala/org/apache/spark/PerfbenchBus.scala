package org.apache.spark

/** Access to the driver's listener bus, whose drain call is package
  * private: the counters collector waits on it so that a counter read
  * after an action includes every event that action posted. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
