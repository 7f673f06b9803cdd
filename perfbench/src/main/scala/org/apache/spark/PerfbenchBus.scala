package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so
  * a traced pass's listener records are complete before they are read
  * (the bus is private to Spark's package). */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
