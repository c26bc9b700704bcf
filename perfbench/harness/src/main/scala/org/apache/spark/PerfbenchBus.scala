package org.apache.spark

/** Access to the listener bus's drain, which Spark keeps package-private:
  * counters read right after an action must include every event the
  * action posted, so each read waits until the bus is empty first. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
