package org.apache.spark

/** The listener bus is private to Spark; the benchmark needs to wait
  * for it so its counts include every event of the run. */
object PerfbenchAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
