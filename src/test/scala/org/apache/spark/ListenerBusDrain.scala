package org.apache.spark

/** Test access to the (package-private) listener bus: block until
  * every event posted so far reached its listeners, so counts taken
  * by a `SparkListener` right after an action are complete. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
