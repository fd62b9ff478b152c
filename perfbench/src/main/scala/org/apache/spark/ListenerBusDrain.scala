package org.apache.spark

/** The listener bus is private to Spark; this accessor lets the
  * benchmark wait until every posted event has reached its listeners
  * before it reads counters, instead of sleeping and hoping. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
