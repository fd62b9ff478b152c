package org.apache.spark

/** The listener bus is private to Spark; this accessor lets a spec wait
  * until every posted event has reached its listeners before it reads
  * what they counted, instead of sleeping and hoping. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
