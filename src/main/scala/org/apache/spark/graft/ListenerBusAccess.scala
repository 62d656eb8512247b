package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Blocks until every event posted to the context's listener bus so far
  * has been delivered (the bus is `private[spark]`, hence this package). */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
