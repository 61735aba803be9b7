package org.apache.spark.sql.graftshim

import org.apache.spark.SparkContext

/** Test access to the listener bus: events are delivered to listeners
  * asynchronously, so a count taken right after an action needs the bus
  * drained first. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
