package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Reach the private[spark] listener bus, so counters are read only after
  * every queued task-end event has been delivered.
  */
object BusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
