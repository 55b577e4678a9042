package org.apache.spark.sql.graft

import org.apache.spark.SparkContext

/** Reach the private[spark] listener bus, so a spec reads its listener's
  * counters only after every queued event has been delivered.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
