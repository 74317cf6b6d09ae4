package org.apache.spark.sql.graftshim

import org.apache.spark.SparkContext

/** The listener bus is private to Spark; a probe drains it before it resets
  * or reads its counters, so its counts never depend on how fast events
  * arrive. */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
