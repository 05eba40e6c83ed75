package org.apache.spark.sql.graft

import org.apache.spark.SparkContext

/** Blocks until every event posted so far reached its listeners —
  * the listener bus is asynchronous, so a count read right after an
  * action may miss that action's events.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
