package org.apache.spark.posbench

import org.apache.spark.SparkContext

/** Waits until Spark's listener bus has delivered every posted event,
  * so counters read after a call include that call's jobs and tasks.
  * Lives in Spark's package because the bus is `private[spark]`.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
