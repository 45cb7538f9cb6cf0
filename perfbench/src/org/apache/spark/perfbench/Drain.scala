package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Blocks until the listener bus has delivered every posted event, so a
  * trace read after it is complete. Lives under `org.apache.spark`
  * because the bus is `private[spark]`. */
object Drain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
