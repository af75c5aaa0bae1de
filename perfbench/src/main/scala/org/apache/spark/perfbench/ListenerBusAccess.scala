package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus delivers events asynchronously; counters read right
  * after an action would miss its last tasks. Draining the bus is
  * `private[spark]`, hence this shim in Spark's package. */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
