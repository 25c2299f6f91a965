package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** `LiveListenerBus.waitUntilEmpty` is `private[spark]`; the listener's
  * job records are complete only after the bus has delivered every event.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
