package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** `LiveListenerBus` is `private[spark]`; the trace collector needs to wait
  * until every posted event has reached its listeners before it reads them. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
