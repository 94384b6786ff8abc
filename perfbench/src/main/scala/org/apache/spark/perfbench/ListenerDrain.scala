package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits until the listener bus has delivered every queued event, so
  * span counters are complete before they are read. Lives in
  * `org.apache.spark` because the bus is `private[spark]`.
  */
object ListenerDrain {
  def apply(sc: SparkContext, timeoutMs: Long = 30000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
