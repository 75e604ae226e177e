package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Waits for the asynchronous listener bus, so counters read after an
  * action include every event that action posted (`listenerBus` is
  * `private[spark]`). */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
