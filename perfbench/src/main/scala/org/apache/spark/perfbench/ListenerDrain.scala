package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus is `private[spark]`; this bridge lets the benchmark wait
  * for queued listener events before it reads its Spark counters. */
object ListenerDrain {
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
