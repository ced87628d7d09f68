package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to the `private[spark]` listener bus, used only to wait
  * until every event posted so far has reached the benchmark's
  * listeners. Lives under `org.apache.spark` purely for access. */
object BusBridge {
  def drain(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
