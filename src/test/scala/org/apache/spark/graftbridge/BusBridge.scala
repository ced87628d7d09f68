package org.apache.spark.graftbridge

import org.apache.spark.SparkContext

/** Access to the `private[spark]` listener bus for the tests: waits
  * until every event posted so far has reached its listeners. Lives
  * under `org.apache.spark` purely for access. */
object BusBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
