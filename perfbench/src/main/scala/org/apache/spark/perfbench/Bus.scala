package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Listener events are delivered on Spark's asynchronous bus. The
  * harness attributes them to the operation that just ended, so it
  * must wait until every event of that operation has been delivered
  * before it starts the next one. `waitUntilEmpty` is private[spark],
  * hence this bridge in Spark's package. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
