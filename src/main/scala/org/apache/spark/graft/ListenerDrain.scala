package org.apache.spark.graft

import org.apache.spark.SparkContext

import scala.jdk.CollectionConverters._

/** The listener-bus bridge of the measurement harnesses. Lives under
  * `org.apache.spark` because `listenerBus` is `private[spark]`; no
  * reflection.
  *
  * `apply` drains the async bus: the public API has no flush, and a
  * fixed sleep either wastes time or loses late onJobEnd events on a
  * loaded bus. `graft.Bench`'s per-row record is read after it.
  *
  * `dropped` is the bus's total of dropped events: a full queue drops
  * events instead of blocking, and a count built from a lossy bus
  * undercounts silently unless this is read next to it. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Events dropped so far, summed over every queue's
    * `queue.<name>.numDroppedEvents` counter. */
  def dropped(sc: SparkContext): Long =
    sc.listenerBus.metrics.metricRegistry.getCounters.asScala
      .collect { case (n, c) if n.endsWith("numDroppedEvents") => c.getCount }
      .sum
}
