package org.apache.spark.graft

import org.apache.spark.rdd.RDD

/** Drops a dead RDD's cached blocks. `RDD.unpersist` is a
  * "was locally checkpointed" WARN, an INFO line, this same
  * `unpersistRDD` call and a storage-level reset; the WARN guards live
  * frames and is noise for a lineage cut nothing reads again. Lives
  * under `org.apache.spark` because `unpersistRDD` is `private[spark]`.
  * The RDD keeps its storage level, so it must never be computed
  * again. */
object DropBlocks {
  def apply(rdd: RDD[_]): Unit = rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)
}
