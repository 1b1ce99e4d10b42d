package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** The stateful operators must be STATE-STORE-PROVIDER-INVARIANT: a
  * production cluster runs RocksDB (spillable, bounded heap), the
  * default local provider is HDFS-backed in-memory — swapping one for
  * the other is a config change and must not change any result. This
  * pins the invariance on a real RocksDB StreamExecution (the rocksdb*
  * custom metrics prove the provider was actually engaged, not
  * silently defaulted).
  */
class RocksDbStateStoreSpec extends SparkSpec {

  test("tumbling aggregate under RocksDB == batch; provider really ran") {
    val ss = spark.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "8")
    ss.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val stream = SpecStreams.streamFromParquet(ss, sf("sf0.001"))
    val agg = EventStreams.hourlyTypeCounts(stream)
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_rocks_ckpt_").toString
    val q = agg.writeStream.format("memory").queryName("rocks_tumbling")
      .outputMode("complete")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val metricKeys = q.recentProgress.flatMap(
      _.stateOperators.flatMap(_.customMetrics.keySet.toArray)).toSet
    assert(metricKeys.exists(_.toString.toLowerCase.contains("rocksdb")),
      s"no rocksdb metrics — provider not engaged: $metricKeys")
    val streamed = ss.table("rocks_tumbling")
      .orderBy(col("window_start"), col("event_type"))
      .collect().map(_.toSeq).toSeq
    ss.catalog.dropTempView("rocks_tumbling")
    val batch = EventStreams.hourlyTypeCounts(graft.io.Tables.events(spark, sf("sf0.001")))
      .orderBy(col("window_start"), col("event_type"))
      .collect().map(_.toSeq).toSeq
    assert(streamed == batch,
      s"RocksDB-streamed result diverged (${streamed.size} vs ${batch.size} rows)")
  }
}
