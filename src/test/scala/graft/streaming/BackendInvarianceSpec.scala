package graft.streaming

import graft.SparkSpec

/** State-store BACKEND invariance of the stream-exec gate rows
  * (VERDICT r10 item 4): at 100 TB the state store is RocksDB, never
  * the HDFS-backed in-memory default — a gate row whose result
  * depended on the provider would be a silent cluster-vs-dev
  * divergence. The sf1 gate re-runs all six rows under RocksDB
  * against the DuckDB oracle (SPARK_GRAFT_STATE_STORE=rocksdb, see
  * bench/sf1_gate_r11.txt); this spec pins the MECHANICS at fixture
  * scale: the provider conf propagates through streamSession into the
  * cloned session, the provider really engages (rocksdb* custom
  * metrics in stateOperators — not a silent default), state row
  * counts are provider-invariant, and the results match row-for-row.
  */
class BackendInvarianceSpec extends SparkSpec {

  private val Rocks =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)

  test("dedup stream under RocksDB: engaged, same state rows, same result") {
    val dir = sf("sf0.001")
    val default = rows(StreamExec.dedupViaStream(spark, dir))
    val defaultOps = StreamExec.last.get().stateOps
    assert(defaultOps.nonEmpty, "dedup stream reported no stateful operators")

    val s2 = spark.newSession()
    s2.conf.set("spark.sql.streaming.stateStore.providerClass", Rocks)
    val rocks = rows(StreamExec.dedupViaStream(s2, dir))
    val rocksOps = StreamExec.last.get().stateOps

    assert(rocksOps.exists(_._3.exists(_.toLowerCase.contains("rocksdb"))),
      s"no rocksdb custom metrics — provider not engaged: $rocksOps")
    assert(!defaultOps.exists(_._3.exists(_.toLowerCase.contains("rocksdb"))),
      "default-provider run unexpectedly reported rocksdb metrics")
    // state SIZE is semantics (rows the dedup operator retains), not a
    // provider detail — it must agree across backends
    assert(rocksOps.map(o => o._1 -> o._2).toMap ==
      defaultOps.map(o => o._1 -> o._2).toMap,
      s"stateOperators row counts diverged: $defaultOps vs $rocksOps")
    assert(rocks == default,
      s"RocksDB result diverged (${rocks.size} vs ${default.size} rows)")
  }

  test("CDC upsert stream under RocksDB matches the default provider") {
    val dir = sf("sf0.001")
    val default = rows(StreamExec.cdcViaStream(spark, dir))
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.streaming.stateStore.providerClass", Rocks)
    val rocks = rows(StreamExec.cdcViaStream(s2, dir))
    assert(StreamExec.last.get().stateOps
        .exists(_._3.exists(_.toLowerCase.contains("rocksdb"))),
      "provider not engaged on the CDC stream")
    assert(rocks == default)
    assert(rocks.nonEmpty)
  }
}
