package graft.streaming

import graft.SparkSpec
import graft.io.Tables
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** The real streaming side: the same transforms StreamingPack verifies
  * in batch, executed through readStream -> watermark -> memory sink,
  * plus stateful operators (mapGroupsWithState, dropDuplicates
  * WithinWatermark) on a MemoryStream. */
class StreamingSpec extends SparkSpec {

  test("file-stream tumbling agg equals the batch answer (unified API)") {
    val dir = sf("sf0.001")
    val stream = SpecStreams.streamFromParquet(spark, dir)
    val q = EventStreams.hourlyTypeCounts(stream.withWatermark("ts", "1 hour"))
      .writeStream.format("memory").queryName("hourly_stream")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()

    val streamed = spark.table("hourly_stream")
      .select("window_start", "event_type", "cnt", "sum_value")
      .collect().map(_.toSeq).toSet
    val batch =
      EventStreams.hourlyTypeCounts(Tables.events(spark, dir))
        .collect().map(_.toSeq).toSet
    assert(streamed == batch)
    assert(batch.nonEmpty)
  }

  test("mapGroupsWithState: per-user counts accumulate across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val stream = input.toDF().toDF("user_id", "event_type")
    val q = SpecStreams.runningUserCounts(spark, stream)
      .writeStream.format("memory").queryName("user_counts")
      .outputMode("update").start()
    try {
      input.addData((1L, "a"), (1L, "b"), (2L, "a"))
      q.processAllAvailable()
      input.addData((1L, "c"))
      q.processAllAvailable()
    } finally q.stop()
    // update mode emits one row per key per batch; last write wins
    val last = spark.table("user_counts").groupBy("user_id")
      .agg(max("n_events").as("n")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(last == Map(1L -> 3L, 2L -> 1L), s"state did not accumulate: $last")
  }

  test("mapGroupsWithState EWMA across batches == batch fold, bit-exact") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(min: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:$min%02d:00")
    // two users, values chosen so the fold is numerically non-trivial;
    // the batch boundary splits each user's series mid-stream
    val b1 = Seq((1L, ts(1), 10L, 3.7), (1L, ts(2), 11L, 9.1),
      (2L, ts(1), 12L, 0.3))
    val b2 = Seq((1L, ts(3), 13L, 5.55), (2L, ts(4), 14L, 7.77),
      (2L, ts(5), 15L, 2.2))
    val input = MemoryStream[(Long, java.sql.Timestamp, Long, Double)]
    val stream = input.toDF().toDF("user_id", "ts", "event_id", "value")
    val q = SpecStreams.runningUserEwma(spark, stream)
      .writeStream.format("memory").queryName("user_ewma")
      .outputMode("update").start()
    try {
      input.addData(b1: _*)
      q.processAllAvailable()
      input.addData(b2: _*)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("user_ewma")
      .groupBy("user_id").agg(max(struct(col("n"), col("ewma"))).as("s"))
      .select(col("user_id"), col("s.n"), col("s.ewma"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2))))
      .toMap
    // reference: the sequential fold over the full series
    val ref = (b1 ++ b2).groupBy(_._1).map { case (uid, evs) =>
      val vs = evs.sortBy(e => (e._2.getTime, e._3)).map(_._4)
      uid -> ((vs.size.toLong,
        vs.tail.foldLeft(vs.head)((acc, x) => acc * 0.75 + x * 0.25)))
    }
    assert(streamed == ref, s"stream fold diverged: $streamed vs $ref")
  }

  test("EWMA orders sub-millisecond events correctly within a batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // same millisecond, different microseconds, event ids REVERSED
    // relative to time order: a getTime-based sort would fold these
    // backwards (the ts tiebreak must be full precision)
    def tsNanos(nanos: Int) = {
      val t = java.sql.Timestamp.valueOf("2024-01-01 00:00:01")
      t.setNanos(nanos)
      t
    }
    val early = tsNanos(200000) // .0002s, event_id 9
    val late = tsNanos(700000)  // .0007s, event_id 5
    val input = MemoryStream[(Long, java.sql.Timestamp, Long, Double)]
    val stream = input.toDF().toDF("user_id", "ts", "event_id", "value")
    val q = SpecStreams.runningUserEwma(spark, stream)
      .writeStream.format("memory").queryName("user_ewma_us")
      .outputMode("update").start()
    try {
      input.addData((1L, late, 5L, 100.0), (1L, early, 9L, 0.0))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("user_ewma_us")
      .select(col("ewma")).collect()(0).getDouble(0)
    // time order folds value 0.0 first, then 100.0: 0*0.75 + 100*0.25
    assert(got == 25.0,
      s"fold ran in event_id order, not time order: got $got (want 25.0)")
  }

  test("cdcFinalState: out-of-order cross-batch changes compact exactly") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(min: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:$min%02d:00")
    val input = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double)]
    val stream = input.toDF()
      .toDF("user_id", "ts", "event_id", "event_type", "value")
    val q = EventStreams.cdcFinalState(spark, stream)
      .writeStream.format("memory").queryName("cdc_state")
      .outputMode("update").start()
    try {
      // batch 1: u1 @ t=30 (the eventual winner arrives FIRST);
      // u2 deleted; u3 upserted
      input.addData((1L, ts(30), 103L, "click", 9.9),
        (2L, ts(10), 201L, "error", 0.0),
        (3L, ts(5), 301L, "view", 3.3))
      q.processAllAvailable()
      // batch 2: u1 gets an OLDER row (must NOT overwrite the t=30
      // state — the ordering key lives in the state, not the arrival
      // order); u2 revives after its delete; u3 re-deleted
      input.addData((1L, ts(1), 101L, "view", 1.1),
        (2L, ts(20), 202L, "purchase", 7.7),
        (3L, ts(6), 302L, "error", 0.0))
      q.processAllAvailable()
    } finally q.stop()
    // update mode: the last emitted row per key is the compacted state
    val last = spark.table("cdc_state")
      .groupBy("user_id")
      .agg(max(struct(col("n_ops"), col("deleted"), col("last_value"))).as("s"))
      .select(col("user_id"), col("s.n_ops"), col("s.deleted"), col("s.last_value"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2),
        r.getDouble(3)))).toMap
    assert(last(1L) == ((2L, false, 9.9)),
      s"older cross-batch row overwrote newer state: ${last(1L)}")
    assert(last(2L) == ((2L, false, 7.7)), s"revive after delete: ${last(2L)}")
    assert(last(3L) == ((2L, true, 0.0)), s"re-delete: ${last(3L)}")
  }

  test("stream-stream join pairs same-user events within the time bound") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(min: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:$min%02d:00")
    val input = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val events = input.toDF().toDF("event_id", "user_id", "ts")
    val q = EventStreams.correlatedPairs(events, events)
      .writeStream.format("memory").queryName("pairs")
      .outputMode("append").start()
    try {
      input.addData(
        (1L, 7L, ts(0)), (2L, 7L, ts(5)),   // pair: within 10 min
        (3L, 7L, ts(25)),                   // beyond 10 min of 1 and 2
        (4L, 9L, ts(5)))                    // other user
      q.processAllAvailable()
      // advance the watermark far enough to close all join state
      input.addData((99L, 1L, ts(59)))
      q.processAllAvailable()
    } finally q.stop()
    val pairs = spark.table("pairs").select("eid_a", "eid_b")
      .as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)), s"unexpected pairs: $pairs")
  }

  test("watermark drops late rows from an append-mode windowed agg") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(h: Int, min: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$min%02d:00")
    val input = MemoryStream[(Long, java.sql.Timestamp, String, Double)]
    val stream = input.toDF().toDF("event_id", "ts", "event_type", "value")
    val q = EventStreams.hourlyTypeCounts(stream.withWatermark("ts", "1 hour"))
      .writeStream.format("memory").queryName("late_agg")
      .outputMode("append").start()
    try {
      input.addData((1L, ts(0, 10), "a", 1.0), (2L, ts(0, 20), "a", 1.0))
      q.processAllAvailable()
      // advance event time to 03:00 -> watermark (1h lateness) passes
      // 02:00, closing and emitting the 00:00 window
      input.addData((3L, ts(3, 0), "a", 1.0))
      q.processAllAvailable()
      // this row belongs to the already-closed 00:00 window: too late
      input.addData((4L, ts(0, 30), "a", 1.0))
      q.processAllAvailable()
      // close every window so emitted results are final
      input.addData((5L, ts(9, 0), "a", 1.0))
      q.processAllAvailable()
    } finally q.stop()
    val w0 = spark.table("late_agg")
      .filter(col("window_start") === ts(0, 0)).select("cnt")
      .as[Long].collect().toSeq
    // the 00:00 window emitted once, with only the 2 on-time rows —
    // the late row neither re-emitted nor re-counted it
    assert(w0 == Seq(2L), s"late row leaked into closed window: $w0")
  }

  test("flatMapGroupsWithState emits each session once, on close") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(h: Int, min: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$min%02d:00")
    val input = MemoryStream[(Long, java.sql.Timestamp)]
    val stream = input.toDF().toDF("user_id", "ts")
    val q = EventStreams.closedUserSessions(spark, stream)
      .writeStream.format("memory").queryName("closed_sessions")
      .outputMode("append").start()
    try {
      // user 7: two sessions in one batch (gap 02:00 -> intra-batch
      // close); user 9: one event, closed later by the timeout
      input.addData((7L, ts(0, 0)), (7L, ts(0, 10)), (7L, ts(2, 0)),
        (9L, ts(0, 5)))
      q.processAllAvailable()
      // watermark jump (10 min lateness) fires the event-time timeouts
      input.addData((99L, ts(8, 0)))
      q.processAllAvailable()
      input.addData((99L, ts(16, 0)))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.table("closed_sessions")
      .select("user_id", "session_start", "n_events")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2))).toSet
    assert(out.contains((7L, ts(0, 0), 2L)), s"intra-batch close missing: $out")
    assert(out.contains((7L, ts(2, 0), 1L)), s"timeout close missing: $out")
    assert(out.contains((9L, ts(0, 5), 1L)), s"single-event session missing: $out")
  }

  test("foreachBatch: batchId-keyed writes make the sink replay-idempotent") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the production exactly-once recipe: foreachBatch hands (batchDf,
    // batchId); writing keyed by batchId makes a replayed batch
    // overwrite itself instead of duplicating — demonstrated by
    // invoking the same batch function twice with the same id
    val store = new java.util.concurrent.ConcurrentHashMap[Long, Array[(Long, Long)]]()
    def upsert(df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
               batchId: Long): Unit = {
      val rows = df.groupBy($"user_id").count()
        .collect().map(r => r.getLong(0) -> r.getLong(1))
      store.put(batchId, rows) // idempotent: same id -> same slot
    }
    val input = MemoryStream[(Long, Long)]
    val stream = input.toDF().toDF("event_id", "user_id")
    val q = stream.writeStream.foreachBatch(upsert _)
      .outputMode("append").start()
    try {
      input.addData((1L, 7L), (2L, 7L), (3L, 9L))
      q.processAllAvailable()
      input.addData((4L, 9L))
      q.processAllAvailable()
    } finally q.stop()
    assert(store.size() >= 2)
    val merged = store.values().toArray
      .flatMap(_.asInstanceOf[Array[(Long, Long)]])
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    assert(merged == Map(7L -> 2L, 9L -> 2L), s"bad totals: $merged")
    // replay batch 0: same id, same slot — totals unchanged
    val replayId = store.keySet().iterator().next()
    val before = store.get(replayId)
    store.put(replayId, before)
    val after = store.values().toArray
      .flatMap(_.asInstanceOf[Array[(Long, Long)]])
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    assert(after == merged, "replay duplicated rows")
  }

  test("dropDuplicatesWithinWatermark suppresses duplicate event ids") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, java.sql.Timestamp)]
    val stream = input.toDF().toDF("event_id", "ts")
    val q = EventStreams.dedupedEvents(stream)
      .writeStream.format("memory").queryName("deduped")
      .outputMode("append").start()
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    try {
      input.addData((1L, t0), (1L, t0), (2L, t0)) // dup within batch
      q.processAllAvailable()
      input.addData((2L, t0), (3L, t0)) // dup across batches
      q.processAllAvailable()
    } finally q.stop()
    val ids = spark.table("deduped").select("event_id")
      .as[Long].collect().sorted.toSeq
    assert(ids == Seq(1L, 2L, 3L))
  }
}
