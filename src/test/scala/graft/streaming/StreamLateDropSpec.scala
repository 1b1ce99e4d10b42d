package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The late-drop stream-exec row is only meaningful if its staged
  * faults are real and really discarded BY THE WATERMARK — not absent
  * from the input or dropped by accident. */
class StreamLateDropSpec extends SparkSpec {

  private val dir = sf("sf0.001")

  test("late staging injects stale replays and holds back in-delay rows") {
    val staged = spark.read.parquet(
      StreamExec.lateStagedDir(spark, dir).toString)
    val ev = graft.io.Tables.events(spark, dir)
    // replays: negated ids, none of which exist in the clean corpus
    val nReplay = staged.filter(col("event_id") <= -1000000L).count()
    assert(nReplay > 0, "staging lost the stale replay rows")
    // total = corpus + replays + 2 sentinels (the held-back slice is
    // moved between batches, never dropped or duplicated)
    assert(staged.count() == ev.count() + nReplay + 2)
  }

  test("lateDropViaStream: replays dropped BY the watermark, multi-batch") {
    val out = StreamExec.lateDropViaStream(spark, dir)
    val (dropped, dataBatches) = StreamExec.last.get().lateDrop
    assert(dataBatches >= 4, s"expected >= 4 data micro-batches, got $dataBatches")
    assert(dropped > 0, "watermark dropped nothing — the row gates nothing")
    // and the result is clean: no poisoned id_sum can survive a drop
    val ids = out.agg(sum(col("id_sum"))).head().getLong(0)
    val expected = graft.io.Tables.events(spark, dir)
      .agg(sum(col("event_id"))).head().getLong(0)
    assert(ids == expected, s"id_sum $ids != clean corpus $expected")
  }
}
