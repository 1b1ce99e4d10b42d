package graft.streaming

import java.util.concurrent.{CountDownLatch, Executors}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import graft.SparkSpec
import org.apache.spark.sql.DataFrame

/** Verify runs stream rows concurrently on a pool; each row's
  * progress record must be its own, not whichever stream finished
  * last. The record also shows what a stream's state did. */
class StreamRecordSpec extends SparkSpec {

  test("two concurrent stream execs: each thread reads only its own record") {
    val dir = sf("sf0.001")
    val pool = Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val bothDone = new CountDownLatch(2)
    // read the record only after BOTH streams have finished, so a
    // shared record would hold the later one on both threads
    def run(exec: => DataFrame): Future[StreamExec.Record] = Future {
      try exec.collect() finally bothDone.countDown()
      bothDone.await()
      StreamExec.last.get()
    }
    try {
      val tumbling = run(StreamExec.tumblingViaStream(spark, dir))
      val dedup = run(StreamExec.dedupViaStream(spark, dir))
      val (t, d) = (Await.result(tumbling, 10.minutes), Await.result(dedup, 10.minutes))
      def ops(r: StreamExec.Record) = r.stateOps.map(_._1).toSet
      assert(ops(d).exists(_.toLowerCase.contains("dedup")),
        s"dedup thread read another stream's record: ${ops(d)}")
      assert(ops(t).nonEmpty && !ops(t).exists(_.toLowerCase.contains("dedup")),
        s"tumbling thread read another stream's record: ${ops(t)}")
      assert(t.batchDurations.nonEmpty && d.batchDurations.nonEmpty)
    } finally pool.shutdown()
  }

  test("sessionsViaStream == its batch twin st_user_sessions, in k data + 2 sentinel batches") {
    val dir = sf("sf0.001")
    val streamed = StreamExec.sessionsViaStream(spark, dir).collect().toSeq
    val batches = StreamExec.last.get().batchDurations
    val batch = graft.SparkEntry.queries("st_user_sessions")(spark, dir).collect().toSeq
    assert(batch.nonEmpty)
    assert(streamed == batch,
      s"stream ${streamed.size} rows vs batch ${batch.size}: ${streamed.diff(batch).take(5)}")
    assert(batches.size == StreamExec.StreamSlices + 2,
      s"expected ${StreamExec.StreamSlices} data + 2 sentinel batches: $batches")
  }

  test("stream-stream join: the ts conjuncts still yield a state watermark") {
    // The pushed-down eid_a < eid_b conjunct makes Spark's
    // StreamingJoinHelper log "Cannot evaluate expression: event_id"
    // for that conjunct; the ts range conjuncts must still bound the
    // join state, so some batch evicts rows.
    StreamExec.joinViaStream(spark, sf("sf0.001")).collect()
    val join = StreamExec.last.get().batchProgress
      .filter(_._2.toLowerCase.contains("join"))
    assert(join.nonEmpty, "no join operator in the batch progress")
    assert(join.map(_._5).sum > 0,
      s"join state never evicted a row (watermark lost): $join")
  }
}
