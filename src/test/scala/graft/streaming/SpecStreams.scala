package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}

/** Streaming operators only the specs run: a file stream over the
  * events parquet and two mapGroupsWithState running aggregates.
  * StreamingSpec and RocksDbStateStoreSpec drive them; no query row
  * does. */
object SpecStreams {

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
}
