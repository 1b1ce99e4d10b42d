package graft.io

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}

/** Schema contract on the testdata boundary: whatever physical
  * encoding `events.parquet` ships with, `Tables.events` must deliver
  * `ts` as session-TZ TimestampType with epoch functions analyzable.
  *
  * This spec exists because the encoding HAS drifted: round 4's
  * testdata regeneration switched TIMESTAMP(NANOS) → timestamp[us]
  * (no tz → TIMESTAMP_NTZ), and Spark 4's `unix_micros` rejects NTZ
  * at analysis time — 8 queries and 7 suites went red with scattered
  * DATATYPE_MISMATCH errors instead of one clear contract failure.
  * If the environment drifts again, THIS test names it in one line.
  */
class EventsContractSpec extends SparkSpec {

  test("Tables.events normalizes current testdata ts to TimestampType") {
    val ev = Tables.events(spark, sf("sf0.001"))
    assert(ev.schema("ts").dataType == TimestampType,
      s"events.ts arrived as ${ev.schema("ts").dataType} after " +
        "normalization — events.parquet changed physical encoding; " +
        "extend Tables.events (io/Tables.scala)")
    // unix_micros is the canonical downstream consumer (10 call sites:
    // as-of family, range join, rolling window, SCD2, attribution) —
    // analyzability here means all of them analyze.
    val micros = ev.select(unix_micros(col("ts")).as("us"))
      .agg(min(col("us")), max(col("us"))).first()
    // sanity: epoch-micros magnitude, not nanos misread as micros
    // (2001-09-09 ≈ 1e15 us; 2286 ≈ 1e16 us)
    assert(micros.getLong(0) > 1.0e15.toLong &&
      micros.getLong(1) < 1.0e16.toLong,
      s"events.ts epoch range looks wrong: $micros — unit mix-up at scan?")
  }

  test("normalization handles both historical encodings identically") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("ev_contract").toString
    // micros-NTZ generation (what the current testdata ships)
    val ntz = Seq((1L, "u1", "click"))
      .toDF("event_id", "user_id", "kind")
      .withColumn("ts", timestamp_micros(lit(1700000000000000L))
        .cast(TimestampNTZType))
    ntz.write.parquet(s"$dir/ntz/events.parquet")
    // nanos-as-long generation (what rounds 1-3 shipped, read under
    // spark.sql.legacy.parquet.nanosAsLong=true as a plain long)
    Seq((1L, "u1", "click", 1700000000000000000L))
      .toDF("event_id", "user_id", "kind", "ts")
      .write.parquet(s"$dir/long/events.parquet")

    val fromNtz = Tables.events(spark, s"$dir/ntz")
    val fromLong = Tables.events(spark, s"$dir/long")
    assert(fromNtz.schema("ts").dataType == TimestampType)
    assert(fromLong.schema("ts").dataType == TimestampType)
    val a = fromNtz.select(unix_micros(col("ts"))).first().getLong(0)
    val b = fromLong.select(unix_micros(col("ts"))).first().getLong(0)
    assert(a == 1700000000000000L && b == a,
      s"encodings disagree after normalization: ntz=$a long=$b")
  }

  test("unknown ts encoding fails loudly at the loader, not downstream") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("ev_bad").toString
    Seq((1L, "not-a-timestamp")).toDF("event_id", "ts")
      .write.parquet(s"$dir/events.parquet")
    val e = intercept[IllegalStateException] {
      Tables.events(spark, dir)
    }
    assert(e.getMessage.contains("unknown physical encoding"))
  }
}
