package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet table loader for the driver-generated test tables
  * (TESTDATA.md). Each table is one parquet file under the
  * scale-factor directory; at cluster scale the same call resolves a
  * directory of many files — nothing here assumes single-file layout.
  */
object Tables {

  /** A fresh DataFrame over `<sfDir>/<name>.parquet`, read with the
    * schema inferred once per (session, sfDir) — the `schema/<name>`
    * MemoPool entry. r15 optimization round (VERDICT item 3): EVERY
    * `spark.read.parquet(path)` re-runs driver-side schema inference
    * (a synchronous footer read per call), and the bench's build phase
    * (`build_s` in Bench's per-row record) measured 0.06–0.09 s per
    * table reference — a six-table TPC-H row paid ~0.5 s before planning
    * even started. Passing the memoized schema via `.schema(...)`
    * skips inference while still returning a FRESH DataFrame per call
    * (fresh attribute ids — self-joins built from two Tables() calls
    * keep their distinct lineage, unlike a memoized-DataFrame design,
    * which would alias them). Contract note: a path whose SCHEMA is
    * rewritten mid-session would read through the stale memo — the
    * corpus generators version directories instead of rewriting them
    * in place, so this cannot occur in any harness; a new session
    * always re-infers. A missing table fails here with a
    * FileNotFoundException naming its path, before Spark's DataSource
    * probes the path as a streaming-sink metadata dir (which logs a
    * warning with a stack trace). */
  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    val schema = graft.scale.MemoPool.getOrBuild(spark, sfDir, s"schema/$name") {
      val p = new org.apache.hadoop.fs.Path(path)
      if (!p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p))
        throw new java.io.FileNotFoundException(s"table $name: no file at $path")
      spark.read.parquet(path).schema
    }(_ => Nil)
    spark.read.schema(schema).parquet(path)
  }

  /** Schema contract for the foreign `events` parquet: `ts` MUST leave
    * this loader as session-TZ `TimestampType`, whatever physical
    * encoding the file carries. The testdata has shipped (at different
    * times) as parquet TIMESTAMP(NANOS) — which Spark reads only as a
    * long of nanos-since-epoch under
    * spark.sql.legacy.parquet.nanosAsLong=true (set by Sessions.harness)
    * — and as timestamp[us] with no timezone, which Spark 4
    * surfaces as TIMESTAMP_NTZ and whose epoch functions
    * (`unix_micros` etc.) then reject at analysis time. Normalizing
    * every encoding HERE, at the one scan choke point, is what keeps
    * an upstream re-encode from breaking ten scattered call sites; any
    * NEW encoding fails this one loader loudly instead of leaking a
    * foreign type downstream. All harnesses pin
    * spark.sql.session.timeZone=UTC, so the NTZ→TZ cast is the
    * identity on the wall-clock values the generator wrote.
    */
  def events(spark: SparkSession, sfDir: String): DataFrame =
    normalizeEventTs(apply(spark, sfDir, "events"))

  /** The normalization itself, shared with every reader of the events
    * files (a readStream over them must apply the identical contract). */
  def normalizeEventTs(raw: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    raw.schema("ts").dataType match {
      case LongType =>
        // integer div, NOT `/`: Column./ is a double divide, and doubles
        // lose integer precision above 2^53 — epoch-nanos are ~1.7e18.
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        // explicit cast (NOT to_timestamp, whose return type follows
        // spark.sql.timestampType and could stay NTZ)
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType => raw
      case other => throw new IllegalStateException(
        s"events.parquet ts arrived as $other — unknown physical " +
          "encoding; extend Tables.normalizeEventTs to handle it")
    }
  }
}
