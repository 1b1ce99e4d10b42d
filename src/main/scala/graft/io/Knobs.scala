package graft.io

import org.apache.spark.sql.SparkSession

/** Every `SPARK_GRAFT_*` environment knob, and the only code that reads
  * the process environment (KnobsSpec's source guard keeps it so).
  * Unset, every knob runs the default below; the benchmark runs with
  * none set.
  *
  * One parsing rule per type. A value is trimmed and an empty one
  * counts as unset. A boolean is `1`/`0`/`true`/`false` (any case), an
  * integer is decimal digits inside the knob's range, a choice is one
  * of its listed names (any case). Anything else fails at the first
  * read with the variable's name and value in the message — never a
  * silent fallback to the default.
  *
  * | knob | default | why it exists (measurement or gate) |
  * |---|---|---|
  * | `SPARK_GRAFT_CPUS` | every core the JVM sees | cores of the default `local[N]` master |
  * | `SPARK_GRAFT_MASTER` | `local[CPUS]` | whole runs under real executor JVMs (`local-cluster[3,8,8192]`), the only local tier where executor-boundary serialization bugs fire; the fault gate runs there (bench/fault_gate_r14.txt) |
  * | `SPARK_GRAFT_SHUFFLE` | `CPUS` | shuffle partitions sized to the data tier: g_sssp_hops hit AGGREGATE_OUT_OF_MEMORY at 32 partitions on sf100's 600M rows, 256 runs it |
  * | `SPARK_GRAFT_CACHED_COALESCE` | true | `canChangeCachedPlanOutputPartitioning`; 60.5 → 51.6 s at sf0.1, 161.0 → 153.2 s at sf1 (table in [[Sessions]]); false restores Spark's default |
  * | `SPARK_GRAFT_STATE_STORE` | `hdfs` | `rocksdb` runs every stream-exec row on the RocksDB provider, the large-state backend; the oracle gate at sf1 and sf10 shows results are provider-invariant (bench/sf10_stream_gate_r13.txt) |
  * | `SPARK_GRAFT_RELIABLE_CKPT` | false | iterative lineage cuts write reliable checkpoints that survive executor loss; the fault gate's reliable leg (bench/fault_gate_r14.txt); the session conf `spark.graft.checkpoint.reliable` wins over it |
  * | `SPARK_GRAFT_CKPT_DIR` | a temp dir deleted at JVM exit | where reliable checkpoints go (a shared path, HDFS or S3 on a cluster) |
  * | `SPARK_GRAFT_MEMO_CAP_MB` | 4096 | byte cap of the session memo's LRU eviction (scale/MemoPool; MemoPoolSpec tests eviction) |
  * | `SPARK_GRAFT_LSH_MAX_BUCKET` | 1024 | LSH bucket-width circuit breaker: a degenerate corpus fails loudly instead of grinding one O(B²) task (LshBucketCapSpec) |
  * | `SPARK_GRAFT_STREAM_SLICES` | 2, in [1, 4096] | data micro-batches per stream-exec row; the sf10 state-bound gate sets 16 to show peak state follows batch size, not stream length |
  * | `SPARK_GRAFT_STREAM_NODATA` | false | true restores Spark's no-data micro-batches; skipping them saved st_join 845 ms, st_late_drop 440 ms and st_sessions 324 ms of 0-row batches at sf0.1, oracle-identical |
  * | `SPARK_GRAFT_CKPT_CHECKSUM` | false | true restores Spark 4.1's checkpoint sidecar checksums, which double the file creations per state delta (4 instead of 2) |
  * | `SPARK_GRAFT_SF_DIR` | the sf0.1 test-data tier | `graft.Bench`'s input directory |
  * | `SPARK_GRAFT_BENCH_ONLY` | every query | `graft.Bench` dev-loop filter, comma-separated query names |
  * | `SPARK_GRAFT_BENCH_OUT` | `/tmp/graft_bench_full.json` | `graft.Bench`'s full-timings side file |
  * | `SPARK_GRAFT_KILL` | true | false runs the fault gate's no-kill baseline leg |
  * | `SPARK_GRAFT_KILL_DELAY_MS` | 4000 | fault gate: ms after a query starts before the kill |
  * | `SPARK_GRAFT_KILL_COUNT` | 1 | fault gate: executors killed per kill event (2 of 3 at once defeated d_cluster's probabilistic survival) |
  * | `SPARK_GRAFT_KILL_REPEAT_MS` | 0 (one kill) | fault gate: repeat the kill while the query runs, the rolling-preemption shape |
  *
  * No knob forces an operator form: where two forms exist the code
  * picks from an input statistic (fn_window_distinct's scan size) or
  * keeps the measured winner as a constant (the stream state
  * partition count, 8, table in `StreamExec`).
  *
  * `new Knobs(map)` parses any map, which is how KnobsSpec tests the
  * rules; the `Knobs` object reads the process environment.
  */
class Knobs(env: Map[String, String]) {

  def cpus: Int = int("SPARK_GRAFT_CPUS", 1, Int.MaxValue)
    .getOrElse(Runtime.getRuntime.availableProcessors)
  def master: String = str("SPARK_GRAFT_MASTER").getOrElse(s"local[$cpus]")
  def shufflePartitions: Int =
    int("SPARK_GRAFT_SHUFFLE", 1, Int.MaxValue).getOrElse(cpus)
  def cachedCoalesce: Boolean = bool("SPARK_GRAFT_CACHED_COALESCE").getOrElse(true)
  def rocksDbStateStore: Boolean =
    choice("SPARK_GRAFT_STATE_STORE", "hdfs", "rocksdb").contains("rocksdb")

  def reliableCkpt: Boolean = bool("SPARK_GRAFT_RELIABLE_CKPT").getOrElse(false)
  def ckptDir: Option[String] = str("SPARK_GRAFT_CKPT_DIR")
  def memoCapMb: Long =
    long("SPARK_GRAFT_MEMO_CAP_MB", 1, Long.MaxValue / (1024 * 1024)).getOrElse(4096L)
  def lshMaxBucket: Int = int("SPARK_GRAFT_LSH_MAX_BUCKET", 1, Int.MaxValue).getOrElse(1024)

  def streamSlices: Int = int("SPARK_GRAFT_STREAM_SLICES", 1, 4096).getOrElse(2)
  def streamNoData: Boolean = bool("SPARK_GRAFT_STREAM_NODATA").getOrElse(false)
  def ckptChecksum: Boolean = bool("SPARK_GRAFT_CKPT_CHECKSUM").getOrElse(false)

  def sfDir: String = str("SPARK_GRAFT_SF_DIR").getOrElse("/root/testdata/sf0.1")
  def benchOnly: Option[Set[String]] = str("SPARK_GRAFT_BENCH_ONLY")
    .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
  def benchOut: String = str("SPARK_GRAFT_BENCH_OUT").getOrElse("/tmp/graft_bench_full.json")

  def kill: Boolean = bool("SPARK_GRAFT_KILL").getOrElse(true)
  def killDelayMs: Long = long("SPARK_GRAFT_KILL_DELAY_MS", 0, Long.MaxValue).getOrElse(4000L)
  def killCount: Int = int("SPARK_GRAFT_KILL_COUNT", 1, Int.MaxValue).getOrElse(1)
  def killRepeatMs: Long = long("SPARK_GRAFT_KILL_REPEAT_MS", 0, Long.MaxValue).getOrElse(0L)

  /** Every knob's effective value (defaults filled in; an unset knob
    * with no value of its own is None), by name. Reads, so parses,
    * every knob: a malformed one fails here. */
  def snapshot: Map[String, Option[String]] = scala.collection.immutable.TreeMap(
    "SPARK_GRAFT_CPUS" -> Some(cpus.toString),
    "SPARK_GRAFT_MASTER" -> Some(master),
    "SPARK_GRAFT_SHUFFLE" -> Some(shufflePartitions.toString),
    "SPARK_GRAFT_CACHED_COALESCE" -> Some(cachedCoalesce.toString),
    "SPARK_GRAFT_STATE_STORE" -> Some(if (rocksDbStateStore) "rocksdb" else "hdfs"),
    "SPARK_GRAFT_RELIABLE_CKPT" -> Some(reliableCkpt.toString),
    "SPARK_GRAFT_CKPT_DIR" -> ckptDir,
    "SPARK_GRAFT_MEMO_CAP_MB" -> Some(memoCapMb.toString),
    "SPARK_GRAFT_LSH_MAX_BUCKET" -> Some(lshMaxBucket.toString),
    "SPARK_GRAFT_STREAM_SLICES" -> Some(streamSlices.toString),
    "SPARK_GRAFT_STREAM_NODATA" -> Some(streamNoData.toString),
    "SPARK_GRAFT_CKPT_CHECKSUM" -> Some(ckptChecksum.toString),
    "SPARK_GRAFT_SF_DIR" -> Some(sfDir),
    "SPARK_GRAFT_BENCH_ONLY" -> benchOnly.map(_.toSeq.sorted.mkString(",")),
    "SPARK_GRAFT_BENCH_OUT" -> Some(benchOut),
    "SPARK_GRAFT_KILL" -> Some(kill.toString),
    "SPARK_GRAFT_KILL_DELAY_MS" -> Some(killDelayMs.toString),
    "SPARK_GRAFT_KILL_COUNT" -> Some(killCount.toString),
    "SPARK_GRAFT_KILL_REPEAT_MS" -> Some(killRepeatMs.toString))

  /** The effective config as one JSON object: the session's master and
    * shuffle partitions, then every knob. What Bench's side file and
    * Verify's `_errors.json` carry as `"config"`. */
  def configJson(spark: SparkSession): String =
    (Seq("master" -> Some(spark.sparkContext.master),
         "spark.sql.shuffle.partitions" ->
           Some(spark.conf.get("spark.sql.shuffle.partitions"))) ++ snapshot)
      .map { case (k, v) => s"${Knobs.quote(k)}: ${v.map(Knobs.quote).getOrElse("null")}" }
      .mkString("{", ", ", "}")

  private def str(name: String): Option[String] =
    env.get(name).map(_.trim).filter(_.nonEmpty)

  private def bool(name: String): Option[Boolean] =
    str(name).map(Knobs.parseBool(name, _))

  private def long(name: String, min: Long, max: Long): Option[Long] =
    str(name).map { raw =>
      raw.toLongOption.filter(v => v >= min && v <= max).getOrElse(
        throw new IllegalArgumentException(
          s"$name must be an integer in [$min, $max], got '$raw'"))
    }

  private def int(name: String, min: Int, max: Int): Option[Int] =
    long(name, min, max).map(_.toInt)

  private def choice(name: String, allowed: String*): Option[String] =
    str(name).map { raw =>
      allowed.find(_.equalsIgnoreCase(raw)).getOrElse(
        throw new IllegalArgumentException(
          s"$name must be one of ${allowed.mkString("/")}, got '$raw'"))
    }
}

object Knobs extends Knobs(sys.env) {

  /** The boolean rule, shared with session confs that mirror a knob. */
  def parseBool(name: String, raw: String): Boolean = raw.trim.toLowerCase match {
    case "1" | "true" => true
    case "0" | "false" => false
    case _ => throw new IllegalArgumentException(
      s"$name must be 1, 0, true or false, got '$raw'")
  }

  /** A JSON string literal: quote, backslash and every control char
    * escaped. */
  def quote(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
