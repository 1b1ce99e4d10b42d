package graft.io

import org.apache.spark.sql.SparkSession

/** Every `SPARK_GRAFT_*` environment knob, and the only code that reads
  * the process environment (KnobsSpec's source guard keeps it so).
  * Unset, every knob runs the default below; the benchmark runs with
  * none set.
  *
  * A value is trimmed and an empty one counts as unset; a count is a
  * positive decimal integer. Anything else fails at the first read
  * with the variable's name and value in the message — never a silent
  * fallback to the default.
  *
  * | knob | default | why it exists (measurement or gate) |
  * |---|---|---|
  * | `SPARK_GRAFT_CPUS` | every core the JVM sees | cores of the default `local[N]` master |
  * | `SPARK_GRAFT_MASTER` | `local[CPUS]` | whole runs under real executor JVMs (`local-cluster[3,8,8192]`), the only local tier where executor-boundary serialization bugs fire; a past executor-kill measurement ran there (bench/fault_gate_r14.txt) |
  * | `SPARK_GRAFT_SHUFFLE` | `CPUS` | shuffle partitions sized to the data tier: g_sssp_hops hit AGGREGATE_OUT_OF_MEMORY at 32 partitions on sf100's 600M rows, 256 runs it |
  * | `SPARK_GRAFT_SF_DIR` | the sf0.1 test-data tier | `graft.Bench`'s input directory |
  * | `SPARK_GRAFT_BENCH_OUT` | `/tmp/graft_bench_full.json` | `graft.Bench`'s side file: every row's timing and per-rep records |
  *
  * Behaviour is not a knob: where two forms exist the code picks from
  * an input statistic (fn_window_distinct's scan size) or keeps the
  * measured winner as a constant next to its measurement. A deployment
  * sets Spark's own confs (`--conf`, `-Dspark.…`): RocksDB state is
  * `spark.sql.streaming.stateStore.providerClass`, reliable lineage
  * cuts are `spark.graft.checkpoint.reliable=true` (`Checkpoints`)
  * under `spark.checkpoint.dir`.
  *
  * `new Knobs(map)` parses any map, which is how KnobsSpec tests the
  * rules; the `Knobs` object reads the process environment.
  */
class Knobs(env: Map[String, String]) {

  def cpus: Int = count("SPARK_GRAFT_CPUS").getOrElse(Runtime.getRuntime.availableProcessors)
  def master: String = str("SPARK_GRAFT_MASTER").getOrElse(s"local[$cpus]")
  def shufflePartitions: Int = count("SPARK_GRAFT_SHUFFLE").getOrElse(cpus)

  def sfDir: String = str("SPARK_GRAFT_SF_DIR").getOrElse("/root/testdata/sf0.1")
  def benchOut: String = str("SPARK_GRAFT_BENCH_OUT").getOrElse("/tmp/graft_bench_full.json")

  /** Every knob's effective value, defaults filled in, by name.
    * Reads, so parses, every knob: a malformed one fails here. */
  def snapshot: Map[String, String] = scala.collection.immutable.TreeMap(
    "SPARK_GRAFT_CPUS" -> cpus.toString,
    "SPARK_GRAFT_MASTER" -> master,
    "SPARK_GRAFT_SHUFFLE" -> shufflePartitions.toString,
    "SPARK_GRAFT_SF_DIR" -> sfDir,
    "SPARK_GRAFT_BENCH_OUT" -> benchOut)

  /** The effective config as one JSON object: the session's master and
    * shuffle partitions, the source revision, then every knob. What
    * Bench's side file and Verify's `_errors.json` carry as
    * `"config"`. */
  def configJson(spark: SparkSession): String =
    (Seq("master" -> spark.sparkContext.master,
         "spark.sql.shuffle.partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
         "git_sha" -> Knobs.gitSha) ++ snapshot)
      .map { case (k, v) => s"${Knobs.quote(k)}: ${Knobs.quote(v)}" }
      .mkString("{", ", ", "}")

  private def str(name: String): Option[String] =
    env.get(name).map(_.trim).filter(_.nonEmpty)

  private def count(name: String): Option[Int] =
    str(name).map { raw =>
      raw.toIntOption.filter(_ >= 1).getOrElse(throw new IllegalArgumentException(
        s"$name must be a positive integer, got '$raw'"))
    }
}

object Knobs extends Knobs(sys.env) {

  /** `git rev-parse HEAD` of the working directory, suffixed `-dirty`
    * when `git status --porcelain` lists anything; `unknown` when git
    * is missing or the directory is not a checkout. */
  lazy val gitSha: String = {
    import scala.sys.process._
    // `!!` throws on a nonzero exit; stderr is dropped
    def git(args: String*): Option[String] =
      scala.util.Try(Process("git" +: args).!!(ProcessLogger(_ => ()))).toOption.map(_.trim)
    git("rev-parse", "HEAD").filter(_.nonEmpty) match {
      case Some(sha) => sha + (if (git("status", "--porcelain").exists(_.nonEmpty)) "-dirty" else "")
      case None => "unknown"
    }
  }

  /** The boolean rule of graft's own session confs
    * (`spark.graft.checkpoint.reliable`): 1, 0, true or false in any
    * case; anything else fails with the conf's name. */
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
