package graft.imdb

import org.apache.spark.sql.{DataFrame, SparkSession}

/** CLI entry mirroring the reference's runner.py arg surface
  * (runner.py:53-104): positional data dir, test-set name, results dir;
  * optional flags. Offline by default: the deterministic stub predictor
  * stands in for ollama, and the committed caches make prediction a
  * zero-network join (SURVEY.md §7.4 risk 2).
  *
  * Usage:
  *   runMain graft.imdb.RunImdb <imdbDir> <set: validation|test> <resultsDir>
  *     [--num-trees N] [--legacy-scaler] [--extra-csv PATH] [--model-dir PATH]
  *     [--cache-out PATH]
  *
  * An unknown flag, a flag missing its value, a non-positive or
  * non-integer tree count and an unknown set name all fail with
  * [[Usage]] before any Spark work.
  */
object RunImdb {

  val Usage: String = "usage: RunImdb <imdbDir> <validation|test> <resultsDir> " +
    "[--num-trees N] [--legacy-scaler] [--extra-csv PATH] [--model-dir PATH] " +
    "[--cache-out PATH]"

  private def usage(problem: String): Nothing =
    throw new IllegalArgumentException(s"$problem\n$Usage")

  /** The pipeline config the arguments describe. */
  private def config(args: Array[String]): ImdbPipeline.Config = {
    if (args.length < 3 || args.take(3).exists(_.startsWith("--")))
      usage(s"expected three positional arguments first, got: ${args.mkString(" ")}")
    val Array(dataDir, setName, resultsDir) = args.take(3)
    if (!Set("validation", "test").contains(setName))
      usage(s"unknown set '$setName' (expected validation|test)")

    val valued = Set("--num-trees", "--extra-csv", "--model-dir", "--cache-out")
    @annotation.tailrec
    def parse(rest: List[String], acc: Map[String, String]): Map[String, String] =
      rest match {
        case Nil => acc
        case "--legacy-scaler" :: tail => parse(tail, acc + ("--legacy-scaler" -> ""))
        case f :: v :: tail if valued(f) && !v.startsWith("--") => parse(tail, acc + (f -> v))
        case f :: _ if valued(f) => usage(s"$f needs a value")
        case f :: _ => usage(s"unknown argument '$f'")
      }
    val flags = parse(args.drop(3).toList, Map.empty)
    val numTrees = flags.get("--num-trees").map(v => v.toIntOption.filter(_ > 0)
      .getOrElse(usage(s"--num-trees must be a positive integer, got '$v'")))

    ImdbPipeline.Config(
      trainGlob = s"$dataDir/train-*.csv",
      testCsv = s"$dataDir/${setName}_hidden.csv",
      writingJson = s"$dataDir/writing.json",
      directingJson = s"$dataDir/directing.json",
      cacheCsv = s"$dataDir/${setName}_gemma3_4b_cache.csv",
      resultsDir = resultsDir,
      extraCsv = flags.get("--extra-csv"),
      modelDir = flags.get("--model-dir"),
      numTrees = numTrees.getOrElse(300),
      legacyScaler = flags.contains("--legacy-scaler"),
      setName = setName,
      modelName = "gemma3_4b",
      cacheOutDir = flags.get("--cache-out"))
  }

  /** Parses `args`, runs the pipeline on `spark` and returns its
    * predictions (tconst, prediction); leaves the session running.
    * Runs no action of its own: the last Spark job is the K2 write. */
  def run(spark: SparkSession, args: Array[String]): DataFrame =
    ImdbPipeline.run(spark, config(args))

  def main(args: Array[String]): Unit = {
    val spark = graft.io.Sessions.harness()
    try run(spark, args) finally spark.stop()
  }
}
