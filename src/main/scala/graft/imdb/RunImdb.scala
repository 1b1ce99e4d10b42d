package graft.imdb

import org.apache.spark.sql.functions.{col, count, lit, when}

/** CLI entry mirroring the reference's runner.py arg surface
  * (runner.py:53-104): positional data dir, test-set name, results dir;
  * optional flags. Offline by default: the deterministic stub predictor
  * stands in for ollama, and the committed caches make prediction a
  * zero-network join (SURVEY.md §7.4 risk 2).
  *
  * Usage:
  *   runMain graft.imdb.RunImdb <imdbDir> <set: validation|test> <resultsDir>
  *     [--num-trees N] [--legacy-scaler] [--extra-csv PATH] [--model-dir PATH]
  */
object RunImdb {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: RunImdb <imdbDir> <validation|test> <resultsDir> " +
        "[--num-trees N] [--legacy-scaler] [--extra-csv PATH]")
    val Array(dataDir, setName, resultsDir) = args.take(3)
    require(Set("validation", "test").contains(setName),
      s"unknown set '$setName' (expected validation|test)")
    val flags = args.drop(3)
    def flagVal(name: String): Option[String] =
      flags.sliding(2).collectFirst { case Array(`name`, v) => v }

    val spark = graft.io.Sessions.harness()

    val cfg = ImdbPipeline.Config(
      trainGlob = s"$dataDir/train-*.csv",
      testCsv = s"$dataDir/${setName}_hidden.csv",
      writingJson = s"$dataDir/writing.json",
      directingJson = s"$dataDir/directing.json",
      cacheCsv = s"$dataDir/${setName}_gemma3_4b_cache.csv",
      resultsDir = resultsDir,
      extraCsv = flagVal("--extra-csv"),
      modelDir = flagVal("--model-dir"),
      numTrees = flagVal("--num-trees").map(_.toInt).getOrElse(300),
      legacyScaler = flags.contains("--legacy-scaler"),
      setName = setName,
      modelName = "gemma3_4b",
      cacheOutDir = flagVal("--cache-out"))
    val preds = ImdbPipeline.run(spark, cfg)
    // one action: each one re-runs the test side, which the run released
    val stats = preds.agg(count(lit(1)), count(when(col("prediction") === 1.0, 1)))
      .head()
    val (n, nTrue) = (stats.getLong(0), stats.getLong(1))
    println(s"[imdb] wrote $n predictions ($nTrue True / ${n - nTrue} False)")
    spark.stop()
  }
}
