package graft.imdb

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Census of the ×N IMDB pipeline's RESULTS (VERDICT r11 item 5):
  * ImdbScaleBench proves timing and driver-byte invariance at ×100,
  * but nothing checked the scaled run's OUTPUT values. This runs the
  * real pipeline (ImdbPipeline.run, tap hook) on an ImdbScaleUp
  * corpus and dumps a long-format census of the engineered train
  * frame and the prediction set — per-decade counts, indexer label
  * cardinalities, top-writer/director join hit counts, label and
  * prediction counts — as one (metric, value) parquet.
  * tools/imdb_scale_census.py recomputes every metric INSIDE DuckDB
  * from the replicated fixture files themselves (CSV/JSONL/the
  * pandas columns-orient directing.json) and equality-checks.
  *
  * All census quantities are INTEGERS — no float compare, the gate
  * contract's strongest form.
  *
  * The cache glob covers BOTH the train and the eval cache, so the
  * enrichment anti-join is empty and genre is a pure cache lookup —
  * the reference's warm-cache path, which ImdbScaleUp preserves by
  * construction (every replica id re-hits the cache).
  *
  * Usage: runMain graft.imdb.ImdbScaleCensus <bigDir> <outParquet>
  */
object ImdbScaleCensus {

  def main(args: Array[String]): Unit = {
    val Array(bigDir, outParquet) = args.take(2)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.io.Sessions.tuned(SparkSession.builder())
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val out = s"/tmp/imdb_census_run_${System.nanoTime()}"
    val cfg = ImdbPipeline.Config(
      trainGlob = s"$bigDir/train-csv",
      testCsv = s"$bigDir/validation_hidden-csv",
      writingJson = s"$bigDir/writing-json",
      directingJson = s"$bigDir/directing.json",
      cacheCsv = s"$bigDir/{train,validation}_gemma3_4b_cache-csv",
      resultsDir = out,
      resultPath = Some(s"$out/preds.txt"),
      cacheOutDir = Some(s"$out/genre_cache"))

    // the census runs inside the tap, while the run still holds the
    // engineered train frame persisted; after run returns it is released
    var trainRows: Seq[(String, Long)] = Nil
    val preds = ImdbPipeline.run(spark, cfg,
      tap = (name, df) =>
        if (name == "engineered_train") trainRows = trainCensus(df))
    if (trainRows.isEmpty)
      sys.error("tap never delivered the engineered train frame")
    val predStats = preds.agg(count(lit(1)), countDistinct(col("tconst"))).head()
    val censusRows = trainRows ++ Seq(
      "n_pred" -> predStats.getLong(0),
      "n_pred_distinct" -> predStats.getLong(1))

    import spark.implicits._
    censusRows.toDF("metric", "value").coalesce(1)
      .orderBy(col("metric"))
      .write.mode("overwrite").parquet(outParquet)
    censusRows.sortBy(_._1).foreach { case (m, v) =>
      System.err.println(f"[imdb-census] $m%-24s $v") }
    spark.stop()
  }

  /** One long-format row per metric of the engineered train frame;
    * every value is an exact count. */
  private def trainCensus(tf: DataFrame): Seq[(String, Long)] = {
    val overall = tf.agg(
      count(lit(1)).as("n_train"),
      sum(when(col("writer") =!= "unknown", 1L).otherwise(0L))
        .as("writer_hits"),
      sum(when(col("director") =!= "unknown", 1L).otherwise(0L))
        .as("director_hits"),
      sum(when(col("label") === true, 1L).otherwise(0L))
        .as("n_label_true"),
      countDistinct(col("writer")).as("card_writer"),
      countDistinct(col("director")).as("card_director"),
      countDistinct(col("genre")).as("card_genre"),
      countDistinct(coalesce(col("decade"), lit("unknown")))
        .as("card_decade")).head()
    val base = Seq(
      "n_train" -> overall.getLong(0),
      "writer_hits" -> overall.getLong(1),
      "director_hits" -> overall.getLong(2),
      "n_label_true" -> overall.getLong(3),
      "card_writer" -> overall.getLong(4),
      "card_director" -> overall.getLong(5),
      "card_genre" -> overall.getLong(6),
      "card_decade" -> overall.getLong(7))
    // decade histogram: #decades is bounded (~13 + unknown) so the
    // collect is bounded by construction
    val decades = tf
      .groupBy(coalesce(col("decade"), lit("unknown")).as("d"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => s"decade_${r.getString(0)}" -> r.getLong(1)).toSeq
    base ++ decades
  }
}
