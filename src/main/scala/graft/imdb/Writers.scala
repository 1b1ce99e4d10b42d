package graft.imdb

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Sinks K1-K2 (SURVEY.md §2.2). */
object Writers {

  /** K1: predictions TXT — one `True`/`False` per line, globally
    * ordered by tconst (the leaderboard contract,
    * data_utils.py:420-459). The reference collects to the driver and
    * formats in Python; here the format is a codegen'd projection and
    * the single file is one partition sorted by tconst (no range
    * sampling job, which a global `orderBy` runs over the whole input
    * first) — swap for a partitioned write when the output is no
    * longer leaderboard-sized. */
  def savePredictionsTxt(preds: DataFrame, path: String): Unit =
    preds
      .repartition(1)
      .sortWithinPartitions(col("tconst"))
      .select(when(col("prediction") === 1.0, "True").otherwise("False")
        .as("value"))
      .write.mode("overwrite").text(path)

  /** K2: genre-cache CSV — old ∪ new, deduped by tconst with OLD
    * entries winning deterministically (the reference seeds its dict
    * from the cache and only inserts genuinely-missing ids,
    * data_utils.py:370-413 — so old-wins is the observable order).
    * `dropDuplicates` alone keeps an arbitrary row per key; the
    * explicit priority + row_number makes the winner deterministic
    * under task retries too. */
  def saveGenreCache(oldCache: DataFrame, newPredictions: DataFrame,
                     path: String): Unit = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("tconst")).orderBy(col("_prio"))
    oldCache.select(col("tconst"), col("genre")).withColumn("_prio", lit(0))
      .unionByName(
        newPredictions.select(col("tconst"), col("genre")).withColumn("_prio", lit(1)))
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .select(col("tconst"), col("genre"))
      .coalesce(1)
      .write.mode("overwrite").option("header", true).csv(path)
  }
}
