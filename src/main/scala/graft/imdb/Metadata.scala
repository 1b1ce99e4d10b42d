package graft.imdb

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Metadata merge: J5 + W1 + J1/J2 (SURVEY.md §2.4-2.6) — the
  * reference's `_merge_metadata_into_df` (data_utils.py:303-344).
  */
object Metadata {

  /** Top-1 entity per movie by global entity frequency (J5: the
    * reference's groupBy count joined back, here a count window over
    * one scan of the pairs), window top-1 with DETERMINISTIC tie-break
    * (count desc, entity asc) — the reference breaks ties arbitrarily
    * (data_utils.py:327-344, SURVEY W1 quirk). Pairs with a null entity
    * are dropped, as the join back on the entity dropped them.
    *
    * Input: (movie, entity) pairs; output: (movie, entity,
    * {entity}_count) one row per movie.
    */
  def topEntityPerMovie(pairs: DataFrame, entityCol: String): DataFrame = {
    val cntName = s"${entityCol}_count"
    val w = Window.partitionBy(col("movie"))
      .orderBy(col(cntName).desc, col(entityCol).asc)
    pairs.filter(col(entityCol).isNotNull)
      .withColumn(cntName, count(lit(1)).over(Window.partitionBy(col(entityCol))))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") === 1)
      .drop("rank")
  }

  /** J1/J2: left-join top writer + top director onto the movie table on
    * tconst = movie, null partners -> 'unknown'
    * (classifier_pipeline.py:267-271). Metadata sides are
    * dimension-sized -> broadcast. */
  def mergeMetadata(movies: DataFrame, writing: DataFrame,
                    directing: DataFrame): DataFrame =
    joinTop(movies, topEntityPerMovie(writing, "writer"),
      topEntityPerMovie(directing, "director"))

  /** [[mergeMetadata]] over prebuilt [[topEntityPerMovie]] tables, so a
    * caller that merges several movie sets builds them once. */
  def joinTop(movies: DataFrame, topW: DataFrame, topD: DataFrame): DataFrame =
    movies
      .join(broadcast(topW), movies("tconst") === topW("movie"), "left")
      .drop("movie")
      .join(broadcast(topD), movies("tconst") === topD("movie"), "left")
      .drop("movie")
      .withColumn("writer", coalesce(col("writer"), lit("unknown")))
      .withColumn("director", coalesce(col("director"), lit("unknown")))
}
