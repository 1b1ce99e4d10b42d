package graft.imdb

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** M8: cache-first LLM genre enrichment (SURVEY.md §2.10), the
  * reference's llm_predictor.py re-expressed for executors.
  *
  * The reference collects all ids to the driver, diffs Python sets,
  * calls ollama per batch from the driver, and rebuilds a DataFrame
  * (X3 pessimization). Here:
  *   cache-miss set  = left_anti join (distributed),
  *   LLM calls       = mapPartitions with internal batching (the
  *                     side-effecting row transform runs ON EXECUTORS,
  *                     parallel across partitions, R6 batch size kept),
  *   updated cache   = union + dropDuplicates.
  * The predictor is a trait so tests (and offline runs) use the
  * deterministic stub — behavior matches the reference with a fully
  * warm cache: the anti-join finds nothing and no network happens.
  */
object Enrichment {

  /** Whitelisted genres (llm_predictor.py:33-38). */
  val MovieGenres: Seq[String] = Seq(
    "Action", "Adventure", "Animation", "Biography", "Comedy",
    "Crime", "Documentary", "Drama", "Family", "Fantasy",
    "History", "Horror", "Music", "Mystery", "Romance",
    "Sci-Fi", "Thriller", "War")

  /** Feature subset shipped to the predictor (llm_predictor.py:79-86). */
  case class MovieMeta(
    tconst: String,
    primaryTitle: Option[String],
    originalTitle: Option[String],
    startYear: Option[Int],
    runtimeMinutes: Option[Double],
    numVotes: Option[Double])

  /** A genre predictor: batch of metadata in, (tconst, genre) out.
    * Implementations must validate against MovieGenres ('unknown'
    * otherwise — llm_predictor.py:183-195) and be Serializable (runs
    * inside mapPartitions). */
  trait GenrePredictor extends Serializable {
    def predictBatch(batch: Seq[MovieMeta]): Seq[(String, String)]
  }

  /** Deterministic stub: hash(tconst) -> genre. Keeps tests and CI
    * hermetic — no LLM server in the loop (SURVEY §7.4 risk 2). */
  object StubPredictor extends GenrePredictor {
    override def predictBatch(batch: Seq[MovieMeta]): Seq[(String, String)] =
      batch.map { m =>
        val idx = math.floorMod(m.tconst.hashCode, MovieGenres.size)
        m.tconst -> MovieGenres(idx)
      }
  }

  /** Cache-first enrichment. Returns (genres, newPredictions):
    * `genres` is cache ∪ new — join it to the movie table on tconst
    * (J3); `newPredictions` is what K2 appends to the cache file, one
    * row per distinct missing tconst. Only the [[MovieMeta]] columns of
    * `movies` are read. */
  def enrich(spark: SparkSession, movies: DataFrame, cache: DataFrame,
             predictor: GenrePredictor, batchSize: Int = 20)
      : (DataFrame, DataFrame) = {
    import spark.implicits._
    val needed = movies
      .join(cache, Seq("tconst"), "left_anti") // J6, replaces driver set-diff
      // one prediction per missing id: a repeated row (or a movie in
      // both sets of a one-pass run) would otherwise be predicted twice
      // and reach `fresh` twice
      .dropDuplicates("tconst")
      .select(col("tconst"),
        col("primaryTitle"), col("originalTitle"),
        col("startYear").cast("int"),
        col("runtimeMinutes").cast("double"),
        col("numVotes").cast("double"))
      .as[MovieMeta]
    val fresh = needed
      .mapPartitions(_.grouped(batchSize).flatMap(b => predictor.predictBatch(b)))
      .toDF("tconst", "genre")
      .withColumn("genre",
        when(col("genre").isInCollection(MovieGenres), col("genre"))
          .otherwise("unknown"))
      // persist: `fresh` feeds several downstream actions (train join,
      // test-set cache union, final predictions, K2 cache append) —
      // without it each action re-runs mapPartitions and re-calls the
      // LLM, and a nondeterministic predictor could emit DIFFERENT
      // genres per action. MEMORY_AND_DISK so results survive pressure.
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    (cache.union(fresh), fresh)
  }
}
