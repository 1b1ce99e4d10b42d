package graft.imdb

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Sources S1-S6 (SURVEY.md §2.1), Spark-first.
  *
  * Replaces the reference's driver-side escapes: the per-file glob +
  * iterative union (data_utils.py:122-157, X2) becomes one globbed
  * scan; the driver-side `json.load` + dict-intersection restructure of
  * directing.json (data_utils.py:67-100, R5) becomes a distributed
  * map-explode + inner join. Nothing here materializes rows on the
  * driver.
  */
object Readers {

  /** S1: CSV scan of every file `path` matches, with explicit schema
    * and the `\N` null sentinel handled by the reader (replaces the
    * per-column `when` rewrite at data_utils.py:239); None when nothing
    * matches. Hadoop's `globStatus` expands the path (a literal one
    * too), so Spark never probes a glob as a streaming-sink metadata
    * directory, which logs a `FileNotFoundException` warning per read. */
  private def loadCsv(spark: SparkSession, path: String,
                      schema: org.apache.spark.sql.types.StructType): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(path)
    Option(p.getFileSystem(spark.sparkContext.hadoopConfiguration).globStatus(p))
      .filter(_.nonEmpty).map(files => spark.read
        .option("header", true)
        .option("nullValue", "\\N")
        .schema(schema)
        .csv(files.map(_.getPath.toString).toSeq: _*))
  }

  /** A train or hidden-set scan, the index column renamed `_c0`; a
    * path that matches nothing fails. */
  private def loadMovies(spark: SparkSession, path: String,
                         schema: org.apache.spark.sql.types.StructType): DataFrame =
    loadCsv(spark, path, schema)
      .getOrElse(throw new java.io.FileNotFoundException(s"no file matches $path"))
      .withColumnRenamed(Schemas.IndexHeader, "_c0")

  /** S2: multi-file train scan — `train-*.csv` expands to its files;
    * positional union semantics are what a multi-path scan does.
    * One job, no per-file driver loop. */
  def loadTrain(spark: SparkSession, globPath: String): DataFrame =
    loadMovies(spark, globPath, Schemas.train)

  def loadTest(spark: SparkSession, path: String): DataFrame =
    loadMovies(spark, path, Schemas.test)

  /** S3: writing.json — a one-line top-level JSON array parses to one
    * row per element (data_utils.py:48-64). */
  def loadWriting(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(Schemas.writing).json(path)

  /** S4: directing.json columns-orient restructure, distributed.
    * The reference's Python dict-key intersection (`&` at
    * data_utils.py:91) IS an inner join on the index key — expressed
    * here as one explode of the movie map plus a key lookup in the
    * director map of the same object: an index present in only one
    * map yields no pair, one scan, no shuffle, no driver JSON parse. */
  def loadDirecting(spark: SparkSession, path: String): DataFrame =
    spark.read
      .option("multiLine", true)
      .schema(Schemas.directing)
      .json(path)
      .select(explode(col("movie")).as(Seq("idx", "movie")), col("director").as("_d"))
      .filter(map_contains_key(col("_d"), col("idx")))
      .select(col("movie"), col("_d").getItem(col("idx")).as("director"))

  /** S6: LLM genre cache — just a 2-column table; downstream uses joins
    * instead of the reference's driver dict lookups
    * (data_utils.py:378-389). Missing cache file -> empty frame. */
  def loadGenreCache(spark: SparkSession, path: String): DataFrame = {
    // a glob ("{train,validation}_cache-csv", "cache-*.csv") loads all
    // its matches, never an empty cache that would send every movie to
    // the LLM at full cost (ReadersSpec pins the glob case)
    loadCsv(spark, path, Schemas.genreCache).getOrElse(spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], Schemas.genreCache))
  }
}
