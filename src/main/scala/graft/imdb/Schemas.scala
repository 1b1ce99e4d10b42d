package graft.imdb

import org.apache.spark.sql.types._

/** Explicit schemas for the IMDB fixtures (SURVEY.md §1, FIXTURES.md).
  * The reference infers everything (`inferSchema=True`,
  * data_utils.py:119); explicit StructTypes make loads deterministic
  * and single-pass — at 100 TB an inference pre-scan is a full extra
  * read of the data.
  */
object Schemas {

  /** The index column's name as Spark's CSV header check reads the
    * empty header cell (`nullValue` applies to headers too); [[Readers]]
    * renames it `_c0` after the scan. */
  val IndexHeader = "\\N"

  /** train-*.csv: leading unnamed pandas index column, IMDB `\N`
    * sentinels in endYear/runtimeMinutes, boolean label
    * (data_utils.py:122-157, imdb/train-1.csv:1). */
  val train: StructType = StructType(Seq(
    StructField(IndexHeader, IntegerType),
    StructField("tconst", StringType),
    StructField("primaryTitle", StringType),
    StructField("originalTitle", StringType),
    StructField("startYear", IntegerType),
    StructField("endYear", StringType),
    StructField("runtimeMinutes", StringType),
    StructField("numVotes", DoubleType),
    StructField("label", BooleanType)))

  /** validation_hidden.csv / test_hidden.csv: train minus label
    * (imdb/README.md:32-39). */
  val test: StructType = StructType(train.fields.dropRight(1))

  /** writing.json rows: {movie, writer} (data_utils.py:48-64). */
  val writing: StructType = StructType(Seq(
    StructField("movie", StringType),
    StructField("writer", StringType)))

  /** directing.json: pandas "columns"-orient object —
    * {"movie": {idx: tconst}, "director": {idx: nmconst}}
    * (data_utils.py:67-100). Read as two string->string maps and
    * exploded distributed — see Readers.loadDirecting. */
  val directing: StructType = StructType(Seq(
    StructField("movie", MapType(StringType, StringType)),
    StructField("director", MapType(StringType, StringType))))

  /** LLM genre cache CSV: {tconst, genre} (data_utils.py:378-416). */
  val genreCache: StructType = StructType(Seq(
    StructField("tconst", StringType),
    StructField("genre", StringType)))
}
