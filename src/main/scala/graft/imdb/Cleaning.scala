package graft.imdb

import graft.expr.{AccentFold, InitCapBinary}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Preprocessing operators P7-P9 / F1-F7 (SURVEY.md §2.3, §2.9),
  * replacing the reference's driver-side pandas text pass
  * (data_utils.py:160-215, the X1 pessimization) with pure column
  * expressions + the codegen'd accent_fold Catalyst expression.
  */
object Cleaning {

  /** F1-F4 composed: accent fold -> strip non-alphanumerics -> trim +
    * title case -> blank-to-null. Mirrors preprocess_text
    * (data_utils.py:160-184). The title case is `initcap`'s: it
    * title-cases after spaces; Python's str.title also at digit
    * boundaries — post-strip strings differ only for digit-adjacent
    * letters, documented in SURVEY §7.4. The fold drops non-ASCII and
    * the strip keeps `[a-zA-Z0-9\s]`, so the title case only ever sees
    * ASCII, where [[graft.expr.InitCapBinary]] gives `initcap`'s bytes
    * without its ICU initialization stall. Both are Column forms of
    * graft expressions, so any session runs it, registered or not. */
  def normalizeTitle(c: Column): Column = {
    val folded = AccentFold(c)
    val stripped = regexp_replace(folded, "[^a-zA-Z0-9\\s]", "")
    val cased = InitCapBinary(trim(stripped))
    when(cased === "" || c.isNull, lit(null)).otherwise(cased)
  }

  /** F5: cross-column title fill — null primaryTitle <- originalTitle
    * and vice versa (data_utils.py:208-213). */
  def fillTitles(df: DataFrame): DataFrame = df
    .withColumn("primaryTitle_f", coalesce(col("primaryTitle"), col("originalTitle")))
    .withColumn("originalTitle", coalesce(col("originalTitle"), col("primaryTitle")))
    .withColumn("primaryTitle", col("primaryTitle_f"))
    .drop("primaryTitle_f")

  /** P8: numeric casts post-`\N`-handling (data_utils.py:241;
    * endYear/runtimeMinutes arrive as strings). */
  def numericCasts(df: DataFrame): DataFrame = df
    .withColumn("startYear", col("startYear").cast("int"))
    .withColumn("endYear", col("endYear").cast("int"))
    .withColumn("runtimeMinutes", col("runtimeMinutes").cast("double"))
    .withColumn("numVotes", col("numVotes").cast("double"))

  /** P7 year repair: cross-column null fill (startYear <-> endYear) +
    * ordering repair endYear := max(startYear, endYear)
    * (classifier_pipeline.py:198-204). */
  def repairYears(df: DataFrame): DataFrame = df
    .withColumn("startYear", coalesce(col("startYear"), col("endYear")))
    .withColumn("endYear",
      greatest(coalesce(col("endYear"), col("startYear")), col("startYear")))

  /** R2: ALL column means in one aggregation pass (vs the reference's
    * one collect per column, data_utils.py:245-264). Null mean (empty
    * or all-null column) falls back to 1.0 like the reference. */
  def columnMeans(df: DataFrame, cols: Seq[String]): Map[String, Double] = {
    val row = df.agg(
      avg(col(cols.head)).as(cols.head),
      cols.tail.map(c => avg(col(c)).as(c)): _*).head()
    cols.map(c => c -> (if (row.isNullAt(row.fieldIndex(c))) 1.0
                        else row.getDouble(row.fieldIndex(c)))).toMap
  }

  /** P7 mean patch, NULL-only — exactly the reference's injection
    * (classifier_pipeline.py:197-199: `when(col.isNull, mean)`;
    * zero/negative values pass through untouched). */
  def patchWithMean(df: DataFrame, means: Map[String, Double]): DataFrame =
    means.foldLeft(df) { case (d, (c, m)) =>
      d.withColumn(c, when(col(c).isNull, lit(m)).otherwise(col(c)))
    }

  /** Extra-data means: per-column mean over the rows where THAT column
    * is > 0 (classifier_pipeline.py:236-241 filters non-zero before
    * calc_mean_col), all columns in ONE aggregation pass —
    * `avg(when(c > 0, c))` ignores the nulled-out rows exactly like
    * the reference's filter. Null mean falls back to 1.0
    * (data_utils.py:263). */
  def nonZeroMeans(df: DataFrame, cols: Seq[String]): Map[String, Double] = {
    val aggs = cols.map(c => avg(when(col(c) > 0.0, col(c))).as(c))
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    cols.map(c => c -> (if (row.isNullAt(row.fieldIndex(c))) 1.0
                        else row.getDouble(row.fieldIndex(c)))).toMap
  }

  /** Extra-column patch: null OR zero -> mean
    * (classifier_pipeline.py:354-360). */
  def patchNullOrZero(df: DataFrame, means: Map[String, Double]): DataFrame =
    means.foldLeft(df) { case (d, (c, m)) =>
      d.withColumn(c,
        when(col(c).isNull || col(c) === 0.0, lit(m)).otherwise(col(c)))
    }
}
