package graft.imdb

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Fixture loads against the reference's committed IMDB data
  * (read-only at /root/reference/imdb; skipped if absent). Expected
  * counts from SURVEY.md §6. */
class ReadersSpec extends SparkSpec {

  private val dir = "/root/reference/imdb"
  private def fixturesPresent = new java.io.File(s"$dir/train-1.csv").exists()

  test("S2: train glob loads 7,959 rows with nulls from \\N sentinels") {
    assume(fixturesPresent)
    val df = Readers.loadTrain(spark, s"$dir/train-*.csv")
    assert(df.count() == 7959)
    assert(df.schema("label").dataType.typeName == "boolean")
    // \N runtimeMinutes must arrive as SQL NULL, not the literal string
    assert(df.filter(col("runtimeMinutes") === "\\N").count() == 0)
    assert(df.filter(col("endYear").isNull).count() > 7000)
  }

  test("S1: validation/test hidden sets load 955 / 1,086 rows") {
    assume(fixturesPresent)
    assert(Readers.loadTest(spark, s"$dir/validation_hidden.csv").count() == 955)
    assert(Readers.loadTest(spark, s"$dir/test_hidden.csv").count() == 1086)
  }

  test("S3: writing.json array scan -> 22,428 pairs") {
    assume(fixturesPresent)
    val w = Readers.loadWriting(spark, s"$dir/writing.json")
    assert(w.count() == 22428)
    assert(w.columns.toSeq == Seq("movie", "writer"))
  }

  test("S4: directing.json distributed restructure -> 11,162 pairs") {
    assume(fixturesPresent)
    val d = Readers.loadDirecting(spark, s"$dir/directing.json")
    assert(d.count() == 11162)
    assert(d.columns.toSeq == Seq("movie", "director"))
    assert(d.filter(col("movie").startsWith("tt")).count() == 11162)
  }

  test("S4: directing.json keeps the inner join on the index key (inline fixture)") {
    val f = java.nio.file.Files.createTempFile("graft_directing", ".json")
    // pretty-printed columns-orient object: index 1 only in the movie
    // map, index 3 only in the director map, index 4 with a null director
    java.nio.file.Files.write(f, Seq(
      "{",
      """  "movie": {"0": "tt1", "1": "tt2", "2": "tt3", "4": "tt5"},""",
      """  "director": {"0": "nm1", "2": "nm3", "3": "nm4", "4": null}""",
      "}").mkString("\n").getBytes("UTF-8"))
    val d = Readers.loadDirecting(spark, f.toString)
    assert(d.columns.toSeq == Seq("movie", "director"))
    val pairs = d.collect().map(r => (r.getString(0), Option(r.getString(1)))).sortBy(_._1).toSeq
    assert(pairs == Seq(("tt1", Some("nm1")), ("tt3", Some("nm3")), ("tt5", None)))
  }

  test("property: single-glob scan == union of per-file scans (SURVEY U1/X2)") {
    assume(fixturesPresent)
    val glob = Readers.loadTrain(spark, s"$dir/train-*.csv")
    val perFile = (1 to 8)
      .map(i => Readers.loadTrain(spark, s"$dir/train-$i.csv"))
      .reduce(_ union _)
    assert(glob.count() == perFile.count())
    assert(glob.exceptAll(perFile).count() == 0)
    assert(perFile.exceptAll(glob).count() == 0)
  }

  test("S6: genre cache loads; missing path -> empty frame, same schema") {
    assume(fixturesPresent)
    val c = Readers.loadGenreCache(spark, s"$dir/train_gemma3_4b_cache.csv")
    assert(c.count() == 7959)
    val empty = Readers.loadGenreCache(spark, s"$dir/does_not_exist.csv")
    assert(empty.count() == 0)
    assert(empty.columns.toSeq == Seq("tconst", "genre"))
  }

  test("S6: a GLOB cache path loads all matches, never a silent empty") {
    assume(fixturesPresent)
    // r12 regression: the exists() check was literal, so any glob
    // path returned an EMPTY frame and the whole corpus silently went
    // to the LLM (caught by the ImdbScaleCensus gate via a genre-
    // cardinality drift). globStatus must resolve braces and stars.
    val braced = Readers.loadGenreCache(spark,
      s"$dir/{train,validation}_gemma3_4b_cache.csv")
    val parts = Readers.loadGenreCache(spark, s"$dir/train_gemma3_4b_cache.csv")
      .union(Readers.loadGenreCache(spark,
        s"$dir/validation_gemma3_4b_cache.csv"))
    assert(braced.count() == parts.count() && braced.count() > 7959)
    val star = Readers.loadGenreCache(spark, s"$dir/train_gemma3_4b_cache*.csv")
    assert(star.count() == 7959)
    // a glob matching NOTHING still degrades to the empty frame
    assert(Readers.loadGenreCache(spark, s"$dir/no_such_*.csv").count() == 0)
  }
}
