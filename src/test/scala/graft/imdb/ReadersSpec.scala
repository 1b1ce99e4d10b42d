package graft.imdb

import graft.SparkSpec
import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** Sources S1-S6 against the in-repo [[ImdbFixture]], written in the
  * reference's layout. Every expected count comes from the fixture's
  * rules, not from a reader run. */
class ReadersSpec extends SparkSpec {

  import ImdbFixture._

  private lazy val dir = write().toString

  private def ids(df: org.apache.spark.sql.DataFrame, c: String = "tconst"): Seq[String] =
    df.select(c).collect().map(_.getString(0)).toSeq.sorted

  /** Every log line (logger: message) emitted while `body` runs, caught
    * by an appender on the root logger. */
  private def logDuring(body: => Unit): Seq[String] = {
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val app = new AbstractAppender("readers-spec", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        lines.add(s"${e.getLoggerName}: ${e.getMessage.getFormattedMessage}")
    }
    app.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val root = ctx.getConfiguration.getRootLogger
    root.addAppender(app, null, null)
    ctx.updateLoggers()
    try body
    finally { root.removeAppender(app.getName); ctx.updateLoggers(); app.stop() }
    lines.asScala.toSeq
  }

  test("S2: train glob loads both files, nulls from \\N sentinels and empty cells") {
    val df = Readers.loadTrain(spark, s"$dir/train-*.csv")
    assert(df.schema("label").dataType.typeName == "boolean")
    // the comma-led header names an index column, so tconst is column 2
    assert(ids(df) == trainIds.map(id))
    assert(df.filter(col("label")).count() == trainIds.count(label))
    // \N must arrive as SQL NULL, not the literal string
    assert(df.filter(col("runtimeMinutes") === "\\N").count() == 0)
    assert(df.filter(col("runtimeMinutes").isNull).count() == trainIds.count(!hasRuntime(_)))
    assert(df.filter(col("startYear").isNull).count() == trainIds.count(startYear(_).isEmpty))
    assert(df.filter(col("endYear").isNull).count() == trainIds.size)
    assert(df.filter(col("numVotes").isNull).count() == trainIds.count(!hasVotes(_)))
    assert(df.filter(col("_c0") =!= substring(col("tconst"), 3, 7).cast("int")).count() == 0)
  }

  test("S1: validation/test hidden sets load their rows without a label") {
    val v = Readers.loadTest(spark, s"$dir/validation_hidden.csv")
    assert(!v.columns.contains("label"))
    assert(ids(v) == validationIds.map(id))
    assert(ids(Readers.loadTest(spark, s"$dir/test_hidden.csv")) == testIds.map(id))
  }

  test("S3: writing.json array scan -> one row per element") {
    val w = Readers.loadWriting(spark, s"$dir/writing.json")
    assert(w.columns.toSeq == Seq("movie", "writer"))
    val pairs = w.collect().map(r => (r.getString(0), r.getString(1))).toSeq.sorted
    assert(pairs == allIds.flatMap(i => writers(i).map(id(i) -> _)).sorted)
  }

  test("S4: directing.json distributed restructure -> one pair per directed movie") {
    val d = Readers.loadDirecting(spark, s"$dir/directing.json")
    assert(d.columns.toSeq == Seq("movie", "director"))
    val pairs = d.collect().map(r => (r.getString(0), r.getString(1))).toSeq.sorted
    assert(pairs == allIds.filter(directed).map(i => id(i) -> director(i)))
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
    val glob = Readers.loadTrain(spark, s"$dir/train-*.csv")
    val perFile = trainFiles
      .map { case (name, _) => Readers.loadTrain(spark, s"$dir/$name") }
      .reduce(_ union _)
    assert(glob.count() == trainIds.size && perFile.count() == trainIds.size)
    assert(glob.exceptAll(perFile).count() == 0)
    assert(perFile.exceptAll(glob).count() == 0)
  }

  test("reading the fixture logs no metadata-dir probe and no header mismatch") {
    val lines = logDuring {
      Readers.loadTrain(spark, s"$dir/train-*.csv").collect()
      Readers.loadTest(spark, s"$dir/validation_hidden.csv").collect()
      Readers.loadGenreCache(spark, s"$dir/{train,validation}_gemma3_4b_cache.csv").collect()
    }
    val noise = lines.filter(l =>
      l.contains("Assume no metadata directory") || l.contains("CSVHeaderChecker"))
    assert(noise.isEmpty, noise.mkString("\n"))
    // and the appender does catch a warning
    val probe = logDuring(LogManager.getLogger(getClass).warn("appender probe"))
    assert(probe.exists(_.endsWith("ReadersSpec: appender probe")), probe)
  }

  test("a train glob that matches nothing fails") {
    val e = intercept[java.io.FileNotFoundException](
      Readers.loadTrain(spark, s"$dir/no_such_*.csv"))
    assert(e.getMessage.contains("no_such_*.csv"), e.getMessage)
  }

  test("S6: genre cache loads; missing path -> empty frame, same schema") {
    val c = Readers.loadGenreCache(spark, s"$dir/train_gemma3_4b_cache.csv")
    val cached = trainIds.filter(trainCacheGenre(_).nonEmpty)
    assert(ids(c) == cached.map(id))
    assert(c.filter(!col("genre").isin(("unknown" +: Enrichment.MovieGenres): _*)).count() == 0)
    val empty = Readers.loadGenreCache(spark, s"$dir/does_not_exist.csv")
    assert(empty.count() == 0)
    assert(empty.columns.toSeq == Seq("tconst", "genre"))
  }

  test("S6: a GLOB cache path loads all matches, never a silent empty") {
    // the exists() check used to be literal, so any glob path returned
    // an EMPTY frame and the whole corpus silently went to the LLM.
    // globStatus must resolve braces and stars.
    val nTrain = trainIds.count(trainCacheGenre(_).nonEmpty).toLong
    val braced = Readers.loadGenreCache(spark,
      s"$dir/{train,validation}_gemma3_4b_cache.csv")
    assert(braced.count() == nTrain + validationIds.size)
    val star = Readers.loadGenreCache(spark, s"$dir/train_gemma3_4b_cache*.csv")
    assert(star.count() == nTrain)
    // a glob matching NOTHING still degrades to the empty frame
    assert(Readers.loadGenreCache(spark, s"$dir/no_such_*.csv").count() == 0)
  }
}
