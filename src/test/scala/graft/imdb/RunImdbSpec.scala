package graft.imdb

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** The CLI (the reference's runner.py) end to end on [[ImdbFixture]]:
  * the K1 file name and order contract, the K2 cache at `--cache-out`,
  * no Spark job after the K2 write, and argument errors that fail with
  * the usage line before any Spark job. */
class RunImdbSpec extends SparkSpec {

  private lazy val dir = ImdbFixture.write().toString

  test("fixture run: K1 named and ordered by the contract, K2 grown at --cache-out") {
    val out = Files.createTempDirectory("graft_runimdb").toString
    val cacheOut = s"$out/cache_out"
    // the call stack of each job's SQL execution, in job-start order
    // ("" for a job outside any SQL execution, like the forest's)
    val sc = spark.sparkContext
    val executions = new java.util.concurrent.ConcurrentHashMap[Long, String]()
    val jobSites = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val recorder = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart => executions.put(x.executionId, x.details)
        case _ =>
      }
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobSites.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY)))
          .flatMap(id => Option(executions.get(id.toLong))).getOrElse(""))
    }
    org.apache.spark.graft.ListenerDrain(sc)
    sc.addSparkListener(recorder)
    val preds = try RunImdb.run(spark,
      Array(dir, "validation", out, "--num-trees", "2", "--cache-out", cacheOut))
    finally {
      org.apache.spark.graft.ListenerDrain(sc)
      sc.removeSparkListener(recorder)
    }
    val sites = jobSites.asScala.toSeq
    val k2 = sites.indexWhere(_.contains("Writers$.saveGenreCache"))
    assert(k2 >= 0, s"no job of the K2 cache write among ${sites.size} jobs")
    val after = sites.drop(k2).filterNot(_.contains("Writers$.saveGenreCache"))
    assert(after.size == 0, s"${after.size} Spark jobs started after the K2 cache write")
    assert(preds.count() == ImdbFixture.validationIds.size)

    // K1 contract: one True/False per line, ordered by tconst; F9: the
    // default path is the timestamped {set}_{model}_{ts}.txt name
    val resultDirs = new java.io.File(out).listFiles()
      .filter(_.getName.matches("validation_gemma3_4b_\\d{8}_\\d{6}\\.txt"))
    assert(resultDirs.length == 1, s"expected one timestamped result dir in $out")
    val txt = resultDirs.head.listFiles()
      .filter(_.getName.endsWith(".txt")).head
    val lines = scala.io.Source.fromFile(txt).getLines().toSeq
    assert(lines.length == ImdbFixture.validationIds.size)
    assert(lines.forall(l => l == "True" || l == "False"))

    // order contract: line i corresponds to sorted tconst i
    val sortedPreds = preds.orderBy("tconst")
      .select(when(col("prediction") === 1.0, "True").otherwise("False"))
      .collect().map(_.getString(0)).toSeq
    assert(lines == sortedPreds)

    // K2 contract: the run wrote an updated genre cache that GREW —
    // train-set ids are absent from the validation cache, so the stub
    // predictor's fresh rows must land in it — at --cache-out only
    val oldCacheSize = Readers.loadGenreCache(spark,
      s"$dir/validation_gemma3_4b_cache.csv").count()
    val newCache = Readers.loadGenreCache(spark, cacheOut)
    assert(newCache.count() > oldCacheSize,
      "updated cache must contain the fresh stub predictions")
    assert(newCache.select("tconst").distinct().count() == newCache.count(),
      "cache must stay unique per tconst")
    assert(!new java.io.File(s"$out/genre_cache").exists())
  }

  test("bad arguments fail with the usage line before any Spark job") {
    val flags = Seq("--num-trees", "--legacy-scaler", "--extra-csv", "--model-dir", "--cache-out")
    assert(flags.forall(RunImdb.Usage.contains), RunImdb.Usage)
    val out = Files.createTempDirectory("graft_runimdb_bad").toString
    val bad = Seq(
      Seq("validation", dir, out), // swapped positional arguments
      Seq(dir, "train", out), // unknown set name
      Seq(dir, "validation"),
      Seq("--num-trees", "2", dir, "validation", out),
      Seq(dir, "validation", out, "--num-tree", "10"), // unknown flag
      Seq(dir, "validation", out, "--num-trees"), // flag without its value
      Seq(dir, "validation", out, "--num-trees", "x"),
      Seq(dir, "validation", out, "--num-trees", "0"),
      Seq(dir, "validation", out, "--cache-out", "--legacy-scaler"))
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val counter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    org.apache.spark.graft.ListenerDrain(sc)
    sc.addSparkListener(counter)
    try bad.foreach { args =>
      val e = intercept[IllegalArgumentException](RunImdb.run(spark, args.toArray))
      assert(e.getMessage.contains(RunImdb.Usage), s"${args.mkString(" ")}: ${e.getMessage}")
    } finally {
      org.apache.spark.graft.ListenerDrain(sc)
      sc.removeSparkListener(counter)
    }
    assert(jobs.get == 0, s"${jobs.get} Spark jobs ran before the arguments were rejected")
    assert(new java.io.File(out).list().isEmpty)
  }
}
