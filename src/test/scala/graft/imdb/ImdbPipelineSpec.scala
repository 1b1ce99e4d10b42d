package graft.imdb

import graft.SparkSpec
import java.nio.file.{Files, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.collection.mutable.ArrayBuffer

/** End-to-end tests (SURVEY.md §5). The first runs on every host, on a
  * tiny IMDB-shaped fixture written inline: the sink contracts and the
  * lifetime of the frames the run persists. The other two run the full
  * pipeline on the reference's committed fixtures with the committed
  * LLM cache (zero predictor calls) — the output contract and the
  * reference's own accuracy bar on its own evaluation recipe — and are
  * skipped where those fixtures are absent. */
class ImdbPipelineSpec extends SparkSpec {

  private val dir = "/root/reference/imdb"
  private def fixturesPresent = new java.io.File(s"$dir/train-1.csv").exists()

  private def cached(df: DataFrame): Boolean = df match {
    case ds: org.apache.spark.sql.classic.Dataset[_] =>
      ds.sparkSession.sharedState.cacheManager.lookupCachedData(ds).isDefined
    case other => fail(s"not a classic Dataset: ${other.getClass}")
  }

  /** FIXTURES.md A1-A6 in miniature: comma-led header, `\N` sentinels,
    * empty numVotes cells, accented and empty titles, two train files
    * behind one glob, a top-level-array writing.json, a columns-orient
    * directing.json, a genre cache over half the train ids and a TMDB
    * extra table with duplicate ids and zero/empty cells. */
  private def tinyFixture(): Path = {
    val d = Files.createTempDirectory("graft_imdb_tiny")
    def write(name: String, lines: Seq[String]): Unit =
      Files.write(d.resolve(name), lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    def id(i: Int) = f"tt$i%07d"
    def movie(i: Int): String = {
      val title = if (i % 7 == 0) s"Amélie à Paris $i" else s"Movie $i"
      val original = if (i % 5 == 0) "" else title
      val year = if (i % 11 == 0) "\\N" else (1950 + i % 60).toString
      val runtime = if (i % 6 == 0) "\\N" else (80 + i % 50).toString
      val votes = if (i % 9 == 0) "" else s"${(i * 37) % 2000}.0"
      s"$i,${id(i)},$title,$original,$year,\\N,$runtime,$votes"
    }
    val header = ",tconst,primaryTitle,originalTitle,startYear,endYear," +
      "runtimeMinutes,numVotes"
    def trainRows(ids: Range) =
      (header + ",label") +: ids.map(i => movie(i) + (if (i % 3 == 0) ",True" else ",False"))
    write("train-1.csv", trainRows(1 to 24))
    write("train-2.csv", trainRows(25 to 48))
    write("test.csv", header +: (49 to 60).map(movie))
    write("writing.json", Seq((1 to 60).flatMap { i =>
      Seq(s"""{"movie":"${id(i)}","writer":"nm${i % 6}"}""") ++
        (if (i % 2 == 0) Seq(s"""{"movie":"${id(i)}","writer":"nm${i % 4}"}""") else Nil)
    }.mkString("[", ",", "]")))
    val directed = (1 to 60).filter(_ % 10 != 0)
    def orient(f: Int => String) =
      directed.zipWithIndex.map { case (i, k) => s""""$k":"${f(i)}"""" }.mkString("{", ",", "}")
    write("directing.json", Seq(
      s"""{"movie":${orient(id)},"director":${orient(i => s"nm${100 + i % 3}")}}"""))
    write("genre_cache.csv", "tconst,genre" +:
      (2 to 48 by 2).map(i => s"${id(i)},${if (i % 4 == 0) "Drama" else "unknown"}"))
    write("tmdb_extra.csv", "id,imdb_id,title,budget,revenue,popularity" +:
      ((1 to 60 by 2) ++ Seq(3, 9)).zipWithIndex.map { case (i, k) =>
        val money = if (i % 5 == 0) "0" else if (i % 7 == 0) "" else s"${i * 1000}"
        s"$k,${id(i)},Movie $i,$money,${i * 2500},${i % 4}.5"
      })
    d
  }

  test("tiny fixture: K1/K2 contracts, persisted frames released on success and failure") {
    val d = tinyFixture()
    val cfg = ImdbPipeline.Config(
      trainGlob = s"$d/train-*.csv",
      testCsv = s"$d/test.csv",
      writingJson = s"$d/writing.json",
      directingJson = s"$d/directing.json",
      cacheCsv = s"$d/genre_cache.csv",
      resultsDir = s"$d/out",
      extraCsv = Some(s"$d/tmdb_extra.csv"),
      numTrees = 2,
      resultPath = Some(s"$d/out/preds"),
      cacheOutDir = Some(s"$d/out/genre_cache"))
    val tapped = ArrayBuffer.empty[(String, DataFrame)]
    val preds = ImdbPipeline.run(spark, cfg, tap = (name, df) => {
      assert(cached(df), s"$name is not persisted while the run holds it")
      tapped += name -> df
    })
    assert(tapped.map(_._1) == Seq("engineered_train", "engineered_test"))
    tapped.foreach { case (name, df) =>
      assert(!cached(df), s"$name is still cached after the run returned") }

    // K1: one True/False line per test row, in tconst order
    val part = new java.io.File(s"$d/out/preds").listFiles()
      .filter(_.getName.startsWith("part-")).head
    val lines = scala.io.Source.fromFile(part).getLines().toSeq
    assert(lines.length == 12)
    val sortedPreds = preds.orderBy("tconst")
      .select(when(col("prediction") === 1.0, "True").otherwise("False"))
      .collect().map(_.getString(0)).toSeq
    assert(lines == sortedPreds)

    // K2: the uncached ids' stub predictions grow the cache, one row per id
    val newCache = Readers.loadGenreCache(spark, s"$d/out/genre_cache")
    assert(newCache.count() == 60)
    assert(newCache.select("tconst").distinct().count() == 60)

    // a run that fails at the K1 sink (its path is under a regular
    // file) still releases what it persisted
    val blocker = Files.createFile(d.resolve("blocker"))
    val failedTaps = ArrayBuffer.empty[DataFrame]
    intercept[Exception] {
      ImdbPipeline.run(spark, cfg.copy(resultPath = Some(s"$blocker/preds"),
        cacheOutDir = Some(s"$d/out2/genre_cache")),
        tap = (_, df) => failedTaps += df)
    }
    assert(failedTaps.size == 2)
    assert(failedTaps.forall(df => !cached(df)),
      "a failed run left its engineered frames cached")
  }

  test("full pipeline: validation predictions match the K1 contract") {
    assume(fixturesPresent)
    val out = java.nio.file.Files.createTempDirectory("graft_imdb").toString
    val cfg = ImdbPipeline.Config(
      trainGlob = s"$dir/train-*.csv",
      testCsv = s"$dir/validation_hidden.csv",
      writingJson = s"$dir/writing.json",
      directingJson = s"$dir/directing.json",
      cacheCsv = s"$dir/validation_gemma3_4b_cache.csv",
      resultsDir = out,
      numTrees = 60) // smaller forest: contract test, not accuracy test
    val preds = ImdbPipeline.run(spark, cfg)
    assert(preds.count() == 955)

    // K1 contract: one True/False per line, ordered by tconst; F9: the
    // default path is the timestamped {set}_{model}_{ts}.txt name
    val resultDirs = new java.io.File(out).listFiles()
      .filter(_.getName.matches("validation_stub_\\d{8}_\\d{6}\\.txt"))
    assert(resultDirs.length == 1, s"expected one timestamped result dir in $out")
    val txt = resultDirs.head.listFiles()
      .filter(_.getName.endsWith(".txt")).head
    val lines = scala.io.Source.fromFile(txt).getLines().toSeq
    assert(lines.length == 955)
    assert(lines.forall(l => l == "True" || l == "False"))

    // order contract: line i corresponds to sorted tconst i
    val sortedPreds = preds.orderBy("tconst")
      .select(when(col("prediction") === 1.0, "True").otherwise("False"))
      .collect().map(_.getString(0)).toSeq
    assert(lines == sortedPreds)

    // K2 contract: the run wrote an updated genre cache that GREW —
    // train-set ids are absent from the committed validation cache, so
    // the stub predictor's fresh rows must land in it
    val oldCacheSize = Readers.loadGenreCache(spark,
      s"$dir/validation_gemma3_4b_cache.csv").count()
    val newCache = Readers.loadGenreCache(spark, s"$out/genre_cache")
    assert(newCache.count() > oldCacheSize,
      "updated cache must contain the fresh stub predictions")
    assert(newCache.select("tconst").distinct().count() == newCache.count(),
      "cache must stay unique per tconst")
  }

  test("accuracy >= 0.75 on the reference's own 80/20 recipe") {
    assume(fixturesPresent)
    // Build train features exactly as the pipeline does, then evaluate
    // with the reference's prototype recipe (randomSplit 0.8/0.2 seed
    // 42, RF 100 trees — eda/process_data.ipynb cell 1).
    val spark0 = spark
    graft.expr.GraftFunctions.register(spark0)
    val train = ImdbPipeline.preprocess(Readers.loadTrain(spark0, s"$dir/train-*.csv"))
    val writing = Readers.loadWriting(spark0, s"$dir/writing.json")
    val directing = Readers.loadDirecting(spark0, s"$dir/directing.json")
    val cache = Readers.loadGenreCache(spark0, s"$dir/train_gemma3_4b_cache.csv")
    val means = Cleaning.columnMeans(train, Seq("runtimeMinutes", "numVotes"))
    val merged = Metadata.mergeMetadata(
      Cleaning.patchWithMean(train, means), writing, directing)
    val (genres, _) =
      Enrichment.enrich(spark0, merged, cache, Enrichment.StubPredictor)
    val withGenre = merged.join(broadcast(genres), Seq("tconst"), "left")
      .withColumn("genre", coalesce(col("genre"), lit("unknown")))
      .withColumn("popularity", lit(0.0))
      .withColumn("budget", lit(0.0)).withColumn("revenue", lit(0.0))
    val feat = Features.withDecade(withGenre).drop("startYear", "endYear")
    val indexers = Features.fitIndexers(feat)
    val idx = Features.applyIndexers(feat, indexers)
      .withColumn("label", col("label").cast("double"))
    val asm = Features.assemble(idx)
    val scaled = Features.scale(asm, Features.fitScaler(asm))
    val acc = ImdbModel.evaluateAccuracy(scaled, numTrees = 100)
    info(f"accuracy = $acc%.4f")
    assert(acc >= 0.75, f"accuracy $acc%.4f below the reference's 0.75 bar")
  }
}
