package graft.imdb

import graft.SparkSpec
import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.collection.mutable.ArrayBuffer

/** End-to-end tests (SURVEY.md §5). The first runs on every host, on
  * the in-repo [[ImdbFixture]]: the sink contracts, the engineered
  * frame's census and the lifetime of the frames the run persists
  * (RunImdbSpec runs the same fixture through the CLI). The second
  * holds the reference's own accuracy bar on its own evaluation recipe
  * and committed data, and is skipped where that data is absent. */
class ImdbPipelineSpec extends SparkSpec {

  private val dir = "/root/reference/imdb"
  private def fixturesPresent = new java.io.File(s"$dir/train-1.csv").exists()

  /** Whether `df`, planned now, reads a persisted frame that holds
    * all of its columns (the engineered frame, not merely the
    * enrichment's persisted predictions deep inside its plan). */
  private def readsHeld(df: DataFrame): Boolean = df.select("*") match {
    case ds: org.apache.spark.sql.classic.Dataset[_] =>
      ds.queryExecution.withCachedData.find {
        case r: org.apache.spark.sql.execution.columnar.InMemoryRelation =>
          df.columns.toSet.subsetOf(r.output.map(_.name).toSet)
        case _ => false
      }.isDefined
    case other => fail(s"not a classic Dataset: ${other.getClass}")
  }

  /** M9: the reference's only self-evaluation recipe —
    * randomSplit(0.8/0.2, seed 42) + accuracy
    * (eda/process_data.ipynb cell 1). */
  private def evaluateAccuracy(featurized: DataFrame, numTrees: Int): Double = {
    val Array(tr, te) = featurized.randomSplit(Array(0.8, 0.2), 42)
    val model = ImdbModel.train(tr, numTrees)
    new org.apache.spark.ml.evaluation.MulticlassClassificationEvaluator()
      .setLabelCol("label").setPredictionCol("prediction")
      .setMetricName("accuracy")
      .evaluate(ImdbModel.predict(model, te))
  }

  test("tiny fixture: K1/K2 contracts, persisted frames released on success and failure") {
    val d = ImdbFixture.write()
    val cfg = ImdbPipeline.Config(
      trainGlob = s"$d/train-*.csv",
      testCsv = s"$d/validation_hidden.csv",
      writingJson = s"$d/writing.json",
      directingJson = s"$d/directing.json",
      cacheCsv = s"$d/train_gemma3_4b_cache.csv",
      resultsDir = s"$d/out",
      extraCsv = Some(s"$d/tmdb_extra.csv"),
      numTrees = 2,
      predictor = new CountingPredictor,
      resultPath = Some(s"$d/out/preds"),
      cacheOutDir = Some(s"$d/out/genre_cache"))
    val sc = spark.sparkContext
    val heldBefore = sc.getPersistentRDDs.keySet.toSet
    CountingPredictor.calls.set(0)
    val tapped = ArrayBuffer.empty[(String, DataFrame)]
    // both sets are engineered as one persisted frame: each tap reads it
    val preds = ImdbPipeline.run(spark, cfg, tap = (name, df) => {
      assert(readsHeld(df), s"$name does not read a persisted frame while the run holds it")
      tapped += name -> df
    })
    assert(tapped.map(_._1) == Seq("engineered_train", "engineered_test"))
    val Seq(trainTap, testTap) = tapped.map(_._2).toSeq
    assert(trainTap.columns.contains("label") && !testTap.columns.contains("label"))
    tapped.foreach { case (name, df) =>
      assert(!readsHeld(df), s"$name still reads a persisted frame after the run returned") }

    // the engineered train frame against the fixture's rules: each
    // movie's director, and its writer as the one most frequent over
    // all of writing.json (ties to the smaller id)
    import ImdbFixture._
    val writerFreq = allIds.flatMap(writers).groupBy(identity).map { case (w, ws) => w -> ws.size }
    def topWriter(i: Int): String = writers(i).minBy(w => (-writerFreq(w), w))
    val people = trainTap.select("tconst", "writer", "director", "label").collect()
      .map(r => r.getString(0) -> (r.getString(1), r.getString(2), r.getBoolean(3))).toMap
    assert(people == trainIds.map(i =>
      id(i) -> (topWriter(i), if (directed(i)) director(i) else "unknown", label(i))).toMap)
    val decades = trainTap.groupBy(coalesce(col("decade"), lit("unknown"))).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(decades == trainIds.groupBy(i => startYear(i).fold("unknown")(y => s"${y / 10 * 10}s"))
      .map { case (k, v) => k -> v.size.toLong })

    // K1: one True/False line per test row, in tconst order, pinned:
    // engineering both sets in one tagged pass must give the bytes of
    // engineering each set on its own
    val part = new java.io.File(s"$d/out/preds").listFiles()
      .filter(_.getName.startsWith("part-")).head
    val lines = scala.io.Source.fromFile(part).getLines().toSeq
    assert(lines == Seq("False", "False", "False", "False", "False", "True",
      "False", "False", "False", "False", "False", "False"))
    val sortedPreds = preds.orderBy("tconst")
      .select(when(col("prediction") === 1.0, "True").otherwise("False"))
      .collect().map(_.getString(0)).toSeq
    assert(lines == sortedPreds)

    // K2: the uncached ids' stub predictions grow the cache, one row per id
    val newCache = Readers.loadGenreCache(spark, s"$d/out/genre_cache")
    assert(newCache.count() == 60)
    assert(newCache.select("tconst").distinct().count() == 60)

    // one predictor call per id the train cache lacks (the odd train
    // ids and every validation id), made by the run alone: the actions
    // above re-read the enrichment's cached `fresh` predictions, which
    // the caller's drain releases
    val missing = trainIds.count(trainCacheGenre(_).isEmpty) + validationIds.size
    assert(CountingPredictor.calls.get == missing)
    val fresh = sc.getPersistentRDDs.keySet.toSet -- heldBefore
    assert(fresh.nonEmpty, "the enrichment's predictions were not cached past the run")
    graft.scale.CacheRegistry.drain()
    assert((sc.getPersistentRDDs.keySet & fresh).isEmpty, "drain left the fresh predictions cached")

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
    assert(failedTaps.forall(df => !readsHeld(df)),
      "a failed run left its engineered frame cached")
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
    val acc = evaluateAccuracy(scaled, numTrees = 100)
    info(f"accuracy = $acc%.4f")
    assert(acc >= 0.75, f"accuracy $acc%.4f below the reference's 0.75 bar")
  }
}
