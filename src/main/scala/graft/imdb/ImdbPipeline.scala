package graft.imdb

import graft.expr.GraftFunctions
import org.apache.spark.ml.PipelineModel
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** End-to-end IMDB classifier pipeline (SURVEY.md §3.1 stages 1-5),
  * mirroring the reference's runner.py arg surface in [[Config]] and
  * ClassifierPipeline.run in [[run]], with every driver-side escape
  * replaced by a distributed operator (X1-X3 fixes).
  */
object ImdbPipeline {

  /** runner.py:53-104 argument surface. `extraCsv` is optional — the
    * TMDB dump is git-ignored in the reference (SURVEY §7.4 risk 4).
    *
    * `setName`/`modelName` feed the F9 result filename
    * (`{set_name}_{model_name}_{timestamp}.txt`, runner.py:34,126-131);
    * `resultPath = Some(p)` pins a fixed path instead (tests, driver
    * contract). `cacheOutDir` is where the K2 updated genre cache
    * lands — a separate path rather than the reference's in-place file
    * rewrite (data_utils.py:404-413), because Spark cannot overwrite a
    * CSV it is still lazily reading from. */
  case class Config(
    trainGlob: String,
    testCsv: String,
    writingJson: String,
    directingJson: String,
    cacheCsv: String,
    resultsDir: String,
    extraCsv: Option[String] = None,
    modelDir: Option[String] = None,
    numTrees: Int = 300,
    batchSize: Int = 20,
    legacyScaler: Boolean = false,
    predictor: Enrichment.GenrePredictor = Enrichment.StubPredictor,
    setName: String = "validation",
    modelName: String = "stub",
    resultPath: Option[String] = None,
    cacheOutDir: Option[String] = None)

  /** F9: timestamped result name, runner.py:34 + 126-131. */
  def predFileName(setName: String, modelName: String,
                   at: java.time.LocalDateTime): String = {
    val ts = at.format(
      java.time.format.DateTimeFormatter.ofPattern("yyyyMMdd_HHmmss"))
    s"${setName}_${modelName}_$ts.txt"
  }

  /** Stage 2: preprocess one movie set (classifier_pipeline.py:162-208):
    * title normalization (distributed, replaces X1), numeric casts,
    * year repair. */
  def preprocess(df: DataFrame): DataFrame = {
    val cleaned = Cleaning.fillTitles(df)
      .withColumn("primaryTitle", Cleaning.normalizeTitle(col("primaryTitle")))
      .withColumn("originalTitle", Cleaning.normalizeTitle(col("originalTitle")))
    Cleaning.repairYears(Cleaning.numericCasts(cleaned))
  }

  /** Imputation means for runtimeMinutes/numVotes: TRAIN ONLY and
    * unfiltered, exactly classifier_pipeline.py:189-199 (avg already
    * skips nulls). Test rows must never shift these — FeaturesSpec
    * pins the no-leak property. */
  private[imdb] def imputationMeans(trainPre: DataFrame): Map[String, Double] =
    Cleaning.columnMeans(trainPre, Seq("runtimeMinutes", "numVotes"))

  /** Stage 3: metadata merge + genre enrichment + decade + extra-data
    * columns (classifier_pipeline.py:320-410), over both sets at once.
    * Enrichment reads only movie columns, so it gets the frame before
    * the metadata joins and its persisted predictions never re-run
    * them. */
  private def engineer(spark: SparkSession, movies: DataFrame,
                       writing: DataFrame, directing: DataFrame,
                       cache: DataFrame, cfg: Config,
                       extra: Option[DataFrame],
                       extraMeans: Map[String, Double]): (DataFrame, DataFrame) = {
    val (genres, fresh) =
      Enrichment.enrich(spark, movies, cache, cfg.predictor, cfg.batchSize)
    val merged = Metadata.joinTop(movies,
      Metadata.topEntityPerMovie(writing, "writer"),
      Metadata.topEntityPerMovie(directing, "director"))
    val withGenre = merged
      .join(broadcast(genres), Seq("tconst"), "left") // J3
      .withColumn("genre", coalesce(col("genre"), lit("unknown")))
    val withExtra = extra match {
      case Some(e) =>
        // J4 + SURVEY §7.4 risk 5: dedup the non-unique imdb_id side,
        // then patch null-or-zero with the extra table's non-zero
        // means (classifier_pipeline.py:354-360)
        Cleaning.patchNullOrZero(
          withGenre.join(broadcast(e.dropDuplicates("tconst")), Seq("tconst"), "left"),
          extraMeans)
      case None =>
        // no extra table: the reference requires one; 0.0 constants are
        // graft's documented offline fallback (constant columns carry
        // zero signal into the forest either way)
        withGenre.withColumn("popularity", lit(0.0))
          .withColumn("budget", lit(0.0)).withColumn("revenue", lit(0.0))
    }
    (Features.withDecade(withExtra).drop("startYear", "endYear"), fresh)
  }

  /** Tags each row of the one engineered frame with its set. */
  private val SetCol = "_set"

  /** The RF's label: 0.0/1.0 with two-class nominal metadata, so the
    * classifier reads its class count from the schema instead of
    * running a `max(label)` job. */
  private val labelMeta = org.apache.spark.ml.attribute.NominalAttribute.defaultAttr
    .withName("label").withNumValues(2).toMetadata()

  /** Full run: load -> preprocess -> engineer -> train -> predict ->
    * sinks. Returns the prediction DataFrame (tconst, prediction).
    *
    * Train and test are preprocessed and engineered as ONE frame,
    * tagged by set: train's partitions first, so the train side keeps
    * the partitions (and so the forest's bagging) of a train-only
    * frame. That frame is persisted once; the fits, the forest's passes
    * and the predictions all read it, and it is released in the
    * `finally` below, on success and on failure. The returned frame is
    * lazy, so each action a caller runs on it recomputes the test side.
    * Enrichment's `fresh` predictions stay persisted past the return,
    * because the returned frame depends on them and dropping them
    * would re-call the LLM; they are deposited in
    * [[graft.scale.CacheRegistry]], so the caller's `drain()` after
    * its last action on the returned frame releases them. */
  def run(spark: SparkSession, cfg: Config,
          onStage: (String, Double) => Unit = (_, _) => (),
          tap: (String, DataFrame) => Unit = (_, _) => ()): DataFrame = {
    GraftFunctions.register(spark)
    // Stage marks land on the pipeline's NATURAL action boundaries
    // (fits and sinks) — no extra count()s are injected, so the
    // measured run is the production run. Lazy evaluation means each
    // mark carries everything since the previous action:
    // "fit_indexers" pays the whole load+preprocess+engineer chain of
    // BOTH sets, materialized once into the persisted engineered
    // frame; "fit_scaler" and "train_rf" read that cache;
    // "predict_write" only transforms, predicts and writes the test
    // rows. perfbench's `imdb.stage.*` metrics report these marks.
    var lastMark = System.nanoTime()
    def mark(stage: String): Unit = {
      val now = System.nanoTime()
      onStage(stage, (now - lastMark) / 1e9)
      lastMark = now
    }

    // Stage 1: load (S1-S4, S6)
    val train = Readers.loadTrain(spark, cfg.trainGlob)
    val test = Readers.loadTest(spark, cfg.testCsv)
    val writing = Readers.loadWriting(spark, cfg.writingJson)
    val directing = Readers.loadDirecting(spark, cfg.directingJson)
    val cache = Readers.loadGenreCache(spark, cfg.cacheCsv)
    // header-only read: the columns arrive as strings and the used
    // ones are cast, which gives the same doubles as inferSchema
    // without its full pre-scan of the table
    val extra = cfg.extraCsv.map { p =>
      spark.read.option("header", true).csv(p)
        .select(col("imdb_id").as("tconst"), col("budget").cast("double"),
          col("revenue").cast("double"), col("popularity").cast("double"))
    }

    // Stage 2: preprocess; means once, from TRAIN ONLY and unfiltered
    // (classifier_pipeline.py:189-199 — avg skips nulls; the test set
    // never leaks into imputation)
    val means = imputationMeans(preprocess(train))
    val movies = preprocess(train.withColumn(SetCol, lit(0)).unionByName(
      test.withColumn("label", lit(null).cast("boolean")).withColumn(SetCol, lit(1))))
    // extra-data means come from the extra table itself, non-zero rows
    // only (classifier_pipeline.py:236-241)
    val extraMeans = extra.map(e =>
      Cleaning.nonZeroMeans(e, Seq("popularity", "budget", "revenue")))
      .getOrElse(Map.empty)

    val (engineered, fresh) = engineer(spark, Cleaning.patchWithMean(movies, means),
      writing, directing, cache, cfg, extra, extraMeans)
    graft.scale.CacheRegistry.track(fresh)
    val held = engineered.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // Stage 3: features (fit-on-train indexers + scaler)
      val trainFeat0 = held.filter(col(SetCol) === 0).drop(SetCol)
      val testFeat0 = held.filter(col(SetCol) === 1).drop(SetCol, "label")
      // observation hook (no-op by default): ImdbPipelineSpec checks
      // the engineered frames' census against the fixture's rules
      tap("engineered_train", trainFeat0)
      tap("engineered_test", testFeat0)
      val indexers = Features.fitIndexers(trainFeat0)
      mark("fit_indexers") // materializes the engineered frame, both sets
      val trainIdx = Features.applyIndexers(trainFeat0, indexers)
        .withColumn("label", col("label").cast("double").as("label", labelMeta))
      val testIdx = Features.applyIndexers(testFeat0, indexers)
      val trainAsm = Features.assemble(trainIdx)
      val scaler = Features.fitScaler(trainAsm)
      mark("fit_scaler")
      val trainScaled = Features.scale(trainAsm, scaler, cfg.legacyScaler)
      val testScaled =
        Features.scale(Features.assemble(testIdx), scaler, cfg.legacyScaler)

      // Stages 4-5: train, predict, emit (K3 model sink + K1 predictions)
      val model: PipelineModel = ImdbModel.train(trainScaled, cfg.numTrees)
      mark("train_rf")
      cfg.modelDir.foreach(d => model.write.overwrite().save(d)) // K3
      // M7: top-5 importances, like classifier_model.py:84-93
      val top5 = ImdbModel.topImportances(model, Features.featureCols)
        .map { case (n, v) => f"$n=$v%.6f" }.mkString(", ")
      println(s"[imdb] top-5 feature importances: $top5")
      val preds = ImdbModel.predict(model, testScaled)
        .select(col("tconst"), col("prediction"))
      // K1 (F9: timestamped {set}_{model}_{ts}.txt name unless pinned)
      val predPath = cfg.resultPath.getOrElse(s"${cfg.resultsDir}/" +
        predFileName(cfg.setName, cfg.modelName, java.time.LocalDateTime.now()))
      Writers.savePredictionsTxt(preds, predPath)
      mark("predict_write") // test-side transform + predict + write
      println(s"[imdb] predictions written to $predPath")
      // K2: persist the updated genre cache (old entries win on dup keys,
      // data_utils.py:404-413); `fresh` is persisted, so this re-reads
      // memoized results, not the LLM
      Writers.saveGenreCache(cache, fresh,
        cfg.cacheOutDir.getOrElse(s"${cfg.resultsDir}/genre_cache"))
      mark("cache_write")
      preds
    } finally held.unpersist()
  }
}
