package graft.imdb

import graft.SparkSpec
import org.apache.spark.ml.linalg.Vector
import org.apache.spark.sql.functions._

class FeaturesSpec extends SparkSpec {

  private def frame(rows: Seq[Double]) = {
    import spark.implicits._
    val df = rows.map(v => (v, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0))
      .toDF(Features.featureCols: _*)
    Features.assemble(df)
  }

  test("fit-on-train scaler reuses train statistics on test (M4 fix)") {
    val train = frame(Seq(1.0, 2.0, 3.0))     // std computed from train
    val test = frame(Seq(100.0, 200.0, 300.0)) // very different scale
    val scaler = Features.fitScaler(train)
    val scaledTest = Features.scale(test, scaler)
      .select("scaled_features").collect()
      .map(_.getAs[Vector](0)(0))
    // train std = 1.0 -> test values pass through unchanged
    assert(scaledTest.toSeq == Seq(100.0, 200.0, 300.0))
  }

  test("legacyScaler=true reproduces the reference's refit-per-set bug") {
    val train = frame(Seq(1.0, 2.0, 3.0))
    val test = frame(Seq(100.0, 200.0, 300.0))
    val scaler = Features.fitScaler(train)
    val legacy = Features.scale(test, scaler, legacyScaler = true)
      .select("scaled_features").collect()
      .map(_.getAs[Vector](0)(0))
    // refit on test: std = 100 -> values shrink to 1,2,3
    assert(legacy.toSeq == Seq(1.0, 2.0, 3.0))
  }

  test("imputation means come from TRAIN only — test rows cannot leak in") {
    import spark.implicits._
    val trainPre = Seq((Some(10.0), Some(100.0)), (Some(20.0), None))
      .toDF("runtimeMinutes", "numVotes")
    val means = ImdbPipeline.imputationMeans(trainPre)
    // unfiltered train-only means (avg skips nulls, reference
    // classifier_pipeline.py:189-199); any test-set contribution or a
    // >0 filter would move these
    assert(means == Map("runtimeMinutes" -> 15.0, "numVotes" -> 100.0))
  }

  test("indexers: frequencyDesc order, unseen label -> numLabels (keep)") {
    import spark.implicits._
    // every column has its own values and its own frequency ties; the
    // one fused fit must label each column like a single-column fit
    val train = Seq(
      ("w2", "d1", "Drama", "1990s"), ("w1", "d2", "Drama", "1990s"),
      ("w2", "d3", "Comedy", "1980s"), ("w1", "d3", "Comedy", "1980s"),
      ("w3", "d2", "Action", "1970s"), (null, "d1", "Action", null),
      ("w1", "d1", "Action", "1990s"))
      .toDF(Features.categoricalCols: _*)
    val model = Features.fitIndexers(train)
    val filled = train.na.fill("unknown", Features.categoricalCols)
    Features.categoricalCols.zipWithIndex.foreach { case (c, i) =>
      val single = new org.apache.spark.ml.feature.StringIndexer()
        .setInputCol(c).setOutputCol("i").fit(filled)
      assert(model.labelsArray(i).toSeq == single.labelsArray(0).toSeq, c)
    }
    // w1 (3) first, then w2 (2), then the 1-count tie alphabetically
    assert(model.labelsArray(0).toSeq == Seq("w1", "w2", "unknown", "w3"))
    assert(model.labelsArray(2).toSeq == Seq("Action", "Comedy", "Drama"))

    val test = Seq(("w2", "d1", "Drama", "1990s"), ("wx", "dx", "Horror", "1920s"))
      .toDF(Features.categoricalCols: _*)
    val rows = Features.applyIndexers(test, model).collect()
    assert(rows.head.getAs[Double]("writer_index") == 1.0)
    Features.categoricalCols.zipWithIndex.foreach { case (c, i) =>
      assert(rows(1).getAs[Double](s"${c}_index") == model.labelsArray(i).length, c)
      assert(!rows(1).schema.fieldNames.contains(c), s"$c must be dropped")
    }
  }
}
