package graft.imdb

import org.apache.spark.ml.{Pipeline, PipelineModel}
import org.apache.spark.ml.classification.{RandomForestClassificationModel, RandomForestClassifier}
import org.apache.spark.sql.DataFrame

/** M5-M7 (SURVEY.md §2.10): RandomForest train / predict /
  * importances, hyperparameters pinned to the reference
  * (classifier_model.py:49-61).
  */
object ImdbModel {

  def classifier(numTrees: Int = 300): RandomForestClassifier =
    new RandomForestClassifier()
      .setFeaturesCol("scaled_features").setLabelCol("label")
      .setNumTrees(numTrees)
      .setMaxDepth(15)
      .setMinInstancesPerNode(2)
      .setMaxBins(64)
      .setImpurity("entropy")
      .setBootstrap(true)
      .setFeatureSubsetStrategy("sqrt")
      .setSubsamplingRate(0.8)
      .setSeed(42)

  /** M5: 1-stage ml.Pipeline fit, like classifier_model.py:95-112. */
  def train(trainDf: DataFrame, numTrees: Int = 300): PipelineModel =
    new Pipeline().setStages(Array(classifier(numTrees))).fit(trainDf)

  /** M6: adds rawPrediction/probability/prediction.
    *
    * Transform with a summary-FREE copy of the forest: a freshly-fit
    * RandomForestClassificationModel carries its trainingSummary,
    * which holds the SparkSession — the prediction UDF's closure would
    * serialize the whole chain to every task (wasteful, and a hard
    * NotSerializableException the moment anything non-serializable
    * inside the session is initialized, e.g. the Observation manager
    * after any observe() elsewhere on the session). `copy` clones
    * params + trees but not the summary, so the shipped closure is
    * just the forest.
    */
  def predict(model: PipelineModel, df: DataFrame): DataFrame = {
    import org.apache.spark.ml.param.ParamMap
    // fold the stages like PipelineModel.transform does (its
    // constructor is private[ml], so the summary-free stage list can't
    // be rewrapped)
    model.stages.foldLeft(df) {
      case (d, rf: RandomForestClassificationModel) =>
        rf.copy(ParamMap.empty).transform(d)
      case (d, s) => s.transform(d)
    }
  }

  /** M7: top-k (featureName, importance), driver-side on a tiny array
    * (classifier_model.py:75-93). */
  def topImportances(model: PipelineModel, names: Seq[String],
                     k: Int = 5): Seq[(String, Double)] = {
    val rf = model.stages.last.asInstanceOf[RandomForestClassificationModel]
    names.zip(rf.featureImportances.toArray).sortBy(-_._2).take(k)
  }
}
