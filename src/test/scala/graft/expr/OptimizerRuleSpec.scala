package graft.expr

import graft.SparkSpec
import org.apache.spark.sql.functions._

class OptimizerRuleSpec extends SparkSpec {

  test("CollapseAccentFold rewrites accent_fold(accent_fold(x)) -> accent_fold(x)") {
    import spark.implicits._
    GraftExtensions.install(spark)
    // parquet-backed input: a local Seq would be constant-folded into a
    // LocalRelation before the rule could be observed
    val df = graft.io.Tables(spark, sf("sf0.001"), "documents")
      .select(call_function("accent_fold",
        call_function("accent_fold", $"text")).as("f"))
    val optimized = df.queryExecution.optimizedPlan
    val folds = optimized.expressions.map(_.collect {
      case _: AccentFold => 1
    }.sum).sum
    assert(folds == 1, s"nested folds not collapsed:\n$optimized")
    // and semantics are unchanged: ASCII fixture text folds to itself
    val sampleIn = graft.io.Tables(spark, sf("sf0.001"), "documents")
      .select($"text").as[String].head()
    val sampleOut = df.as[String].head()
    assert(sampleOut == AccentFold.fold(sampleIn))
  }
}
