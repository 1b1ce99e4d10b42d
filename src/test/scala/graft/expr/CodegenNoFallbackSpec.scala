package graft.expr

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Every custom expression must actually COMPILE under codegen.
  *
  * Round-1 regression this pins: the case class inherits
  * `Expression.eval`, which made scalac suppress the companion's
  * static forwarder for a helper also named `eval` — janino failed to
  * resolve the static call and Spark silently fell back to interpreted
  * eval (correct results, dead codegen). With
  * `spark.sql.codegen.fallback=false` any codegen failure becomes a
  * hard error instead of a silent fallback;
  * `factoryMode=CODEGEN_ONLY` does the same for the non-whole-stage
  * projection path.
  *
  * Inputs derive from `spark.range` columns, NOT local literals: a
  * LocalRelation of literals is constant-folded / ConvertToLocalRelation'd
  * at optimize time via INTERPRETED eval, and the test would pass
  * without ever generating Java.
  */
class CodegenNoFallbackSpec extends SparkSpec {

  private def withStrictCodegen[A](body: => A): A = {
    val c = spark.conf
    val oldFallback = c.getOption("spark.sql.codegen.fallback")
    val oldFactory = c.getOption("spark.sql.codegen.factoryMode")
    c.set("spark.sql.codegen.fallback", "false")
    c.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try body
    finally {
      oldFallback.fold(c.unset("spark.sql.codegen.fallback"))(
        v => c.set("spark.sql.codegen.fallback", v))
      oldFactory.fold(c.unset("spark.sql.codegen.factoryMode"))(
        v => c.set("spark.sql.codegen.factoryMode", v))
    }
  }

  private def inputs = spark.range(2).select(
    concat(lit("the quick brown déstiny 2x fox jumps over doc "), col("id"))
      .as("text"),
    expr("transform(sequence(0, 2), i -> cast(i + id AS double))").as("va"),
    expr("transform(sequence(0, 2), i -> cast(i * 2 + id AS double))").as("vb"),
    expr("transform(sequence(0, 2), i -> cast(i + id AS bigint))").as("la"),
    expr("transform(sequence(0, 2), i -> cast(i * 2 + id AS bigint))").as("lb"))

  test("all custom expressions survive fallback=false + CODEGEN_ONLY") {
    withStrictCodegen {
      GraftFunctions.register(spark)
      val q = inputs.select(
        col("text"),
        call_function("accent_fold", col("text")).as("folded"),
        PyTitleCase(col("text")).as("titled"),
        InitCapBinary(col("text")).as("initcap"),
        CharFingerprint(col("text")).as("fp"),
        ShingleHashes(col("text"), 3).as("sh"),
        MinHashSig(ShingleHashes(col("text"), 3), 64, 20260812L).as("mh"),
        SimHashSig(ShingleHashes(col("text"), 3)).as("simh"),
        SignBitsSig(col("va"), 16, 3, 7L).as("sign"),
        DotProduct(col("va"), col("vb")).as("dot"),
        IntSqDist(col("la"), col("lb")).as("sqd"),
        SortedIntersectCount(col("la"), col("lb")).as("sic"),
        HilbertIndex((length(col("text")) % 32).cast("long"),
          (length(col("text")) * 7 % 32).cast("long"), 5).as("hil"))
      val plan = q.queryExecution.executedPlan.toString
      // executedPlan.toString marks whole-stage-codegen stages with a
      // "*(n)" prefix; the custom-expression Project must carry one
      assert(plan.linesIterator.exists(l =>
        l.contains("accent_fold") && l.trim.startsWith("*(")),
        s"expression projection left whole-stage codegen:\n$plan")
      val out = q.collect()
      assert(out.length == 2)
      // values from the GENERATED Java must agree with the shared JVM
      // helpers the interpreted path uses
      out.foreach { r =>
        val text = r.getAs[String]("text")
        assert(r.getAs[String]("folded") == AccentFold.fold(text))
        assert(r.getAs[String]("titled") == PyTitleCase.title(text))
        assert(r.getAs[String]("initcap") ==
          org.apache.spark.unsafe.types.UTF8String.fromString(text).toLowerCase.toTitleCase.toString)
        assert(r.getAs[Long]("fp") == CharFingerprint.fingerprint(text))
        assert(r.getAs[scala.collection.Seq[Long]]("sh").nonEmpty)
        assert(r.getAs[scala.collection.Seq[Long]]("mh").length == 64)
      }
      val r0 = out.find(_.getAs[String]("text").endsWith("doc 0")).get
      // va=[0,1,2], vb=[0,2,4] -> dot = 0 + 2 + 8
      assert(r0.getAs[Double]("dot") == 10.0)
      // sq dists: 0 + 1 + 4
      assert(r0.getAs[Long]("sqd") == 5L)
      // la=[0,1,2] ∩ lb=[0,2,4] = {0,2}
      assert(r0.getAs[Long]("sic") == 2L)
    }
  }

  test("whole-stage codegen spans the dedup sketch projection") {
    withStrictCodegen {
      val df = inputs
        .select(MinHashSig(ShingleHashes(col("text"), 3), 64, 1L).as("sig"))
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.linesIterator.exists(l =>
        l.contains("minhash_sig") && l.trim.startsWith("*(")),
        s"sketch projection left whole-stage codegen:\n$plan")
      assert(df.collect().length == 2)
    }
  }
}
