package graft.expr

import graft.SparkSpec
import graft.io.Tables
import org.apache.spark.sql.functions._

class SketchExprSpec extends SparkSpec {

  test("ShingleHashes == xxhash64 of composed shingle strings (bit parity)") {
    import graft.text.TextFeaturesRef
    val docs = Tables(spark, sf("sf0.001"), "documents")
    val viaExpr = docs.select(col("doc_id"),
      ShingleHashes(col("text"), 3).as("hs"))
    val viaHof = docs
      .select(col("doc_id"),
        explode(TextFeaturesRef.shingles(col("text"), 3)).as("s"))
      .select(col("doc_id"), xxhash64(col("s")).as("h"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_set(col("h"))).as("hs"))
    val a = viaExpr.collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val b = viaHof.collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(a == b, "byte-range hashing must equal string hashing")
    assert(a.nonEmpty)
  }

  test("ShingleHashes edge cases: short text, empty words") {
    import spark.implicits._
    val out = Seq("one two", "a b c", "x  y z", "").toDF("text")
      .select(ShingleHashes(col("text"), 3).as("hs"))
      .collect().map(_.getSeq[Long](0).length).toSeq
    assert(out(0) == 0) // 2 words < 3
    assert(out(1) == 1) // exactly one trigram
    assert(out(2) == 2) // "x","","y","z" -> 2 trigrams (empty word kept)
    assert(out(3) == 0)
  }

  test("MinHashSig expression == MinHashAgg UDAF (same seed, same sigs)") {
    val docs = Tables(spark, sf("sf0.001"), "documents").limit(50)
    val arrays = docs.select(col("doc_id"), ShingleHashes(col("text"), 3).as("hs"))
    val viaExpr = arrays
      .select(col("doc_id"), MinHashSig(col("hs"), 64, 20260812L).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val agg = udaf(new graft.scale.Sketches.MinHashAgg(64, 20260812L))
    val viaUdaf = arrays
      .select(col("doc_id"), explode(col("hs")).as("h64"))
      .groupBy(col("doc_id")).agg(agg(col("h64")).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(viaExpr == viaUdaf)
    assert(viaExpr.nonEmpty)
  }

  test("MinHashTextSig == MinHashSig(ShingleHashes(text)) (fused parity)") {
    // the fused expression must be bit-identical to the composition it
    // replaces on the candidate path: min() is idempotent under the
    // duplicate shingles ShingleHashes would have dropped
    val docs = Tables(spark, sf("sf0.001"), "documents")
    val fused = docs.select(col("doc_id"),
      MinHashTextSig(col("text"), 3, 64, 20260812L).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val composed = docs.select(col("doc_id"),
      MinHashSig(ShingleHashes(col("text"), 3), 64, 20260812L).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(fused == composed)
    assert(fused.nonEmpty)
  }

  test("MinHashTextSig edge cases: short/empty text give the MaxValue sig") {
    import spark.implicits._
    val out = Seq("one two", "", "a b c", "x  y z").toDF("text")
      .select(MinHashTextSig(col("text"), 3, 8, 1L).as("sig"))
      .collect().map(_.getSeq[Long](0))
    assert(out(0).forall(_ == Long.MaxValue)) // 2 words < 3
    assert(out(1).forall(_ == Long.MaxValue))
    assert(out(2).forall(_ != Long.MaxValue)) // one trigram
    assert(out(3).forall(_ != Long.MaxValue)) // empty word kept
  }

  test("SignBitsSig == composed when(DotProduct > 0) chain (bit parity)") {
    val vecs = Tables(spark, sf("sf0.001"), "embeddings").limit(50)
      .select(col("vec_id"),
        expr("transform(embedding, x -> cast(x as double))").as("v"))
    val viaExpr = vecs.select(col("vec_id"), SignBitsSig(col("v"), 64, 64, 7L).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // the formulation the expression replaced: same Random(7) planes,
    // same bit order, same left-to-right dot-product fold
    val rng = new scala.util.Random(7)
    val planes = Array.fill(64, 64)(rng.nextDouble() * 2 - 1)
    val sigCol = (0 until 64).map { p =>
      when(DotProduct(col("v"), typedLit(planes(p).toSeq)) > 0,
        lit(1L << (63 - p))).otherwise(lit(0L))
    }.reduce(_ + _)
    val viaChain = vecs.select(col("vec_id"), sigCol.as("sig"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaExpr == viaChain)
    assert(viaExpr.nonEmpty)
  }

  test("SignBitsSig rejects a vector whose length differs from the declared dim") {
    // dim is contract, not inference: a truncated embedding must fail
    // loudly, never hash against a different plane matrix
    val vecs = spark.range(3).select(
      expr("transform(sequence(0, cast(4 + id AS int)), i -> cast(i AS double))")
        .as("v")) // lengths 5, 6, 7 — only the first matches dim=5
    val err = intercept[Exception] {
      vecs.select(SignBitsSig(col("v"), 16, 5, 7L).as("s")).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ messages(e.getCause))
    assert(messages(err).exists(_.contains("does not match the declared dim")))
  }

  test("SimHashSig expression == SimHashAgg UDAF") {
    val docs = Tables(spark, sf("sf0.001"), "documents").limit(50)
    val arrays = docs.select(col("doc_id"), ShingleHashes(col("text"), 3).as("hs"))
    val viaExpr = arrays.select(col("doc_id"), SimHashSig(col("hs")).as("sim"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val agg = udaf(graft.scale.Sketches.SimHashAgg)
    val viaUdaf = arrays
      .select(col("doc_id"), explode(col("hs")).as("h64"))
      .groupBy(col("doc_id")).agg(agg(col("h64")).as("sim"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaExpr == viaUdaf)
  }
}
