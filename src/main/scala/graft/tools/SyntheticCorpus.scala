package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic synthetic documents matching the shape of the sf
  * test data (TESTDATA.md), for ScaleGrowthSpec: measuring how the
  * MinHash banding grows from 1k to 4k docs needs corpora the sf tiers
  * do not ship.
  *
  * Shape matched to /root/testdata/sf0.1 (measured, not assumed):
  * word-salad text over the fixture's own ~31-word vocabulary (read
  * from a reference dir), 10-100 words uniform (observed min/max/avg
  * 10/100/54), source = src0..src19, lang weighted like the fixture
  * (en heaviest), and ~5% of docs are PLANTED near-dups of a base doc
  * with ~2% word substitution — 3-shingle Jaccard vs base ~0.9,
  * comfortably over the packs' 0.8 threshold, with some
  * substitution-free copies landing as exact dups (the fixture has
  * those too).
  *
  * All randomness is xxhash64(id, tag, seed)-derived: distributed,
  * partition-count-independent, reproducible — no RNG state, no
  * driver loops. Generation is a pure map over spark.range.
  */
object SyntheticCorpus {

  private def u(tag: Int, seed: Long, cols: org.apache.spark.sql.Column*) =
    pmod(xxhash64((cols :+ lit(tag) :+ lit(seed)): _*), lit(1000000L))
      .cast("double") / 1000000.0

  /** n documents over the vocabulary of `refDir`'s documents table,
    * WIDENED ×`vocabWiden` by deterministic suffix variants
    * (w, w1, w2, ...). Vocabulary is collected once — bounded
    * (fixture: 31 base words, Heaps-law small for any real corpus
    * slice).
    *
    * Why widen (VERDICT r8 item 6): the fixture's raw ~31-word
    * vocabulary yields only ~31³ ≈ 30k possible 3-shingles, which the
    * 1000× tier's ~270M tokens SATURATE — every doc pair shares
    * shingles by pigeonhole, so the minhash top decade measured the
    * fixture, not the operator. At the default widen of 64 the vocab
    * is ~2k words → ~7.8e9 possible shingles ≫ the 1000× tier's
    * shingle draw, so unrelated docs share essentially nothing and
    * candidate growth tracks the planted dups again. Planted-dup
    * semantics are vocabulary-independent (substitution rate fixed at
    * ~2%, Jaccard vs base ~0.9 regardless of vocab size). */
  def documents(s: SparkSession, refDir: String, n: Long, seed: Long,
                vocabWiden: Int = 64): DataFrame = {
    val baseVocab = graft.io.Tables(s, refDir, "documents")
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .distinct().orderBy(col("w"))
      .collect().map(_.getString(0)) // bounded: vocabulary, not corpus
    require(baseVocab.nonEmpty, s"empty vocabulary from $refDir")
    // deterministic widening: sorted base words, then per-word suffix
    // variants in suffix order — stable element_at indexing across
    // runs and partition counts. `.distinct` guards the case where a
    // base word equals another base word + digit suffix ("w", "w1"):
    // the collision would double that entry's draw probability and
    // overstate the de-saturation math (a no-op on the current
    // digit-free fixture vocabulary — order is preserved, so existing
    // measurements are unchanged)
    val vocab = baseVocab.flatMap(w =>
      w +: (1 until vocabWiden).map(k => s"$w$k")).distinct
    val vlitSql = vocab
      .map(w => "'" + w.replace("'", "''") + "'")
      .mkString("array(", ",", ")")
    val nBase = n - n / 20 // 5% planted dups
    val base = s.range(nBase).select(
      col("id").as("doc_id"),
      expr(s"""transform(
        |  sequence(1, 10 + pmod(xxhash64(id, 1, $seed), 91)),
        |  i -> element_at($vlitSql,
        |         cast(pmod(xxhash64(id, i, ${seed + 1}), ${vocab.length}) + 1 as int)))"""
        .stripMargin).as("words"),
      concat(lit("src"), pmod(xxhash64(col("id"), lit(2), lit(seed)), lit(20)))
        .as("source"),
      // lang weights from the fixture: en .42, de .16, es .14, fr .14, zh .14
      element_at(array(lit("en"), lit("de"), lit("es"), lit("fr"), lit("zh")),
        (when(u(3, seed, col("id")) < 0.42, 0)
          .when(u(3, seed, col("id")) < 0.58, 1)
          .when(u(3, seed, col("id")) < 0.72, 2)
          .when(u(3, seed, col("id")) < 0.86, 3)
          .otherwise(4) + 1)).as("lang"))
    // dup k copies base doc (k mapped uniformly over bases) with ~2%
    // per-word substitution — a self-contained broadcast-free join on
    // the derived base_id
    val dups = s.range(n / 20).select(
      (col("id") + nBase).as("doc_id"),
      pmod(xxhash64(col("id"), lit(4), lit(seed)), lit(nBase)).as("base_id"))
    val dupDocs = dups.join(
        base.select(col("doc_id").as("base_id"), col("words"),
          col("source"), col("lang")), "base_id")
      .select(col("doc_id"),
        expr(s"""transform(words, (w, i) ->
          |  CASE WHEN pmod(xxhash64(doc_id, i, ${seed + 2}), 50) = 0
          |       THEN element_at($vlitSql,
          |              cast(pmod(xxhash64(doc_id, i, ${seed + 3}), ${vocab.length}) + 1 as int))
          |       ELSE w END)""".stripMargin).as("words"),
        col("source"), col("lang"))
    base.select(col("doc_id"), col("words"), col("source"), col("lang"))
      .unionByName(dupDocs)
      .select(col("doc_id"),
        array_join(col("words"), " ").as("text"),
        col("lang"), col("source"))
      .withColumn("n_chars", length(col("text")))
  }
}
