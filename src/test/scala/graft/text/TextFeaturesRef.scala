package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Higher-order-function references for the codegen'd text
  * expressions: TextExprSpec checks `CharFingerprint` and
  * SketchExprSpec checks `ShingleHashes` against these, row by row.
  * No query uses them. */
object TextFeaturesRef {

  /** Word n-gram shingles (distinct), the unit of near-dup Jaccard.
    * Empty array for texts shorter than n tokens. */
  def shingles(text: Column, n: Int): Column = {
    val toks = TextFeatures.tokens(text)
    val cnt = size(toks) - (n - 1)
    array_distinct(
      when(cnt < 1, array())
        .otherwise(transform(sequence(lit(1), greatest(cnt, lit(1))),
          i => concat_ws(" ", (0 until n).map(k => element_at(toks, i + k)): _*))))
  }

  /** Position-weighted character fingerprint:
    * sum(codepoint(c_i) * i) mod 1e9+7 over the whole text (1-based).
    * Order-sensitive like a rolling hash, but closed-form so any SQL
    * engine reproduces it bit-exactly (a Rabin-Karp power series needs
    * modpow, which portable SQL lacks). Collision rate is fine for
    * fingerprint-based grouping; exact-dedup uses the full text anyway.
    */
  def charFingerprint(textCol: String): Column =
    expr(
      s"""aggregate(
         |  transform(sequence(1, length($textCol)),
         |            i -> ascii(substring($textCol, i, 1)) * cast(i as bigint)),
         |  0L, (acc, x) -> acc + x) % 1000000007""".stripMargin)
}
