package graft.queries

import graft.SparkSpec

/** Pins the LSH bucket-width circuit breaker (VERDICT r11 item 6):
  * a degenerate corpus — one clique of IDENTICAL texts, so every band
  * bucket holds the whole clique — must fail LOUDLY past the cap
  * (naming the width and the remedy), not silently stream O(B²) pairs
  * through one task; and the same corpus under a sufficient cap must
  * emit exactly the clique's pair set (the breaker is an observer,
  * never a filter — no pair is silently dropped below the cap). */
class LshBucketCapSpec extends SparkSpec {

  import spark.implicits._

  /** Plants nCopies identical docs + a few distinct singletons as a
    * documents.parquet corpus, returns its dir. */
  private def plant(nCopies: Int): String = {
    val dir = java.nio.file.Files
      .createTempDirectory("lsh_cap_corpus").toString
    val clique = (1 to nCopies).map(i =>
      (i.toLong, "the same exact degenerate document text repeated " +
        "verbatim across the whole clique with enough shingles to band",
        "en", "plant", 100L))
    // singletons with ZERO shared shingles (every word is unique to
    // its doc — a single shared phrase was enough to band two of the
    // first draft's "lone" docs together, correctly)
    val lone = (1 to 5).map { i =>
      val words = (1 to 12).map(j => s"w${i}x${j}y${i * 7919 + j * 104729}")
      (1000L + i, words.mkString(" "), "en", "plant", 90L)
    }
    (clique ++ lone)
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .repartition(4)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  /** The messages of `t` and its causes. */
  private def msgs(t: Throwable): Seq[String] =
    if (t == null) Seq.empty
    else Option(t.getMessage).toSeq ++ msgs(t.getCause)

  test("a bucket past the cap fails loudly, naming width and remedy") {
    val dir = plant(nCopies = 40)
    val ex = intercept[Exception] {
      DedupPack.bandedCandidates(spark, dir, maxBucket = 16).count()
    }
    val all = msgs(ex).mkString(" | ")
    assert(all.contains("LSH bucket width exceeds cap 16"),
      s"wrong failure: $all")
    assert(all.contains("width=40"), s"width not named: $all")
    assert(all.contains("d_exact"), s"remedy not named: $all")
  }

  test("under the cap the breaker never drops a pair") {
    val dir = plant(nCopies = 12)
    val pairs = DedupPack.bandedCandidates(spark, dir, maxBucket = 1024)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = (for {
      a <- 1 to 12; b <- (a + 1) to 12
    } yield (a.toLong, b.toLong)).toSet
    assert(pairs == want,
      s"clique pair set wrong: missing=${(want -- pairs).take(5)} " +
        s"extra=${(pairs -- want).take(5)}")
  }

  test("the default cap is 1024: one wider bucket fails") {
    val dir = plant(nCopies = 1025)
    val ex = intercept[Exception](DedupPack.bandedCandidates(spark, dir).count())
    val all = msgs(ex).mkString(" | ")
    assert(all.contains("LSH bucket width exceeds cap 1024: width=1025"), s"wrong failure: $all")
  }
}
