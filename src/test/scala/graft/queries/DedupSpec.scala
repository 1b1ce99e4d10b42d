package graft.queries

import graft.SparkSpec
import graft.SparkEntry

class DedupSpec extends SparkSpec {

  test("minhash-LSH and simhash outputs equal exact n-gram Jaccard (sf0.001)") {
    val dir = sf("sf0.001")
    def rows(q: String) = SparkEntry.queries(q)(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val exact = rows("d_ngram_jaccard")
    assert(exact.nonEmpty, "fixture should contain planted near-dups")
    assert(rows("d_minhash_lsh") == exact, "minhash recall/precision != exact")
    assert(rows("d_simhash") == exact, "simhash recall/precision != exact")
  }

  test("containment == brute force over random corpora (prefix exactness)") {
    // the prefix filter's completeness guarantee is the part a fixture
    // can't stress: random corpora with planted subset-docs must yield
    // EXACTLY the brute-force containment pairs
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta",
      "eta", "theta", "iota", "kappa", "mu", "nu", "xi", "pi", "rho")
    for (trial <- 1 to 3) {
      val base = (0 until 30).map { i =>
        i.toLong -> Seq.fill(8 + rnd.nextInt(25))(vocab(rnd.nextInt(vocab.size)))
      }
      // plant: doc 100+i = doc i plus a few extra words (i contained in it)
      val planted = base.take(5).map { case (id, ws) =>
        (id + 100) -> (ws ++ Seq.fill(1 + rnd.nextInt(2))(vocab(rnd.nextInt(vocab.size))))
      }
      val docs = (base ++ planted).map { case (id, ws) => (id, ws.mkString(" ")) }
      def shingles(ws: Seq[String]): Set[Seq[String]] =
        if (ws.length < 3) Set.empty else ws.sliding(3).map(_.toSeq).toSet
      val sets = docs.map { case (id, text) =>
        id -> shingles(text.split(" ").toSeq) }.toMap
      val expected = (for {
        (a, sa) <- sets.toSeq; (b, sb) <- sets.toSeq
        if a != b && sa.nonEmpty
        c = sa.intersect(sb).size.toDouble / sa.size
        if c >= 0.9
      } yield (a, b)).toSet

      val dir = java.nio.file.Files.createTempDirectory(s"graft_cont$trial")
      docs.toDF("doc_id", "text")
        .withColumn("lang", org.apache.spark.sql.functions.lit("en"))
        .withColumn("source", org.apache.spark.sql.functions.lit("s"))
        .withColumn("n_chars",
          org.apache.spark.sql.functions.length($"text").cast("long"))
        .write.mode("overwrite").parquet(dir.resolve("documents.parquet").toString)
      val got = SparkEntry.queries("d_containment")(spark, dir.toString)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == expected,
        s"trial $trial: got ${got.size} pairs, expected ${expected.size}: " +
          s"missing=${expected -- got} extra=${got -- expected}")
    }
  }

  test("exact dedup keeps lowest id and counts planted copies") {
    val out = SparkEntry.queries("d_exact")(spark, sf("sf0.001")).collect()
    // 500 docs, even ids planted once more -> 250 groups of 2, 250 of 1
    assert(out.length == 500)
    assert(out.count(_.getLong(1) == 2L) == 250)
    assert(out.forall(r => r.getLong(0) < DedupPack.PlantedOffset)) // kept id is the original
  }

  test("d_substr finds every planted copy pair with full window overlap") {
    import org.apache.spark.sql.functions._
    val dir = sf("sf0.001")
    val out = SparkEntry.queries("d_substr")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // every even doc with >= 12 words shares ALL its windows with its
    // planted copy at id+PlantedOffset
    val wins = graft.io.Tables(spark, dir, "documents")
      .filter(col("doc_id") % 2 === 0)
      .select(col("doc_id"),
        size(graft.expr.ShingleHashes(col("text"), 12)).as("nw"))
      .filter(col("nw") > 0)
      .collect().map(r => r.getLong(0) -> r.getInt(1))
    assert(wins.nonEmpty)
    wins.foreach { case (id, nw) =>
      assert(out.get((id, id + DedupPack.PlantedOffset)).contains(nw.toLong),
        s"planted pair ($id, ${id + DedupPack.PlantedOffset}) missing or partial")
    }
    // shared counts are positive and bounded by either side's windows
    assert(out.values.forall(_ >= 1))
  }

  test("nibble blocking is pigeonhole-exact to the Hamming bound") {
    import spark.implicits._
    // random 64-bit sigs + planted close pairs (Hamming 1..15): the
    // block join must return EXACTLY the pairs within the bound
    val rnd = new scala.util.Random(13)
    val base = Seq.tabulate(200)(i => (i.toLong, rnd.nextLong()))
    val close = base.take(30).map { case (id, sig) =>
      val flips = 1 + rnd.nextInt(15)
      val bits = rnd.shuffle((0 until 64).toList).take(flips)
      (id + 1000, bits.foldLeft(sig)((s, b) => s ^ (1L << b)))
    }
    val all = base ++ close
    val df = all.toDF("id", "sig")
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    val expected = (for {
      (ia, sa) <- all; (ib, sb) <- all
      if ia < ib && ham(sa, sb) <= 15
    } yield (ia, ib)).toSet
    val got = DedupPack.nibbleBlockCandidates(df, "id", "sig", maxHamming = 15)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == expected,
      s"missing=${expected -- got} extra=${got -- expected}")
  }

  test("d_semdedup merges every planted twin, keeps everything else") {
    val out = SparkEntry.queries("d_semdedup")(spark, sf("sf0.001"))
    val rows = out.collect()
    val n = graft.io.Tables(spark, sf("sf0.001"), "embeddings").count()
    val planted = rows.count(_.getLong(0) >= DedupPack.PlantedOffset)
    assert(rows.length == n + planted)
    // every planted twin points at its original and is dropped
    rows.filter(_.getLong(0) >= DedupPack.PlantedOffset).foreach { r =>
      assert(r.getLong(1) == r.getLong(0) - DedupPack.PlantedOffset,
        s"twin ${r.getLong(0)} rep ${r.getLong(1)}")
      assert(!r.getBoolean(2))
    }
    // originals (and all non-planted vectors) keep themselves
    rows.filter(_.getLong(0) < DedupPack.PlantedOffset).foreach { r =>
      assert(r.getLong(1) == r.getLong(0) && r.getBoolean(2))
    }
  }

  test("incremental dedup: full incoming census, matches point at history") {
    val out = SparkEntry.queries("d_incremental")(spark, sf("sf0.001"))
      .collect()
    // exactly the 5% ingest set, one row per incoming doc
    assert(out.nonEmpty)
    assert(out.forall(_.getLong(0) % 20 == 0))
    assert(out.map(_.getLong(0)).distinct.length == out.length)
    out.foreach { r =>
      val (n, first, dup) = (r.getLong(1), r.getLong(2), r.getBoolean(3))
      assert(dup == (n > 0), "is_dup inconsistent with match count")
      if (dup) assert(first >= 0 && first % 20 != 0,
        s"first_match $first is not an existing-corpus doc")
      else assert(first == -1L)
    }
  }
}
