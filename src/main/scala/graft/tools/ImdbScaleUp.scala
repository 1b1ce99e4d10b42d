package graft.tools

import graft.imdb.{Readers, Schemas}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** N× replication of the reference's IMDB fixtures (VERDICT r10 item
  * 5): every query-pack family is measured to 100×-1000×, but the §2
  * pipeline itself had only ever run at fixture size (7,959 train
  * rows). This cuts a corpus the pipeline can be MEASURED on.
  *
  * Replication rule: each movie id gains a per-copy suffix
  * `tconst -> tconst + "r" + copy` (planted-unique — the id space has
  * no arithmetic to collide with), applied consistently to train /
  * test / writing / directing / genre-cache, so every join
  * cardinality scales exactly linearly and CACHE COVERAGE IS
  * PRESERVED (each replica movie hits the cache, so the enrichment
  * stage stays a zero-LLM anti-join at any factor, like the committed
  * caches guarantee at 1×). Writer/director nm-ids are left as-is:
  * per-movie metadata counts are what the features consume, and those
  * are copy-invariant.
  *
  * Fidelity notes (scale-measurement corpus, not a byte-golden one):
  * train/test/cache are re-emitted from the PARSED frames through the
  * same explicit schemas the pipeline reads with (`\N` sentinel
  * preserved via the writer's nullValue); writing.json becomes JSONL
  * (spark.read.json accepts both shapes through the same loadWriting
  * code path); directing.json is re-emitted in the reference's exact
  * pandas columns-orient single-object shape — that format forces a
  * single-record multiLine parse, which is precisely the S4 scale
  * behavior worth measuring, so the pathology is kept, with the
  * (small) driver-side re-encode confined to this dev tool.
  *
  * Usage: runMain graft.tools.ImdbScaleUp <refImdbDir> <outDir> <factor>
  */
object ImdbScaleUp {

  def main(args: Array[String]): Unit = {
    val Array(inDir, outDir, factorS) = args.take(3)
    val factor = factorS.toInt
    require(factor >= 2, s"factor must be >= 2, got $factor")
    val spark = graft.io.Sessions.harness()
    write(spark, inDir, outDir, factor)
    spark.stop()
  }

  /** movie-id rewrite: tconst + "r" + zero-padded copy index. */
  private def suffixed(idCol: String): org.apache.spark.sql.Column =
    concat(col(idCol), lit("r"), lpad(col("copy").cast("string"), 3, "0"))

  private def replicate(df: DataFrame, factor: Int): DataFrame =
    df.withColumn("copy",
      explode(sequence(lit(0), lit(factor - 1))))

  def write(spark: SparkSession, inDir: String, outDir: String,
            factor: Int): Unit = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))

    def csvOut(df: DataFrame, path: String, parts: Int): Unit =
      df.repartition(parts).write.mode("overwrite")
        .option("header", true).option("nullValue", "\\N")
        .csv(path)

    // train: one globbed scan, ×factor, suffixed ids. Written as a
    // directory of part CSVs — loadTrain's glob covers it (S2).
    val train = replicate(Readers.loadTrain(spark, s"$inDir/train-*.csv"), factor)
      .withColumn("tconst", suffixed("tconst")).drop("copy")
    csvOut(train, s"$outDir/train-csv", 32)

    for (set <- Seq("validation", "test")) {
      val t = replicate(Readers.loadTest(spark, s"$inDir/${set}_hidden.csv"), factor)
        .withColumn("tconst", suffixed("tconst")).drop("copy")
      csvOut(t, s"$outDir/${set}_hidden-csv", 8)
      val c = replicate(
        Readers.loadGenreCache(spark, s"$inDir/${set}_gemma3_4b_cache.csv"), factor)
        .withColumn("tconst", suffixed("tconst")).drop("copy")
      csvOut(c, s"$outDir/${set}_gemma3_4b_cache-csv", 8)
    }
    val trainCache = replicate(
      Readers.loadGenreCache(spark, s"$inDir/train_gemma3_4b_cache.csv"), factor)
      .withColumn("tconst", suffixed("tconst")).drop("copy")
    csvOut(trainCache, s"$outDir/train_gemma3_4b_cache-csv", 8)

    // writing.json ×factor as JSONL (same loadWriting path)
    replicate(Readers.loadWriting(spark, s"$inDir/writing.json"), factor)
      .select(suffixed("movie").as("movie"), col("writer"))
      .repartition(8).write.mode("overwrite").json(s"$outDir/writing-json")

    // directing.json: keep the reference's pandas columns-orient
    // SINGLE-OBJECT shape (the S4 multiLine pathology under test).
    // The base table is 11k pairs — the only driver-side loop in this
    // generator, bounded by the 1× fixture size, streamed to disk.
    val base = Readers.loadDirecting(spark, s"$inDir/directing.json")
      .collect() // bounded: 1x fixture pairs (11,162 in the reference)
    val out = new java.io.PrintWriter(new java.io.BufferedWriter(
      new java.io.FileWriter(s"$outDir/directing.json"), 1 << 20))
    try {
      def emit(field: Int): Unit = {
        var idx = 0L
        var copy = 0
        while (copy < factor) {
          var i = 0
          while (i < base.length) {
            if (idx > 0) out.print(",")
            val v = if (field == 0) f"${base(i).getString(0)}r$copy%03d"
                    else base(i).getString(1)
            // JSON-escape: the fixture carries literal `\N` sentinels
            val esc = v.replace("\\", "\\\\").replace("\"", "\\\"")
            out.print(s""""$idx":"$esc"""")
            idx += 1; i += 1
          }
          copy += 1
        }
      }
      out.print("{\"movie\":{"); emit(0)
      out.print("},\"director\":{"); emit(1)
      out.print("}}")
    } finally out.close()

    System.err.println(s"[imdb-scaleup] x$factor -> $outDir " +
      s"(train ${train.count()} rows)")
  }
}
