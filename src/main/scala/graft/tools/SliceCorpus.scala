package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Deterministic bounded sub-corpus extraction — the sf-tier gate
  * device for the exact-recall quadratic-audit dedup rows (VERDICT
  * r10 item 1: `d_simhash`, `d_ngram_jaccard`, `d_containment`,
  * `d_substr`, `d_incremental`, `d_semdedup`).
  *
  * Those rows' documented contract (SCALE.md) bounds the CORPUS an
  * exact-recall audit may run over — it never bounded the TIER — so
  * instead of excluding the row class from the sf1 gate, the gate
  * runs them over a hash-selected fixed-size slice of the sf1 corpus.
  * A slice-selection bug (wrong modulus, wrong column, non-determinism)
  * shifts every downstream pair set and goes loudly red against the
  * DuckDB oracle, which reads the SAME sliced parquet.
  *
  * Slice rule: keep rows where `pmod(xxhash64(id), mod) == 0`, applied
  * to `documents.doc_id` and `embeddings.vec_id`. Hash selection (not
  * residue `id % mod`) keeps the choice independent of ScaleUp's
  * arithmetic replica tiling, so the slice is uniform across replicas
  * and RETAINS the tier's signature structure: per original document
  * ~Binomial(replicas, 1/mod) identical copies survive, i.e. the slice
  * still contains cross-replica exact duplicates for the audit rows to
  * find — a property the base sf0.1 corpus cannot exhibit at all.
  *
  * Every other table is carried as a SYMLINK to the source tier (the
  * audit rows read only documents/embeddings; linking keeps the dir a
  * complete corpus for `graft.io.Tables` and the DuckDB harness
  * without copying ~100 MB of untouched fact tables).
  *
  * Usage: runMain graft.tools.SliceCorpus <inDir> <outDir> <mod>
  */
object SliceCorpus {

  private val Sliced = Map("documents" -> "doc_id", "embeddings" -> "vec_id")
  private val Linked = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events")

  def main(args: Array[String]): Unit = {
    val Array(inDir, outDir, modS) = args.take(3)
    val mod = modS.toInt
    require(mod >= 2, s"mod must be >= 2, got $mod")
    val spark = graft.io.Sessions.harness()
    write(spark, inDir, outDir, mod)
    spark.stop()
  }

  def write(spark: SparkSession, inDir: String, outDir: String,
      mod: Int): Unit = {
    val out = java.nio.file.Paths.get(outDir)
    java.nio.file.Files.createDirectories(out)
    Sliced.foreach { case (t, idCol) =>
      val src = spark.read.parquet(s"$inDir/$t.parquet")
      val kept = src.filter(pmod(xxhash64(col(idCol)), lit(mod.toLong)) === 0L)
      kept.coalesce(4).write.mode("overwrite").parquet(s"$outDir/$t.parquet")
      val (n0, n1) = (src.count(), spark.read.parquet(s"$outDir/$t.parquet").count())
      System.err.println(s"[slice] $t: $n0 -> $n1 rows (mod $mod)")
      require(n1 > 0 && n1 < n0, s"slice of $t is degenerate: $n0 -> $n1")
    }
    Linked.foreach { t =>
      val link = out.resolve(s"$t.parquet")
      java.nio.file.Files.deleteIfExists(link)
      java.nio.file.Files.createSymbolicLink(
        link, java.nio.file.Paths.get(inDir, s"$t.parquet").toAbsolutePath)
    }
  }
}
