package graft.scale

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed Lloyd's k-means on an INTEGER lattice — the clustering
  * operator of the similarity family (corpus bucketing for curriculum
  * mixes, IVF coarse quantizers, semantic dedup seeds), built so the
  * whole iteration is EXACT integer arithmetic and therefore
  * bit-reproducible across engines, partitionings, and retries:
  *
  *  - vectors are quantized once: `floor(x * 1000)` per coordinate
  *    (int64 lattice; float→double widening is exact, so both Spark
  *    and the DuckDB oracle quantize identically);
  *  - assignment uses exact integer squared L2, with the argmin
  *    tie-break fused into the key `dist * k + cid` — one min() over
  *    ints settles distance AND deterministic tie in a single
  *    map-side-combinable aggregate (dist and cid are recovered as
  *    `key div k` / `key % k`);
  *  - centroid update floors the per-dimension mean back onto the
  *    lattice (`floor(sum/count)` — sums stay < 2^53, so the double
  *    division is exact); an emptied cluster keeps its previous
  *    centroid;
  *  - seeding is data-deterministic: rows at vec_id {0, s, 2s, 3s},
  *    s = n/k — stable under growth of the same generator, no RNG.
  *
  * Scale shape (the MLlib layout): centroids live on the driver
  * (k × dims longs — bytes) and are BROADCAST each round; every
  * iteration is ONE corpus scan with a k-way broadcast cross and a
  * groupBy(vec) min — no corpus-sized shuffle for assignment. The
  * update's posexplode + groupBy(cid, d) shuffles only partial sums:
  * k × dims × #partitions rows. Lattice math never drifts: a retried
  * task, a different partition count, or a different engine reproduces
  * the identical centroids — which is exactly what the s_kmeans oracle
  * gate (SimilarityPack) proves against DuckDB.
  */
object KMeans {

  /** Run `iters` Lloyd rounds over `vecs` (columns: `vec_id` long,
    * `qv` array<long>). Returns the FINAL assignment frame
    * (vec_id, cid, dist) and the final centroids; the assignment is
    * the `iters`-th, the centroids the update it produced. The
    * quantized input is pinned in [[CacheRegistry]] for the iteration
    * loop (harness drains after the action).
    */
  /** `finalUpdate = false` skips the LAST round's centroid-update
    * aggregation (a full posexplode+groupBy over the corpus): callers
    * that only consume the assignment (d_semdedup_scoped's census)
    * would otherwise pay one corpus-sized job for centroids they
    * discard. With it false, the returned centroids are the ones the
    * final ASSIGNMENT used — still a consistent (assignment,
    * centroids) pair. */
  def lloydQuantized(s: SparkSession, vecs: DataFrame, k: Int, iters: Int,
                     finalUpdate: Boolean = true)
      : (DataFrame, Array[Array[Long]]) = {
    import s.implicits._
    val q = CacheRegistry.pin(vecs.select(col("vec_id"), col("qv")))
    val n = q.count()
    val step = math.max(1L, n / k)
    val seedIds = (0 until k).map(_ * step)
    var cent: Array[Array[Long]] = q
      .filter(col("vec_id").isin(seedIds: _*))
      .orderBy(col("vec_id"))
      .collect() // bounded: k rows
      .map(_.getSeq[Long](1).toArray)
    require(cent.length == k, s"seeding found ${cent.length} of $k rows")

    var assigned: DataFrame = null
    for (i <- 1 to iters) {
      val cdf = cent.zipWithIndex.toSeq.toDF("cv", "cid")
      // codegen'd primitive loop (graft.expr.IntSqDist): the
      // interpreted aggregate(zip_with(...)) fold it replaces was the
      // 10x bottleneck of the whole adaptive-k assignment stage
      // (d_semdedup_scoped at the 100x corpus: 597 s -> see SCALE.md)
      val dist = graft.expr.IntSqDist(col("qv"), col("cv"))
      assigned = q.crossJoin(broadcast(cdf))
        .select(col("vec_id"), col("qv"),
          (dist * lit(k.toLong) + col("cid")).as("key"))
        .groupBy(col("vec_id"))
        // qv is functionally dependent on vec_id (identical across the
        // k crossed rows), so first() is deterministic in VALUE
        .agg(min(col("key")).as("key"), first(col("qv")).as("qv"))
        .select(col("vec_id"), col("qv"),
          (col("key") % k).cast("int").as("cid"),
          expr(s"key div $k").as("dist"))
      if (i < iters || finalUpdate) {
        val sums = assigned
          .select(col("cid"), posexplode(col("qv")).as(Seq("d", "v")))
          .groupBy(col("cid"), col("d"))
          .agg(sum(col("v")).as("sv"), count(lit(1)).as("c"))
          .collect() // bounded: k x dims rows
        val next = cent.map(_.clone())
        sums.foreach { r =>
          val (cid, d) = (r.getInt(0), r.getInt(1))
          next(cid)(d) =
            math.floor(r.getLong(2).toDouble / r.getLong(3)).toLong
        }
        cent = next
      }
    }
    (assigned.select(col("vec_id"), col("cid"), col("dist")), cent)
  }
}
