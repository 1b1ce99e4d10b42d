package graft.scale

import graft.SparkSpec
import graft.io.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The s_kmeans gate row proves cross-ENGINE bit-equality (Spark vs
  * DuckDB, same three rounds); this spec pins the operator's own
  * contracts: Lloyd progress, and bit-reproducibility across
  * partitionings — the property the integer lattice exists to buy
  * (a float k-means gives partition-dependent centroids because
  * summation order differs; retries/speculation then make results
  * non-deterministic ON THE SAME CLUSTER).
  */
class KMeansSpec extends SparkSpec {

  private def quantized(parts: Int): DataFrame = {
    val df = Tables(spark, sf("sf0.001"), "embeddings")
      .select(col("vec_id"),
        expr("transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT))")
          .as("qv"))
    if (parts > 0) df.repartition(parts) else df
  }

  private def inertia(a: DataFrame): Long =
    a.agg(sum(col("dist"))).head().getLong(0)

  test("Lloyd iterations reduce lattice inertia") {
    val (a1, _) = KMeans.lloydQuantized(spark, quantized(0), 4, 1)
    val i1 = inertia(a1)
    CacheRegistry.drain()
    val (a3, _) = KMeans.lloydQuantized(spark, quantized(0), 4, 3)
    val i3 = inertia(a3)
    CacheRegistry.drain()
    assert(i3 < i1, s"no progress: iter1=$i1 iter3=$i3")
  }

  test("result is bit-identical across partitionings") {
    def run(parts: Int) = {
      val (a, cent) = KMeans.lloydQuantized(spark, quantized(parts), 4, 3)
      val rows = a.orderBy(col("vec_id")).collect().toSeq
      CacheRegistry.drain()
      (rows, cent.map(_.toSeq).toSeq)
    }
    val (r1, c1) = run(1)
    val (r7, c7) = run(7)
    assert(c1 === c7, "centroids depend on partitioning")
    assert(r1 === r7, "assignments depend on partitioning")
  }
}
