package graft.scale

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The query scope's one release path: every operator that pins frames
  * for one query leaves no persisted RDD behind once the caller has
  * collected and drained the thread's [[CacheRegistry]] ledger. */
class QueryScopeSpec extends SparkSpec {

  // 4-cycle 1-2-3-4 with chord 1-3, plus pendant pair 5-6 at 1
  private val und = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L), (1L, 3L),
    (1L, 5L), (5L, 6L))

  private def edges = {
    import spark.implicits._
    (und ++ und.map(_.swap)).toDF("src", "dst")
  }

  /** The rank operators' caller-owned edge frame, pinned for the
    * query the way the purchase-graph memo holds it for the session. */
  private def eo = CacheRegistry.pin(PageRank.edgesWithOutdeg(edges))

  private def node(id: Long) = spark.range(id, id + 1).toDF("node")

  private def vecs = spark.range(8).select(col("id").as("vec_id"),
    array(col("id") % 4, expr("id div 4"), lit(1L)).as("qv"))

  private val operators: Seq[(String, () => DataFrame)] = Seq(
    "PageRank.run" -> (() => PageRank.run(eo, 3)),
    "PageRank.runPersonalized" -> (() => PageRank.runPersonalized(eo, node(6L), 3)),
    "Bfs.hops" -> (() => Bfs.hops(edges, node(1L), 3)),
    "Triangles.stats" -> (() => {
      import spark.implicits._
      TriangleStats(und.toDF("a", "b"))
    }),
    "KMeans.lloydQuantized" -> (() => KMeans.lloydQuantized(spark, vecs, 2, 2)._1),
    "GlobalRank.withGlobalRank" -> (() => GlobalRank.withGlobalRank(
      edges, col("dst"), col("src") * 100 + col("dst"), "r", nChunks = 3)))

  for ((name, op) <- operators)
    test(s"$name: no persisted RDD survives the drain after the action") {
      val before = persistentRddIds
      assert(op().collect().nonEmpty)
      CacheRegistry.drain()
      assert(awaitGone(persistentRddIds -- before),
        s"$name left persisted RDD(s) ${persistentRddIds -- before} 15 s past the drain")
    }
}
