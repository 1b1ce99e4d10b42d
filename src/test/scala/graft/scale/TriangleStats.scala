package graft.scale

import org.apache.spark.sql.DataFrame

/** Global triangle statistics of a standalone undirected edge list
  * (columns `a` < `b`, distinct): [[Triangles.orient]] plus the census,
  * with the three persists of the build recorded in [[CacheRegistry]]
  * for the spec's drain. The query rows share a memoized build instead. */
object TriangleStats {
  def apply(edges: DataFrame): DataFrame = {
    val g = Triangles.orient(edges)
    CacheRegistry.track(g.e, g.oriented, g.adj)
    Triangles.statsFromGraph(g)
  }
}
