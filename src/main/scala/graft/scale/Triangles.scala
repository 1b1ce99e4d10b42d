package graft.scale

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Distributed exact triangle counting by degree orientation — the
  * third graph operator next to [[ConnectedComponents]] and
  * [[PageRank]] (the reference has no graph operators; this is
  * extension surface for corpus/link analytics: community density of
  * a co-occurrence graph, spam-farm detection on link graphs).
  *
  * Algorithm (Schank–Wagner "forward" orientation + per-edge
  * adjacency intersection): orient every undirected edge from its
  * lower-(degree, id) endpoint to its higher one, build each node's
  * sorted out-neighbor array, and count per oriented edge (u, v) the
  * common out-neighbors |N⁺(u) ∩ N⁺(v)|. Each triangle {a ≺ b ≺ c}
  * (≺ = the orientation order) is counted exactly once — at its edge
  * (a, b), the only edge whose endpoints both point to c — so the
  * intersection sum IS the triangle count.
  *
  * Why orientation is the whole scale story: a naive wedge join on the
  * undirected list materializes Σ d(v)² rows — a single celebrity node
  * of degree 10⁶ alone yields 10¹² wedges. Orienting by degree bounds
  * every out-degree by O(√m) (a vertex of out-degree k has k higher-
  * degree neighbors, each of degree ≥ k, so k² ≤ 2m), which caps the
  * wedge volume at O(m^1.5) REGARDLESS of skew — the hot node's wedges
  * are re-expressed as wedges of its (low-degree) neighbors. All three
  * exchanges carry 8-byte ids (+ one degree): degrees are one
  * map-side-combinable count, the wedge join shuffles on the wedge
  * center, the closing semi-join on the (v, w) edge key.
  *
  * The returned metrics: `n_wedges` is the UNDIRECTED wedge (open +
  * closed path of length 2) count Σ d(d−1)/2 — the denominator of the
  * global clustering coefficient 3·triangles / wedges — computed from
  * the degree table, never enumerated.
  *
  * [[orient]]'s three persists (edge list, oriented list, adjacency)
  * belong to its caller: the AnalyticsPack memo keeps them
  * session-lifetime. Bench/Verify run every query in ONE session —
  * fire-and-forget persists there accumulate until LRU pressure evicts
  * caches other queries still need (the round-4 leak class).
  */
object Triangles {

  /** The shared construction of the triangle family: canonical edge
    * list, degree table, degree-oriented edge list, and sorted
    * out-neighbor adjacency — persisted. Built once per graph and
    * reused by every consumer (global census, DOULION sample census,
    * per-node clustering): VERDICT r9 measured the census
    * CONSTRUCTION-bound, and each family member used to rebuild this
    * identical state. The caller owns the persisted `e`, `oriented`
    * and `adj`: the AnalyticsPack memo keeps them session-lifetime. */
  final case class OrientedGraph(e: DataFrame, deg: DataFrame,
      oriented: DataFrame, adj: DataFrame)

  /** Build the [[OrientedGraph]] of an undirected graph.
    *
    * @param edges undirected edge list; one row per edge with integral
    *              endpoint columns `a` < `b` (canonical form), no
    *              duplicates — the caller's construction must
    *              guarantee both (a groupBy-derived co-occurrence list
    *              does so for free)
    */
  def orient(edges: DataFrame): OrientedGraph = {
    val e = edges
      .select(col("a").cast("long").as("a"), col("b").cast("long").as("b"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // Degree of every endpoint: ONE map-side-combinable count over the
    // exploded endpoint stream (8-byte rows).
    val deg = e.select(explode(array(col("a"), col("b"))).as("v"))
      .groupBy(col("v")).agg(count(lit(1)).as("d"))
    // Attach both endpoint degrees, then orient low-(d, id) -> high.
    // Two node-keyed joins; the degree side is |V| rows of 16 bytes.
    val ed = e
      .join(deg.select(col("v").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("v").as("b"), col("d").as("db")), "b")
    val aFirst = (col("da") < col("db")) ||
      (col("da") === col("db") && col("a") < col("b"))
    val oriented = ed.select(
        when(aFirst, col("a")).otherwise(col("b")).as("src"),
        when(aFirst, col("b")).otherwise(col("a")).as("dst"),
        // orientation key of the HEAD endpoint, carried so consumers
        // can order by ≺ without a third degree join
        when(aFirst, col("db")).otherwise(col("da")).as("dd"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val adj = oriented.groupBy(col("src"))
      .agg(sort_array(collect_list(col("dst"))).as("nb"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    OrientedGraph(e, deg, oriented, adj)
  }

  /** Global triangle statistics over a prebuilt (possibly
    * shared/memoized) [[OrientedGraph]]: one row (n_nodes, n_edges,
    * n_wedges, n_triangles, clustering) — clustering = 3·tri/wedges
    * rounded to 6dp, 0.0 for wedge-free graphs.
    *
    * Triangle closing is by ADJACENCY INTERSECTION, not a wedge
    * join: for a triangle a ≺ b ≺ c, edge (a, b) is the unique edge
    * whose two out-neighborhoods share c (b ∉ N⁺(c) by orientation),
    * so n_triangles = Σ over oriented edges |N⁺(u) ∩ N⁺(v)|. Earlier
    * rounds enumerated wedges and semi-joined them back against the
    * edge list — correct, but it pushed the O(m^1.5) wedge stream
    * through a (v, w)-keyed EXCHANGE, the single biggest cost of the
    * census (109 s cold at the 10x growth corpus). Here the O(m^1.5)
    * work still happens — it must — but entirely INSIDE whole-stage
    * codegen: the only exchanges are the m-row edge list and the
    * |V|-row adjacency table (total array payload m cells), and the
    * per-edge intersection streams straight into a partial sum.
    * Orientation still bounds every array at O(√m) cells, so a row is
    * never wide, skew or not. SHUFFLE_HASH: hashing |V| adjacency
    * rows beats sort-merge sorting the m-row edge stream twice. */
  def statsFromGraph(g: OrientedGraph): DataFrame = {
    val OrientedGraph(e, deg, oriented, adj) = g
    val tri = oriented.select(col("src"), col("dst"))
      .join(adj.select(col("src"), col("nb").as("na")).hint("SHUFFLE_HASH"),
        Seq("src"))
      // dst may have no out-edges (orientation sinks): left + coalesce
      .join(adj.select(col("src").as("dst"), col("nb").as("nv"))
        .hint("SHUFFLE_HASH"), Seq("dst"), "left")
      // two-pointer merge count over the pre-sorted adjacency arrays
      // (codegen, allocation-free) — size(array_intersect(..)) built a
      // hash set AND the intersection array per edge just to count it,
      // the measured cost center of the 100x census (SCALE.md r9)
      .select(graft.expr.SortedIntersectCount(col("na"),
        coalesce(col("nv"), array().cast("array<bigint>"))).as("t"))
      .agg(sum(col("t")).as("n_triangles"))
    val nodeStats = deg.agg(
      count(lit(1)).as("n_nodes"),
      sum(expr("d * (d - 1) div 2")).as("n_wedges"))
    val edgeCnt = e.agg(count(lit(1)).as("n_edges"))
    val out = nodeStats.crossJoin(edgeCnt).crossJoin(tri)
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"),
        col("n_triangles"),
        when(col("n_wedges") > 0,
          round(lit(3.0) * col("n_triangles") / col("n_wedges"), 6))
          .otherwise(lit(0.0)).as("clustering"))
    out
  }

  /** (n_edges, n_triangles) of an edge-SUBGRAPH of a prebuilt
    * [[OrientedGraph]], selected by a per-oriented-edge `keep`
    * predicate over `src`/`dst` — the DOULION reuse path: the
    * sampled census needs the sampled graph's exact triangle count,
    * and any acyclic orientation is valid for Schank–Wagner closing,
    * so the parent graph's (persisted) degree orientation is reused
    * as-is; only the sampled adjacency (a shuffle over the kept
    * edges, ~p·m rows) is rebuilt. Out-degrees stay O(√m)-bounded —
    * subgraph out-neighborhoods are subsets of the parent's. */
  def subgraphStats(g: OrientedGraph, keep: Column): DataFrame = {
    // no persist: se is a cheap filter over the PERSISTED parent
    // oriented list; both references below re-filter from cache
    val se = g.oriented.filter(keep).select(col("src"), col("dst"))
    val adjS = se.groupBy(col("src"))
      .agg(sort_array(collect_list(col("dst"))).as("nb"))
    val tri = se
      .join(adjS.select(col("src"), col("nb").as("na")).hint("SHUFFLE_HASH"),
        Seq("src"))
      .join(adjS.select(col("src").as("dst"), col("nb").as("nv"))
        .hint("SHUFFLE_HASH"), Seq("dst"), "left")
      .select(graft.expr.SortedIntersectCount(col("na"),
        coalesce(col("nv"), array().cast("array<bigint>"))).as("t"))
      .agg(sum(col("t")).as("n_triangles"))
    se.agg(count(lit(1)).as("n_edges")).crossJoin(tri)
  }
}
