package graft.scale

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed single-source BFS (exact hop distances, fixed round
  * budget) — the fourth graph operator next to [[ConnectedComponents]],
  * [[PageRank]] and [[Triangles]]. Reachability radius / hop histogram
  * queries over interaction graphs ("how far is everything from this
  * account / this seed set").
  *
  * FRONTIER-based: round i expands only the nodes first reached in
  * round i−1, not the whole visited set — the per-round join cost is
  * O(edges incident to the frontier). A full-relax formulation
  * (re-expanding every visited node each round, what the unrolled-SQL
  * oracle does) is wrong at scale: its round-i cost is the whole
  * i-hop ball. Both compute the same exact distances — the frontier
  * induction is the textbook BFS invariant — which is what lets the
  * oracle use the simple form while the engine ships the incremental
  * one.
  *
  * ONE exchange per round: the round-4 shape paid two (`distinct` on
  * the expanded candidates, then a `left_anti` against the visited
  * set, each shuffling on the node id). Both are the same
  * "first-reach wins" selection, so they fuse into a single
  * map-side-combinable aggregate: union the candidate stream
  * (dist = i) with the visited set (dist < i), take min(dist) per
  * node, keep rows where the min is i — exactly the nodes first
  * reached this round. Candidate duplicates collapse in the partial
  * aggregate BEFORE the shuffle, where the old distinct exchanged
  * them; the visited set rides the same exchange the anti-join would
  * have needed anyway. The frontier⋈edges expansion itself needs no
  * edge shuffle: the frontier is at most the node set, orders of
  * magnitude under the edge list, so AQE broadcasts it against the
  * cached edges every round.
  *
  * Fixed `iters`, no convergence probe, same contract as
  * [[PageRank]]: the oracle must replay the exact rounds, and the
  * caller picks a budget ≥ the diameter of interest; nodes beyond it
  * report unreached. Lineage grows linearly in rounds (each dist is
  * the union of the previous dist and one join) — fine for the small
  * fixed budgets every caller uses.
  */
object Bfs {

  /** Hop distance from `source` to every reachable node within
    * `iters` hops.
    *
    * @param e      the caller's (src: long, dst: long) edge frame
    *               (symmetrize for undirected graphs; duplicate edges
    *               are harmless, the per-round min-agg collapses them).
    *               Every round re-reads it, so the caller persists it
    *               and owns its lifetime (the purchase-graph family
    *               shares one session memo across queries)
    * @param source one-row frame with a `node` column — kept as a
    *               frame (not a driver-side scalar) so seed derivation
    *               stays inside the lazy plan
    * @param iters  fixed number of expansion rounds
    * @return (node, dist) for every node within `iters` hops of the
    *         source, dist in [0, iters]. The intermediates stay pinned
    *         in [[CacheRegistry]] until the caller's drain after its
    *         action
    */
  def hops(e: DataFrame, source: DataFrame, iters: Int): DataFrame = {
    import CacheRegistry.pin
    // Pin each round's FRESH set only (read by the next round's
    // expansion and every later round's min-agg); `dist` stays a lazy
    // union over the pinned pieces — round 4 additionally pinned every
    // dist_i, storing dist_{i-1} twice per round for no reader.
    var frontier = pin(source.select(col("node").cast("long").as("node"))
      .withColumn("dist", lit(0)))
    var dist = frontier
    for (i <- 1 to iters) {
      val candidates = frontier
        .join(e, frontier("node") === e("src"))
        .select(col("dst").as("node"), lit(i).as("dist"))
      // first-reach-wins in ONE exchange: min over (candidates @ i ∪
      // visited @ <i); survivors of the filter are this round's fresh
      val fresh = pin(candidates.unionByName(dist)
        .groupBy(col("node")).agg(min(col("dist")).as("dist"))
        .filter(col("dist") === i))
      dist = dist.unionByName(fresh)
      frontier = fresh
    }
    dist
  }
}
