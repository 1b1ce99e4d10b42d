package graft.scale

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed k-core decomposition (peeling) — the fourth iterative
  * graph operator next to [[ConnectedComponents]], [[PageRank]] and
  * [[Bfs]]. The k-core is the maximal subgraph where every node has
  * degree >= k inside the subgraph; it is the standard graph-density
  * filter (spam/bot ring detection on interaction graphs, dense
  * community seeds on co-occurrence graphs) and the usual preprocessor
  * before expensive per-node analytics — a node outside the 3-core
  * cannot be in any triangle-rich region.
  *
  * Algorithm: synchronous peel to fixpoint. Each round recomputes
  * degrees over the SURVIVING edge list (one explode + map-side-
  * combinable count — shuffle volume O(|V|)), then keeps edges whose
  * BOTH endpoints still clear k (two hash joins against the node-sized
  * degree frame keyed on each endpoint). Rounds = peel depth of the
  * graph (the number of "onion layers" above the core), NOT the node
  * count — dense co-occurrence graphs peel in ~10 rounds. The round
  * loop is [[Iterate]]'s: the edge frame is cut each round and the
  * surviving-edge count rides the cut as an `observe()` metric, so
  * convergence costs no extra job — edge counts strictly decrease
  * until fixpoint. A peel deeper than `maxIter` returns a PARTIAL core
  * (a superset of the k-core) and prints the cap warning.
  */
object KCore {

  /** Edges of the k-core of an undirected graph.
    *
    * @param edges canonical undirected edge list (`a` < `b`, no
    *              duplicates — a groupBy-derived co-occurrence list
    *              guarantees both)
    * @return the surviving edges, same (a, b) canonical form
    */
  def edges(edges: DataFrame, k: Int, maxIter: Int = 100): DataFrame = {
    val e = edges.select(col("a").cast("long").as("a"),
      col("b").cast("long").as("b"))
    val probe = Seq(count(lit(1)).as("n"))
    Iterate.untilStable("kcore", e, maxIter, probe) { (cur, _) =>
      val ok = cur.select(explode(array(col("a"), col("b"))).as("v"))
        .groupBy(col("v")).agg(count(lit(1)).as("d"))
        .filter(col("d") >= k)
        .select(col("v"))
      cur
        .join(ok.select(col("v").as("a")), "a", "left_semi")
        .join(ok.select(col("v").as("b")), "b", "left_semi")
        .select(col("a"), col("b"))
    }
  }

  /** (node, core_deg) for every node of the k-core — degree counted
    * inside the core subgraph. */
  def nodeDegrees(edgeList: DataFrame, k: Int): DataFrame =
    edges(edgeList, k)
      .select(explode(array(col("a"), col("b"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("core_deg"))
}
