package graft.scale

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Distributed PageRank over an edge list in EXACT integer arithmetic —
  * the second iterative graph operator next to [[ConnectedComponents]]
  * (the reference has no graph operators at all; this is extension
  * surface for corpus/link analytics: domain authority for web-crawl
  * curation, influence ranking over interaction graphs).
  *
  * Ranks are held in MILLIONTHS (micro-rank, bigint). One iteration:
  *
  *   contrib(u)  = rank(u) div outdeg(u)            -- integer division
  *   rank'(v)    = 150000 + (850 * Σ contrib(u→v)) div 1000
  *
  * i.e. the standard damping-0.85 update with every operation integral.
  * Why integers: a double PageRank's partial-aggregation order changes
  * the sum's last ulp across partitionings, so no exact cross-engine
  * oracle can pin it; bigint sums are associative and commutative, so
  * the result is bit-identical in any engine that implements the same
  * recurrence (the DuckDB oracle unrolls the same rounds). Truncation
  * bleeds at most outdeg(u)-1 micro-units per node per round — an
  * ε-perturbation of standard PageRank, far below ranking resolution.
  *
  * Fixed iteration count, no convergence test: the oracle must replay
  * the exact rounds, and at scale a fixed small k (graphs of interest
  * here have small effective diameter) beats a driver-side convergence
  * probe per round anyway.
  *
  * Scale mechanics (mirrors ConnectedComponents): per-round state is
  * one 16-byte (node, rank) row per vertex; the edge list with
  * pre-joined out-degrees is persisted once and re-joined each round
  * (one shuffle keyed on dst, map-side combinable bigint sum).
  * Unlike the CC loop (unbounded rounds, convergence-tested), a small
  * FIXED k chains all rounds into ONE lazily-planned job — no per-round
  * materialization barrier; the persisted edge list is computed in the
  * first round's stages and served from cache in the rest, and AQE
  * sizes each round's join from the previous stage's runtime stats
  * (the node-state side broadcasts here; at billion-node scale it
  * stays a shuffled join and the edge partitioning is reused). Warm
  * repeats at sf0.1 run ~30% faster fused than with per-round
  * `localCheckpoint`; cold runs are scheduling-dominated either way
  * (~12-15 AQE stages for 5 rounds). Plan depth (and stage-retry
  * recompute span) grows linearly with k — fine for the small fixed k
  * every caller uses.
  */
object PageRank {

  /** The edge list with per-src out-degree attached — the frame every
    * rank round re-joins. Exposed so callers sharing ONE graph across
    * several rank queries (the purchase-graph family) can build it
    * once, persist it themselves, and pass it via `pinnedEo` (r14
    * optimization round); lifetime is then the CALLER's contract. */
  def edgesWithOutdeg(edges: DataFrame, src: String = "src",
                      dst: String = "dst",
                      assumeDistinct: Boolean = false): DataFrame = {
    val e0 = edges
      .select(col(src).cast("long").as("src"), col(dst).cast("long").as("dst"))
    val e = if (assumeDistinct) e0 else e0.distinct()
    e.withColumn("od", count(lit(1)).over(Window.partitionBy(col("src"))))
  }

  /** @param edges directed edge list with integral `src`/`dst` node id
    *              columns (duplicates are collapsed); every node must
    *              have at least one outgoing edge (symmetrize the input
    *              for undirected graphs — that also removes dangling
    *              nodes, which this exact-integer formulation does not
    *              redistribute)
    * @param iters fixed number of update rounds
    * @param assumeDistinct skip the defensive edge dedup when the
    *                       caller's construction already guarantees
    *                       distinct (src, dst) pairs — saves one full
    *                       shuffle of the edge list
    * @param symmetric caller asserts every source also appears as a
    *                  destination (true for any symmetrized/undirected
    *                  graph) — skips the eager no-inflow probe, which
    *                  is otherwise a full dst-distinct + anti-join job
    *                  run before the rank rounds even start
    * @param broadcastRanks broadcast the node-rank side of each round
    *                       instead of shuffling it
    * @param pinnedEo caller-persisted [[edgesWithOutdeg]] frame; skips
    *                 this call's own edge pin
    * @return (node, rank) — rank in micro-units; initial rank 1e6 — and
    *         the handle of the intermediates left persisted, which the
    *         caller releases once the result has been acted on (a
    *         long-lived session otherwise accumulates cached partitions
    *         until LRU pressure clears them)
    */
  def runTracked(edges: DataFrame, iters: Int,
                 src: String = "src", dst: String = "dst",
                 assumeDistinct: Boolean = false,
                 symmetric: Boolean = false,
                 broadcastRanks: Boolean = false,
                 pinnedEo: Option[DataFrame] = None)
      : (DataFrame, CacheRegistry.Handle) = {
    val persisted = Seq.newBuilder[DataFrame]
    def pin(df: DataFrame): DataFrame = {
      persisted += df
      df.persist(StorageLevel.MEMORY_AND_DISK)
    }
    // Carry outdeg on the edge via a window count over src: ONE exchange
    // of the edge list (which also becomes the cache's partitioning, so
    // no per-round re-shuffle of eo), where the groupBy+self-join
    // formulation shuffled the edge list twice and left the derivation
    // subtree duplicated across the join's sides. The window's
    // all-rows-of-a-src-in-one-task placement adds no skew hazard the
    // per-round join didn't already have — the rank join shuffles by
    // src identically.
    //
    // broadcastRanks (GraphFrames' broadcast aggregateMessages mode):
    // when the NODE SET is dimension-sized (true for the purchase
    // graph's customers+suppliers; NOT for web-scale node sets — the
    // default stays the shuffle path), the per-round rank frame is
    // BROADCAST instead of shuffled: the rank join becomes a
    // broadcast hash join over the edge cache with no sort and no
    // rank-side exchange. The per-round contribution aggregation
    // still pays its ONE edge-keyed exchange — pre-partitioning the
    // cache by dst cannot remove it, because an AQE-planned cached
    // relation does not propagate its output partitioning
    // (PageRankSpec pins the exactly-one-exchange-per-round shape).
    // The recurrence and results are identical either way.
    val eo = pinnedEo.getOrElse(
      pin(edgesWithOutdeg(edges, src, dst, assumeDistinct)))
    // Node set read FROM the edge cache (partitioned by src, so the
    // distinct is exchange-free) — deriving it from the raw input
    // upstream of the cache re-ran the full scans once per action.
    val nodes = pin(eo.select(col("src").as("node")).distinct())
    // Nodes with out-edges but NO in-edges never receive contributions:
    // dropping them (what a bare inner join + groupBy does) silently
    // removes them from the output AND loses their outgoing flow from
    // round 2 on — wrong ranks on directed graphs. The set is STATIC,
    // so it is computed once; from round 1 onward each such node sits
    // at the teleport floor, so a constant-rank union restores it each
    // round at node-set (not edge-set) cost. Symmetric/undirected
    // graphs have an empty set and skip the union entirely. (Under the
    // documented contract dst ⊆ src, so the received-keys set is
    // always a subset of `nodes` and the union is exactly the
    // left-join-with-floor formulation.)
    val noInflow =
      if (symmetric) nodes.limit(0).withColumn("rank", lit(150000L))
      else pin(nodes
        .join(eo.select(col("dst").as("node")).distinct(), Seq("node"),
          "left_anti")
        .withColumn("rank", lit(150000L)))
    val hasNoInflow = !symmetric && noInflow.limit(1).count() > 0
    var ranks = nodes.withColumn("rank", lit(1000000L))
    for (_ <- 1 to iters) {
      val rsrc = ranks.withColumnRenamed("node", "src")
      val received = eo
        .join(if (broadcastRanks) broadcast(rsrc) else rsrc, "src")
        .select(col("dst").as("node"), expr("rank div od").as("c"))
        .groupBy(col("node"))
        .agg((lit(150000L) + expr("(850 * sum(c)) div 1000")).as("rank"))
      ranks = if (hasNoInflow) received.unionByName(noInflow) else received
    }
    // NOTE: the pinned intermediates stay persisted until the caller's
    // action has run (an unpersist here would evict before the lazy
    // plan executes) — hence the handles in the return value.
    (ranks, CacheRegistry.handle(persisted.result()))
  }

  /** PERSONALIZED PageRank: the teleport mass lands only on `seeds`
    * instead of uniformly — rank'(v) = base(v) + (850·Σ contrib) div
    * 1000 with base(v) = 150000·|V| div |S| for v ∈ S, else 0 (total
    * teleport mass preserved vs the uniform recurrence, every
    * operation integral — same cross-engine bit-exactness contract as
    * [[runTracked]]). THE relevance-propagation primitive: "important
    * near THESE nodes" (seed-biased crawl frontiers, related-entity
    * ranking) rather than global authority.
    *
    * Same scale mechanics as the uniform loop. Two extra bounded
    * actions up front (|V| and |S| counts — node-sized aggregates);
    * the per-round shape gains only a BROADCAST left join against the
    * seed-base frame (base is zero off-seed, and the symmetrized
    * input guarantees every node a flow row, so no full-node base
    * frame is ever shuffled).
    *
    * Contract: `seeds` ⊆ the graph's source-node set; graph
    * symmetrized like [[runTracked]]'s `symmetric = true` input.
    */
  def runPersonalizedTracked(edges: DataFrame, seeds: DataFrame, iters: Int,
                             src: String = "src", dst: String = "dst",
                             assumeDistinct: Boolean = false,
                             broadcastRanks: Boolean = false,
                             pinnedEo: Option[DataFrame] = None)
      : (DataFrame, CacheRegistry.Handle) = {
    val persisted = Seq.newBuilder[DataFrame]
    def pin(df: DataFrame): DataFrame = {
      persisted += df
      df.persist(StorageLevel.MEMORY_AND_DISK)
    }
    val eo = pinnedEo.getOrElse(
      pin(edgesWithOutdeg(edges, src, dst, assumeDistinct)))
    val nodes = pin(eo.select(col("src").as("node")).distinct())
    val sd = pin(seeds.select(col("node").cast("long").as("node")).distinct())
    val nNodes = nodes.count()
    val nSeeds = sd.count()
    require(nSeeds > 0, "personalized PageRank needs a non-empty seed set")
    val perSeed = 150000L * nNodes / nSeeds
    // base(v) is nonzero ONLY on seeds, and on a symmetrized graph
    // (the documented input contract) every node receives flow every
    // round — so rank = coalesce(seed base, 0) + damped flow needs a
    // BROADCAST left join against the seed set, not the round-4 shape
    // (a full node-keyed base frame left-joined per round: 5 extra
    // node-cardinality shuffle joins that profiling flagged as the
    // round's cost driver). PPR seed sets are small by definition —
    // that is what makes the walk "personalized"; a caller with a
    // dimension-sized seed set still works, it just broadcasts more.
    val seedBase = broadcast(sd.withColumn("base", lit(perSeed)))
    var ranks = nodes.withColumn("rank", lit(1000000L))
    for (_ <- 1 to iters) {
      val rsrc = ranks.withColumnRenamed("node", "src")
      ranks = eo
        .join(if (broadcastRanks) broadcast(rsrc) else rsrc, "src")
        .select(col("dst").as("node"), expr("rank div od").as("c"))
        .groupBy(col("node"))
        .agg(expr("(850 * sum(c)) div 1000").as("fl"))
        .join(seedBase, Seq("node"), "left")
        .select(col("node"),
          (coalesce(col("base"), lit(0L)) + col("fl")).as("rank"))
    }
    (ranks, CacheRegistry.handle(persisted.result()))
  }
}
