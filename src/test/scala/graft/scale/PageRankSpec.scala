package graft.scale

import graft.SparkSpec

class PageRankSpec extends SparkSpec {

  /** The caller's side of the contract: the out-degree edge frame,
    * pinned for the query like the purchase-graph memo. */
  private def eo(edges: org.apache.spark.sql.DataFrame) =
    CacheRegistry.pin(PageRank.edgesWithOutdeg(edges))

  /** Undirected helper: symmetrizes, runs k rounds, releases the
    * pinned frames, returns node->rank. */
  private def pr(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
    import spark.implicits._
    val sym = (edges ++ edges.map(_.swap)).distinct.toDF("src", "dst")
    val r = PageRank.run(eo(sym), iters)
    try r.collect().map(row => row.getLong(0) -> row.getLong(1)).toMap
    finally CacheRegistry.drain()
  }

  /** In-memory reference of the exact integer recurrence over the
    * symmetrized edge list. */
  private def reference(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
    val es = (edges ++ edges.map(_.swap)).distinct
    val od = es.groupBy(_._1).map { case (n, e) => n -> e.size.toLong }
    var rank = od.keys.map(_ -> 1000000L).toMap
    (1 to iters).foreach { _ =>
      val acc = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
      es.foreach { case (s, d) => acc(d) += rank(s) / od(s) }
      rank = od.keys.map(n => n -> (150000L + (850L * acc(n)) / 1000L)).toMap
    }
    rank
  }

  test("matches the in-memory integer recurrence on a random graph") {
    val rnd = new scala.util.Random(7)
    val edges = Seq.fill(80)((rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
      .filter(e => e._1 != e._2)
    assert(pr(edges, 5) == reference(edges, 5))
  }

  test("star hub outranks every leaf") {
    val star = (1L to 8L).map(i => (0L, i))
    val got = pr(star, 5)
    val hub = got(0L)
    (1L to 8L).foreach(i => assert(got(i) < hub,
      s"leaf $i rank ${got(i)} >= hub rank $hub"))
    // leaves are symmetric — identical rank
    assert((1L to 8L).map(got).distinct.size == 1)
  }

  test("ranks stay within the mass bounds of the damped update") {
    val rnd = new scala.util.Random(11)
    val edges = Seq.fill(50)((rnd.nextInt(20).toLong, rnd.nextInt(20).toLong))
      .filter(e => e._1 != e._2)
    val got = pr(edges, 5)
    // every rank >= the teleport floor; truncation only bleeds mass
    // downward, so the total never exceeds n * 1e6
    got.values.foreach(r => assert(r >= 150000L))
    assert(got.values.sum <= got.size * 1000000L)
  }

  test("each extra rank round adds exactly one exchange") {
    import spark.implicits._
    val edges = ((1L to 40L).map(i => (i, i % 40 + 1)) ++
      (1L to 40L).map(i => (i % 40 + 1, i))).toDF("src", "dst")
    // the structural claim: with broadcast ranks each extra round adds
    // EXACTLY ONE shuffle exchange (the edge-keyed contribution agg)
    // and nothing else — the rank side rides a broadcast, never a
    // shuffle or sort. Distinct plan_ids, because the cached edge
    // subtree's build-time exchanges are REPRINTED under every
    // InMemoryTableScan reference. (Zero per round is not reachable:
    // an AQE-planned cached relation does not propagate output
    // partitioning, so pre-partitioning the cache cannot feed the
    // aggregation's distribution requirement.)
    def exchanges(iters: Int): Int = {
      val r = PageRank.run(eo(edges), iters)
      val n = r.queryExecution.executedPlan.toString.linesIterator
        .filter(l => l.contains("Exchange") && !l.contains("Broadcast"))
        .flatMap(l => "plan_id=(\\d+)".r.findFirstMatchIn(l).map(_.group(1)))
        .toSet.size
      CacheRegistry.drain()
      n
    }
    val e2 = exchanges(2)
    val e6 = exchanges(6)
    assert(e6 - e2 == 4,
      s"expected exactly one added exchange per round: $e2 at 2 iters vs $e6 at 6")
  }
}
