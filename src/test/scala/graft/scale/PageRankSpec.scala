package graft.scale

import graft.SparkSpec

class PageRankSpec extends SparkSpec {

  /** Runs k rounds over `edges`, releases the pinned intermediates,
    * returns node->rank. */
  private def ranks(edges: org.apache.spark.sql.DataFrame, iters: Int,
                    symmetric: Boolean = false,
                    broadcastRanks: Boolean = false): Map[Long, Long] = {
    val r = PageRank.run(edges, iters, symmetric = symmetric,
      broadcastRanks = broadcastRanks)
    try r.collect().map(row => row.getLong(0) -> row.getLong(1)).toMap
    finally CacheRegistry.drain()
  }

  /** Undirected helper: symmetrizes, runs k rounds, returns node->rank. */
  private def pr(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
    import spark.implicits._
    ranks((edges ++ edges.map(_.swap)).toDF("src", "dst"), iters)
  }

  /** In-memory reference of the exact integer recurrence (directed
    * edge list; node set = sources, matching the operator contract). */
  private def referenceDirected(edges: Seq[(Long, Long)],
                                iters: Int): Map[Long, Long] = {
    val es = edges.distinct
    val od = es.groupBy(_._1).map { case (n, e) => n -> e.size.toLong }
    var rank = od.keys.map(_ -> 1000000L).toMap
    (1 to iters).foreach { _ =>
      val acc = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
      es.foreach { case (s, d) => acc(d) += rank(s) / od(s) }
      // every SOURCE node keeps a rank — zero in-flow = teleport floor
      rank = od.keys.map(n => n -> (150000L + (850L * acc(n)) / 1000L)).toMap
    }
    rank
  }

  private def reference(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] =
    referenceDirected(edges ++ edges.map(_.swap), iters)

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

  test("duplicate edges collapse (multi-edges carry no extra weight)") {
    val once = pr(Seq((1L, 2L), (2L, 3L)), 3)
    val dup = pr(Seq((1L, 2L), (1L, 2L), (2L, 3L), (2L, 3L)), 3)
    assert(once == dup)
  }

  test("symmetric=true is a pure fast path on symmetrized graphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val base = Seq.fill(40)((rnd.nextInt(15).toLong, rnd.nextInt(15).toLong))
      .filter(e => e._1 != e._2)
    val sym = (base ++ base.map(_.swap)).toDF("src", "dst")
    val slow = ranks(sym, 4)
    val fast = ranks(sym, 4, symmetric = true)
    assert(fast == slow)
  }

  test("directed graph: a source with no in-edges keeps the teleport floor") {
    import spark.implicits._
    // 0 -> 1, 1 -> 2, 2 -> 1: node 0 never receives, but must stay in
    // the output at floor rank and keep feeding node 1 every round
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 1L))
    val got = ranks(edges.toDF("src", "dst"), 5)
    val ref = referenceDirected(edges, 5)
    assert(got == ref, s"directed ranks diverged: $got vs $ref")
    assert(got(0L) == 150000L, "in-degree-0 source must sit at the floor")
    assert(got.keySet == Set(0L, 1L, 2L))
    // node 1 outranks node 2: it receives from both 0 and 2
    assert(got(1L) > got(2L))
  }

  test("broadcastRanks == shuffle mode, and adds ZERO exchanges per round") {
    import spark.implicits._
    val edges = ((1L to 40L).map(i => (i, i % 40 + 1)) ++
      (1L to 40L).map(i => (i % 40 + 1, i))).toDF("src", "dst")
    assert(ranks(edges, 4, symmetric = true) ==
      ranks(edges, 4, symmetric = true, broadcastRanks = true))
    // the structural claim: in broadcast mode each extra round adds
    // EXACTLY ONE shuffle exchange (the edge-keyed contribution agg)
    // and nothing else — the rank side rides a broadcast, never a
    // shuffle or sort. Distinct plan_ids, because the cached edge
    // subtree's build-time exchanges are REPRINTED under every
    // InMemoryTableScan reference. (Zero per round is not reachable:
    // an AQE-planned cached relation does not propagate output
    // partitioning, so pre-partitioning the cache cannot feed the
    // aggregation's distribution requirement.)
    def exchanges(iters: Int): Int = {
      val r = PageRank.run(edges, iters, symmetric = true,
        broadcastRanks = true)
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
