package graft.scale

import graft.SparkSpec

class BfsSpec extends SparkSpec {

  /** Symmetrizes, runs k frontier rounds from `src0`, returns
    * node -> dist for every reached node. */
  private def bfs(edges: Seq[(Long, Long)], src0: Long,
                  iters: Int): Map[Long, Int] = {
    import spark.implicits._
    val sym = edges ++ edges.map(_.swap)
    val dist = Bfs.hops(sym.toDF("src", "dst"), Seq(src0).toDF("node"), iters)
    try dist.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    finally CacheRegistry.drain()
  }

  /** In-memory bounded BFS reference over the symmetrized graph. */
  private def reference(edges: Seq[(Long, Long)], src0: Long,
                        iters: Int): Map[Long, Int] = {
    val adj = (edges ++ edges.map(_.swap)).distinct
      .groupBy(_._1).map { case (n, e) => n -> e.map(_._2) }
    var dist = Map(src0 -> 0)
    var frontier = Set(src0)
    (1 to iters).foreach { i =>
      val next = frontier.flatMap(n => adj.getOrElse(n, Nil))
        .filterNot(dist.contains)
      dist = dist ++ next.map(_ -> i)
      frontier = next
    }
    dist
  }

  test("path graph: exact hop distances up to the budget") {
    val path = (0L until 6L).map(i => (i, i + 1))
    assert(bfs(path, 0L, 3) ==
      Map(0L -> 0, 1L -> 1, 2L -> 2, 3L -> 3))
    // full budget reaches the far end
    assert(bfs(path, 0L, 6)(6L) == 6)
  }

  test("disconnected component is never reached") {
    val g = Seq((1L, 2L), (2L, 3L), (10L, 11L))
    val got = bfs(g, 1L, 5)
    assert(got == Map(1L -> 0, 2L -> 1, 3L -> 2))
  }

  test("duplicate and two-path edges collapse to the min distance") {
    // two routes to 4: 1-2-4 and 1-3-4, plus a duplicated edge row
    val g = Seq((1L, 2L), (1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L))
    assert(bfs(g, 1L, 4) == Map(1L -> 0, 2L -> 1, 3L -> 1, 4L -> 2))
  }

  test("matches the in-memory reference on random graphs") {
    val rnd = new scala.util.Random(23)
    for (trial <- 1 to 3) {
      val edges = Seq.fill(60)(
        (rnd.nextInt(25).toLong, rnd.nextInt(25).toLong))
        .filter(e => e._1 != e._2)
      val src0 = edges.head._1
      assert(bfs(edges, src0, 3) == reference(edges, src0, 3),
        s"trial $trial")
    }
  }
}
