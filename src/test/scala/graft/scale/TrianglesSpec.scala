package graft.scale

import graft.SparkSpec

class TrianglesSpec extends SparkSpec {

  /** (n_nodes, n_edges, n_wedges, n_triangles, clustering) */
  private def stats(edges: Seq[(Long, Long)]): (Long, Long, Long, Long, Double) = {
    import spark.implicits._
    val r = TriangleStats(edges.toDF("a", "b")).collect().head
    (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))
  }

  /** Brute-force reference on canonical (a < b) edge sets. */
  private def brute(edges: Seq[(Long, Long)]): (Long, Long, Long, Long) = {
    val es = edges.toSet
    val nodes = es.flatMap(e => Seq(e._1, e._2))
    val deg = nodes.map(v => v -> es.count(e => e._1 == v || e._2 == v)).toMap
    val wedges = deg.values.map(d => d.toLong * (d - 1) / 2).sum
    val ns = nodes.toSeq.sorted
    val tri = (for {
      i <- ns.indices; j <- (i + 1) until ns.size; k <- (j + 1) until ns.size
      if es((ns(i), ns(j))) && es((ns(i), ns(k))) && es((ns(j), ns(k)))
    } yield 1).size.toLong
    (nodes.size.toLong, es.size.toLong, wedges, tri)
  }

  test("single triangle") {
    assert(stats(Seq((1L, 2L), (1L, 3L), (2L, 3L))) == (3L, 3L, 3L, 1L, 1.0))
  }

  test("K4: four triangles, clustering 1.0") {
    val k4 = for (i <- 1L to 4L; j <- (i + 1) to 4L) yield (i, j)
    assert(stats(k4) == (4L, 6L, 12L, 4L, 1.0))
  }

  test("4-cycle: wedges but no triangles") {
    assert(stats(Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L))) ==
      (4L, 4L, 4L, 0L, 0.0))
  }

  test("star hub: zero triangles despite the skewed degree") {
    val star = (1L to 20L).map(i => (0L, i))
    val (n, m, w, t, c) = stats(star)
    assert((n, m, t, c) == (21L, 20L, 0L, 0.0))
    assert(w == 20L * 19L / 2)
  }

  test("single edge: no wedges, clustering reports 0.0 (not NaN)") {
    assert(stats(Seq((5L, 9L))) == (2L, 1L, 0L, 0L, 0.0))
  }

  test("matches brute force on random graphs (orientation-invariant)") {
    val rnd = new scala.util.Random(13)
    for (trial <- 1 to 3) {
      val n = 12 + trial * 6
      val edges = (for {
        i <- 0L until n; j <- (i + 1) until n if rnd.nextDouble() < 0.25
      } yield (i, j)).toSeq
      val (bn, bm, bw, bt) = brute(edges)
      val (gn, gm, gw, gt, _) = stats(edges)
      assert((gn, gm, gw, gt) == (bn, bm, bw, bt), s"trial $trial")
    }
  }

  test("DOULION sampled estimate lands within 10% of exact (g_triangle_approx)") {
    // the gated row's accuracy claim, pinned against the live fixture:
    // p = 0.3 on a 126k-triangle graph gives rel. std ~ 1.7%, so 10%
    // is a ~6-sigma band — deterministic sample, so this cannot flake
    val dir = sf("sf0.001")
    val approx = graft.queries.AnalyticsPack
      .queries("g_triangle_approx")(spark, dir).head()
    graft.scale.CacheRegistry.drain()
    val exact = graft.queries.AnalyticsPack
      .queries("g_triangle_count")(spark, dir).head().getAs[Long]("n_triangles")
    graft.scale.CacheRegistry.drain()
    val est = approx.getAs[Long]("t_est")
    val relErr = math.abs(est - exact).toDouble / exact
    assert(relErr < 0.10,
      f"estimate $est vs exact $exact: rel err $relErr%.3f")
    // the sample really is a ~30% edge subset
    val full = approx.getAs[Long]("n_edges_full")
    val sampled = approx.getAs[Long]("n_sampled_edges")
    assert(sampled > full / 5 && sampled < full / 2, s"$sampled of $full")
  }
}
