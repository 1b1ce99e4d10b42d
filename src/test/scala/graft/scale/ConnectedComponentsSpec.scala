package graft.scale

import graft.SparkSpec
import org.apache.spark.sql.functions._

class ConnectedComponentsSpec extends SparkSpec {

  private def cc(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    import spark.implicits._
    ConnectedComponents.run(edges.toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("two separate components, min id wins as label") {
    val got = cc(Seq((3L, 1L), (1L, 2L), (10L, 11L)))
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("long chain converges past one propagation round (diameter > 1)") {
    // path 9-8-7-...-1: min label must travel the full diameter
    val got = cc((1L to 8L).map(i => (i + 1, i)))
    assert(got == (1L to 9L).map(_ -> 1L).toMap)
  }

  test("cycle and duplicate/self edges are harmless") {
    val got = cc(Seq((1L, 2L), (2L, 3L), (3L, 1L), (2L, 1L), (2L, 2L)))
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("matches brute-force transitive closure on a random graph") {
    val rnd = new scala.util.Random(42)
    val edges = Seq.fill(60)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
    // brute force: repeated relabel over an adjacency map
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    var label = nodes.map(n => n -> n).toMap
    var changed = true
    while (changed) {
      changed = false
      for ((a, b) <- edges) {
        val m = math.min(label(a), label(b))
        if (label(a) != m || label(b) != m) {
          label += a -> m; label += b -> m; changed = true
        }
      }
    }
    assert(cc(edges) == label)
  }

  test("d_cluster groups the planted near-dup pairs transitively") {
    val dir = sf("sf0.001")
    val out = graft.SparkEntry.queries("d_cluster")(spark, dir)
    val rows = out.collect()
    assert(rows.nonEmpty)
    // every cluster: size >= 2, exactly one representative = min id
    val byComp = rows.groupBy(_.getLong(1))
    byComp.foreach { case (comp, members) =>
      assert(members.length >= 2)
      assert(members.map(_.getLong(0)).min == comp)
      assert(members.count(_.getBoolean(3)) == 1)
      assert(members.forall(_.getLong(2) == members.length))
    }
    // clusters are at least as coarse as the pairs: both ends of every
    // verified pair share a component
    val pairs = graft.SparkEntry.queries("d_minhash_lsh")(spark, dir)
      .select(col("ida"), col("idb")).collect()
    val comp = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
    pairs.foreach { p =>
      assert(comp(p.getLong(0)) == comp(p.getLong(1)))
    }
  }

  // --- star-contraction mode: identical contract, O(log d) rounds ---

  private def ccStars(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    import spark.implicits._
    ConnectedComponents.runStars(edges.toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("runStars matches run on components, chain, cycle, self-loops") {
    val fixtures = Seq(
      Seq((3L, 1L), (1L, 2L), (10L, 11L)),
      (1L to 8L).map(i => (i + 1, i)),
      Seq((1L, 2L), (2L, 3L), (3L, 1L), (2L, 1L), (2L, 2L)),
      Seq((5L, 5L), (7L, 8L))) // self-loop-only node must still appear
    fixtures.foreach { edges =>
      assert(ccStars(edges) == cc(edges), s"diverged on $edges")
    }
  }

  test("runStars matches run on a random graph") {
    val rnd = new scala.util.Random(7)
    val edges = Seq.fill(80)((rnd.nextInt(50).toLong, rnd.nextInt(50).toLong))
    assert(ccStars(edges) == cc(edges))
  }

  private def ccAdaptive(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    import spark.implicits._
    ConnectedComponents.runAdaptive(edges.toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("runAdaptive matches run whether the probe converges or not") {
    val fixtures = Seq(
      Seq((3L, 1L), (1L, 2L), (10L, 11L)),   // converges in the probe
      Seq((1L, 2L), (2L, 3L), (3L, 1L), (2L, 1L), (2L, 2L)),
      Seq((5L, 5L), (7L, 8L)))
    fixtures.foreach { edges =>
      assert(ccAdaptive(edges) == cc(edges), s"diverged on $edges")
    }
    val rnd = new scala.util.Random(11)
    val rand = Seq.fill(80)((rnd.nextInt(50).toLong, rnd.nextInt(50).toLong))
    assert(ccAdaptive(rand) == cc(rand))
  }

  test("runAdaptive is CORRECT past min-label's round cap") {
    // the round-7 discovery this mode exists for: a 64-hop chain has
    // diameter > run()'s default 50-round cap, so min-label exits with
    // PARTIAL labels (nodes 53+ keep non-minimal components) — the
    // star phase must still produce the true answer
    val chain = (1L to 64L).map(i => (i + 1, i))
    assert(ccAdaptive(chain) == (1L to 65L).map(_ -> 1L).toMap)
    assert(ccStars(chain) == (1L to 65L).map(_ -> 1L).toMap)
    assert(cc(chain) != (1L to 65L).map(_ -> 1L).toMap,
      "min-label unexpectedly converged past its cap — tighten this test")
  }

  test("runAdaptive pays only probe rounds on a shallow graph, " +
      "probe + log-d star rounds on a deep one") {
    // shallow: star/clique — must converge inside the 4-round probe
    ccAdaptive(Seq((2L, 1L), (3L, 1L), (4L, 1L), (3L, 2L)))
    val shallow = Iterate.last.get().rounds
    assert(shallow <= 4, s"shallow graph took $shallow rounds")
    // deep: 128-hop chain — probe (4) + star rounds on the contracted
    // graph, far under the 129-round diameter min-label would pay
    val deep = (1L to 128L).map(i => (i + 1, i))
    val got = ccAdaptive(deep)
    val rounds = Iterate.last.get().rounds
    assert(got == (1L to 129L).map(_ -> 1L).toMap)
    assert(rounds <= 16, s"adaptive took $rounds rounds on a 128-chain")
  }

  test("runStars signals non-convergence at maxIter instead of " +
      "silently returning wrong labels") {
    import spark.implicits._
    // star contraction folds a path of diameter d in ~log2(d) rounds,
    // so a 256-chain under a 2-round cap CANNOT reach the fixpoint —
    // before the r9 fix this returned direct-neighbor minima with no
    // signal at all (VERDICT r8 item 1, the geo_cluster scale hazard)
    val chain = (1L to 256L).map(i => (i + 1, i))
    val truth = (1L to 257L).map(_ -> 1L).toMap
    val capped = ConnectedComponents
      .runStars(chain.toDF("src", "dst"), maxIter = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(!Iterate.last.get().converged,
      "star loop at a 2-round cap on a 256-chain must flag non-convergence")
    assert(capped != truth,
      "2 star rounds unexpectedly solved a 256-chain — tighten this test")
    // the adaptive wrapper must propagate the flag from its star phase
    ConnectedComponents
      .runAdaptive(chain.toDF("src", "dst"), probeRounds = 2, maxIter = 2)
      .collect()
    assert(!Iterate.last.get().converged,
      "runAdaptive must surface its star phase's non-convergence")
    // and a sufficient cap restores both the flag and the answer
    assert(ccStars(chain) == truth)
    assert(Iterate.last.get().converged)
  }

  test("runStars converges in O(log d) rounds on a long chain") {
    // a 64-hop path: min-label pays the full diameter (~64 rounds,
    // capped by maxIter); star contraction must fold it fast
    val edges = (1L to 64L).map(i => (i + 1, i))
    val got = ccStars(edges)
    val starRounds = Iterate.last.get().rounds
    assert(got == (1L to 65L).map(_ -> 1L).toMap)
    assert(starRounds <= 12,
      s"star contraction took $starRounds rounds on a 64-chain")
    cc(edges)
    val labelRounds = Iterate.last.get().rounds
    assert(starRounds < labelRounds,
      s"star ($starRounds) did not beat min-label ($labelRounds) on the chain")
  }

  test("a round that fails releases the symmetrized edge list") {
    // a non-numeric id fails the long cast (ANSI) when round one runs;
    // a range, not a local relation, so planning cannot fold the cast
    val bad = spark.range(4).select(
      when(col("id") === 3, lit("x")).otherwise(col("id").cast("string")).as("src"),
      (col("id") + 1).as("dst"))
    def cached = org.apache.spark.sql.graft.CachedPlans.count(spark)
    for ((name, op) <- Seq[(String, () => Unit)](
        "run" -> (() => ConnectedComponents.run(bad)),
        "runAdaptive" -> (() => ConnectedComponents.runAdaptive(bad)))) {
      val before = cached
      intercept[Exception](op())
      assert(cached <= before, s"$name left ${cached - before} cached plan(s) behind")
    }
  }
}
