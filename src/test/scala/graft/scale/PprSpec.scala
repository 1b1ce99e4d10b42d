package graft.scale

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Personalized PageRank contracts. The g_ppr gate row proves
  * cross-engine bit-equality of the 5 personalized rounds; these pin
  * the recurrence's two defining properties.
  */
class PprSpec extends SparkSpec {

  // small symmetric graph: 4-cycle 1-2-3-4 plus pendant pair 5-6
  // attached at 1 (symmetrized edge list)
  private def edges = {
    import spark.implicits._
    val und = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (1L, 5L), (5L, 6L))
    (und ++ und.map(_.swap)).toDF("src", "dst")
  }

  test("seeding every node reproduces uniform PageRank exactly") {
    // base = 150000·|V| div |V| = 150000 — the uniform teleport term,
    // so the personalized recurrence must collapse to the standard one
    val all = edges.select(col("src").as("node")).distinct()
    // each run released before the next pins an equal edge frame
    val (pers, h1) = PageRank.runPersonalizedTracked(edges, all, 5)
    val a = pers.orderBy("node").collect().map(r => (r.getLong(0), r.getLong(1)))
    h1.release()
    val (unif, h2) = PageRank.runTracked(edges, 5, symmetric = true)
    val b = unif.orderBy("node").collect().map(r => (r.getLong(0), r.getLong(1)))
    h2.release()
    assert(a.toSeq === b.toSeq)
  }

  test("rank concentrates at and around the seed") {
    import spark.implicits._
    val seeds = Seq(6L).toDF("node") // the far pendant tip
    val (pers, h) = PageRank.runPersonalizedTracked(edges, seeds, 5)
    val ranks = pers.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    h.release()
    // the seed's side of the graph outranks the antipode (node 3) —
    // note the seed itself need not top the list: degree-1 seed 6
    // pours its whole outflow into 5, which also drains mass from 1
    assert(ranks(6L) > ranks(3L) && ranks(5L) > ranks(3L),
      s"seed side should beat the antipode: $ranks")
    assert(ranks(6L) > ranks(4L) && ranks(6L) > ranks(2L),
      s"seed should beat the non-adjacent cycle nodes: $ranks")
  }
}
