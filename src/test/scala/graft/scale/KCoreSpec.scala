package graft.scale

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Known-answer k-core tests on a hand-built graph, plus the internal
  * degree invariant on live data. The gate row (g_kcore) proves
  * cross-engine equality of the full peel; these pin the SEMANTICS on
  * structures where the correct core is obvious by inspection.
  */
class KCoreSpec extends SparkSpec {

  // path 1-2-3-4 | triangle 5,6,7 | 4-clique 8,9,10,11 with pendant 12
  private def fixture = {
    import spark.implicits._
    Seq((1L, 2L), (2L, 3L), (3L, 4L),
      (5L, 6L), (5L, 7L), (6L, 7L),
      (8L, 9L), (8L, 10L), (8L, 11L), (9L, 10L), (9L, 11L), (10L, 11L),
      (8L, 12L)).toDF("a", "b")
  }

  test("2-core keeps the triangle and the clique, drops path + pendant") {
    val nodes = KCore.edges(fixture, 2)
      .select(explode(array(col("a"), col("b"))).as("v"))
      .distinct().collect().map(_.getLong(0)).toSet
    assert(nodes === Set(5L, 6L, 7L, 8L, 9L, 10L, 11L))
  }

  test("3-core keeps exactly the 4-clique") {
    val nodes = KCore.edges(fixture, 3)
      .select(explode(array(col("a"), col("b"))).as("v"))
      .distinct().collect().map(_.getLong(0)).toSet
    assert(nodes === Set(8L, 9L, 10L, 11L))
  }

  test("4-core of the fixture is empty") {
    assert(KCore.edges(fixture, 4).isEmpty)
  }

  test("a peel deeper than maxIter reports its cap; the default cap reaches the empty core") {
    import spark.implicits._
    // path 1-2-...-11: every round peels the two end edges, so the
    // 2-core is empty after 5 rounds and the 6th sees no change
    val path = (1L to 10L).map(i => (i, i + 1)).toDF("a", "b")
    val err = new java.io.ByteArrayOutputStream()
    val stderr = System.err
    System.setErr(new java.io.PrintStream(err, true))
    val capped =
      try KCore.edges(path, 2, maxIter = 2).count()
      finally System.setErr(stderr)
    assert(capped == 6L)
    assert(Iterate.last.get() == Iterate.Record(2, converged = false))
    assert(err.toString.contains("[iterate] WARNING kcore"),
      s"no cap warning on stderr: $err")
    assert(KCore.edges(path, 2).isEmpty)
    assert(Iterate.last.get() == Iterate.Record(6, converged = true))
  }

  test("every core node clears k inside the core (live data)") {
    val e = graft.io.Tables(spark, sf("sf0.001"), "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_set(col("l_partkey"))).as("ps"))
      .select(explode(expr(
        """flatten(transform(ps, (x, i) ->
          |  transform(slice(ps, i + 2, size(ps)),
          |    y -> struct(x AS a, y AS b))))""".stripMargin)).as("p"))
      .select(col("p.a"), col("p.b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("n"))
      .filter(col("n") >= 2).select(col("a"), col("b"))
    val bad = KCore.nodeDegrees(e, 3).filter(col("core_deg") < 3).count()
    assert(bad === 0L)
  }
}
