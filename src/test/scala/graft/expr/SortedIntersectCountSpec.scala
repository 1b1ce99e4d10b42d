package graft.expr

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** SortedIntersectCount must agree exactly with the
  * size(array_intersect(...)) formulation it replaced in the triangle
  * census hot loop — on its declared domain (sorted, duplicate-free
  * long arrays), including the empty/sink-side shapes the census
  * produces. */
class SortedIntersectCountSpec extends SparkSpec {

  test("merge count == size(array_intersect) on random sorted sets") {
    // random duplicate-free sorted arrays generated IN Spark — the
    // same distinct+sort shape the adjacency build emits
    val pairs = spark.range(500).select(
      expr("""sort_array(array_distinct(transform(
        |  sequence(1, cast(1 + pmod(xxhash64(id, 1), 20) as int)),
        |  i -> pmod(xxhash64(id, i, 2), 30))))""".stripMargin).as("xs"),
      expr("""sort_array(array_distinct(transform(
        |  sequence(1, cast(1 + pmod(xxhash64(id, 3), 20) as int)),
        |  i -> pmod(xxhash64(id, i, 4), 30))))""".stripMargin).as("ys"))
    val diff = pairs.select(
        SortedIntersectCount(col("xs"), col("ys")).as("merge"),
        size(array_intersect(col("xs"), col("ys"))).cast("long").as("ref"))
      .filter(col("merge") =!= col("ref"))
      .count()
    assert(diff == 0L, s"$diff rows diverged from array_intersect")
  }

  test("empty and null sides") {
    import spark.implicits._
    val df = Seq(
      (Seq(1L, 2L, 3L), Seq.empty[Long]),
      (Seq.empty[Long], Seq.empty[Long]),
      (Seq(1L, 2L), Seq(1L, 2L))).toDF("xs", "ys")
    val got = df.select(SortedIntersectCount(col("xs"), col("ys")))
      .collect().map(_.getLong(0)).toSeq
    assert(got == Seq(0L, 0L, 2L))
    // null array propagates null (the census coalesces before calling)
    val nul = df.limit(1)
      .select(SortedIntersectCount(lit(null).cast("array<bigint>"), col("ys")))
      .collect()(0)
    assert(nul.isNullAt(0))
  }

  test("triangle census via the expression matches a brute-force count") {
    import spark.implicits._
    // K4 plus a pendant and an isolated edge: C(4,3)=4 triangles
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (8L, 9L)).toDF("a", "b")
    val row = graft.scale.TriangleStats(edges).collect()(0)
    graft.scale.CacheRegistry.drain()
    assert(row.getAs[Long]("n_triangles") == 4L)
    assert(row.getAs[Long]("n_nodes") == 7L)
    assert(row.getAs[Long]("n_edges") == 8L)
  }
}
