package graft.scale

import graft.SparkSpec
import graft.io.Tables
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

class ScaleSpec extends SparkSpec {

  test("salted join == plain join on a skewed key distribution") {
    val dir = sf("sf0.001")
    val li = Tables(spark, dir, "lineitem") // l_suppkey moderately skewed
      .select(col("l_orderkey"), col("l_suppkey"), col("l_quantity"))
    val sup = Tables(spark, dir, "supplier")
      .select(col("s_suppkey").as("l_suppkey"), col("s_name"))
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.select(col("l_orderkey"), col("l_suppkey"), col("l_quantity"), col("s_name"))
        .collect().map(_.toSeq).sortBy(_.toString()).toSeq
    val plain = norm(li.join(sup, Seq("l_suppkey"), "inner"))
    val salted = norm(SkewJoin.saltedJoin(li, sup, "l_suppkey", salt = 7))
    assert(salted == plain)
    assert(plain.nonEmpty)
  }

  test("salted join handles a single heavy-hitter key correctly") {
    // 10,000 rows of one hot key + a tail; dim has one row per key
    val fact = spark.range(10000).select(lit(1L).as("k"), col("id").as("payload"))
      .union(spark.range(50).select((col("id") + 2).as("k"), col("id").as("payload")))
    val dim = spark.range(60).select((col("id") + 1).as("k"),
      concat(lit("v"), col("id")).as("attr"))
    val out = SkewJoin.saltedJoin(fact, dim, "k", salt = 16)
    assert(out.count() == 10050)
    assert(out.filter(col("k") === 1L).select("attr").distinct().count() == 1)
  }

  test("salted join: LEFT rows with no dim partner survive exactly once") {
    import spark.implicits._
    val fact = Seq((1L, "a"), (1L, "b"), (99L, "orphan")).toDF("k", "payload")
    val dim = Seq((1L, "v1")).toDF("k", "attr")
    val out = SkewJoin.saltedJoin(fact, dim, "k", salt = 4, joinType = "left")
      .select(col("k"), col("payload"), col("attr"))
      .collect().map(r => (r.getLong(0), r.getString(1), Option(r.getString(2)))).toSet
    assert(out == Set((1L, "a", Some("v1")), (1L, "b", Some("v1")),
      (99L, "orphan", None)))
  }

  test("salted join refuses right/full outer (dim replicas would duplicate)") {
    import spark.implicits._
    val fact = Seq((1L, "a")).toDF("k", "payload")
    val dim = Seq((2L, "v")).toDF("k", "attr")
    intercept[IllegalArgumentException] {
      SkewJoin.saltedJoin(fact, dim, "k", salt = 4, joinType = "right")
    }
    intercept[IllegalArgumentException] {
      SkewJoin.saltedJoin(fact, dim, "k", salt = 4, joinType = "full_outer")
    }
  }

  test("bucketed tables join without a shuffle exchange") {
    val dir = sf("sf0.001") // warehouse dir is set (static conf) in SparkSpec
    Tables(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .write.mode("overwrite").bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .saveAsTable("orders_b")
    Tables(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_quantity"))
      .write.mode("overwrite").bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .saveAsTable("lineitem_b")
    val joined = spark.table("orders_b").hint("merge")
      .join(spark.table("lineitem_b"),
        col("o_orderkey") === col("l_orderkey"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("ShuffleExchange") && !plan.contains("Exchange hashpartitioning"),
      s"bucketed join should not shuffle:\n$plan")
    // and it is still correct
    val expected = Tables(spark, dir, "orders")
      .join(Tables(spark, dir, "lineitem"),
        col("o_orderkey") === col("l_orderkey")).count()
    assert(joined.count() == expected)
  }

  test("typed top-k Aggregator matches the window-based top-k") {
    import spark.implicits._
    import TopKAggregator.Scored
    val dir = sf("sf0.001")
    val li = Tables(spark, dir, "lineitem")
    // per supplier: top-5 lineitems by extendedprice (id = orderkey*10+line)
    val scored = li.select(col("l_suppkey"),
      (col("l_orderkey") * 10 + col("l_linenumber")).as("id"),
      col("l_extendedprice").as("score"))
    val viaAgg = scored
      .select(col("l_suppkey"), struct(col("id"), col("score")).as("s"))
      .as[(Long, Scored)]
      .groupByKey(_._1)
      .mapValues(_._2)
      .agg(TopKAggregator.topK(5).toColumn.name("top"))
      .flatMap { case (k, top) => top.map(s => (k, s.id, s.score)) }
      .collect().toSet
    val w = Window.partitionBy(col("l_suppkey"))
      .orderBy(col("score").desc, col("id").asc)
    val viaWindow = scored
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
      .select(col("l_suppkey"), col("id"), col("score"))
      .as[(Long, Long, Double)].collect().toSet
    assert(viaAgg == viaWindow)
    assert(viaAgg.nonEmpty)
  }
}
