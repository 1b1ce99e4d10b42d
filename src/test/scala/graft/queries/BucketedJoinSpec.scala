package graft.queries

import graft.{PlanWalk, SparkSpec}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** The ly_bucketed_join gate row proves VALUE fidelity through the
  * bucketed write→read cycle; this spec pins the layout's reason to
  * exist — the join on the bucket key plans with ZERO ShuffleExchange,
  * because both sides arrive pre-partitioned by hash(custkey) % 8
  * from the file layout. At 100 TB this is the difference between
  * paying the fact-table shuffle on EVERY join and paying it once at
  * write time; if a Spark upgrade or conf change silently re-plans
  * the exchange, the layout is dead weight and this spec turns red.
  */
class BucketedJoinSpec extends SparkSpec {

  private def shuffles(p: SparkPlan): Seq[SparkPlan] =
    PlanWalk.collect(p) { case e: ShuffleExchangeExec => e }

  test("bucketed join on the bucket key plans with zero ShuffleExchange") {
    val dir = sf("sf0.001")
    val (to, tc) = LayoutPack.bucketedOrdersCustomer(spark, dir)
    // broadcast off: a broadcast join would ALSO be exchange-free but
    // proves nothing about the layout — force the sort-merge path a
    // 100 TB fact⨝fact join would take
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val j = spark.table(to)
        .join(spark.table(tc), col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"), col("c_mktsegment"))
      j.collect() // materialize so AQE finalizes the plan
      val sh = shuffles(j.queryExecution.executedPlan)
      assert(sh.isEmpty,
        s"bucketed join planned ${sh.size} ShuffleExchange(s):\n" +
          j.queryExecution.executedPlan)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
    // one writer task per bucket: exactly one data file per bucket
    for (t <- Seq(to, tc)) {
      val files = spark.table(t).inputFiles
      assert(files.length == 8, s"$t: ${files.length} data files, want 8")
    }
  }

  test("a failing bucketed write rethrows only after its sibling write has finished") {
    // orders but no customer: the customer write fails at once, the
    // orders write has a real job to run
    val dir = java.nio.file.Files.createTempDirectory("graft_bkt_nocust").toString
    graft.io.Tables(spark, sf("sf0.001"), "orders")
      .write.parquet(s"$dir/orders.parquet")
    val starts = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        starts.add(e.time)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      // the missing table fails by name, without Spark's metadata-dir
      // probe warning
      val lines = logDuring {
        val e = intercept[Exception](LayoutPack.bucketedOrdersCustomer(spark, dir))
        assert(e.getMessage.contains(s"$dir/customer.parquet"), e.getMessage)
      }
      val thrownAt = System.currentTimeMillis()
      assert(spark.sparkContext.statusTracker.getActiveJobIds().isEmpty,
        "a bucketed write was still running when the build rethrew")
      Thread.sleep(2000) // an orphaned write would submit its job by now
      assert(!starts.iterator().asScala.exists(_ > thrownAt),
        "a bucketed write started a job after the build rethrew")
      val probes = lines.filter(_.contains("FileStreamSink"))
      assert(probes.isEmpty, probes.mkString("\n"))
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("bucketed round-trip preserves orders row-for-row") {
    val dir = sf("sf0.001")
    val (to, _) = LayoutPack.bucketedOrdersCustomer(spark, dir)
    val orig = graft.io.Tables(spark, dir, "orders")
    val back = spark.table(to)
    assert(back.count() === orig.count())
    assert(back.exceptAll(orig).isEmpty && orig.exceptAll(back).isEmpty)
  }
}
