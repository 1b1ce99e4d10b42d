package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Pins the ride-the-output-sort running sum (plans/RunningSumPlan):
  * value equality with the direct running window on adversarial
  * shapes and real lineitem, the non-null/0-contribution contract,
  * and THE property the operator exists for — a query ending in
  * ORDER BY over the same keys plans exactly ONE sort (the range
  * exchange feeding RunningSumExec; the trailing Sort is removed
  * because outputOrdering/outputPartitioning re-expose the child's). */
class RunningSumRideSpec extends SparkSpec {

  import spark.implicits._

  private def direct(df: org.apache.spark.sql.DataFrame) = {
    val w = Window.partitionBy($"p").orderBy($"k", $"t")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("want", sum($"x").over(w))
  }

  private def check(rows: Seq[(String, Long, Long, Long)]): Unit = {
    val df = rows.toDF("p", "k", "t", "x").repartition(7)
    val got = RunningSumRide.withRunningSumSorted(spark, df,
        Seq($"p"), Seq($"k", $"t"), $"x", "got")
      .withColumnsRenamed(Map("p" -> "p2", "k" -> "k2", "t" -> "t2"))
      .drop("x")
    val joined = direct(df).join(got,
      $"p" <=> $"p2" && $"k" === $"k2" && $"t" === $"t2")
    assert(joined.count() == rows.size)
    val bad = joined.filter($"want" =!= $"got")
    assert(bad.isEmpty, s"mismatch: ${bad.take(5).mkString(", ")}")
  }

  test("matches the direct window on dense duplicate order keys") {
    val rows = for {
      p <- Seq("A", "B", "C"); k <- 1L to 40L; t <- 1L to 3L
    } yield (p, k, t, (k + t) % 3)
    check(rows)
  }

  test("matches on skewed partitions and a null partition value") {
    val rows = (1L to 300L).map(i => ("A", i % 17, i, i % 2)) ++
      Seq(("B", 1L, 1L, 5L), (null.asInstanceOf[String], 2L, 1L, 7L),
        (null.asInstanceOf[String], 3L, 2L, 1L))
    check(rows)
  }

  test("empty input yields empty output") {
    val df = Seq.empty[(String, Long, Long, Long)].toDF("p", "k", "t", "x")
    assert(RunningSumRide.withRunningSumSorted(spark, df,
      Seq($"p"), Seq($"k", $"t"), $"x", "got").isEmpty)
  }

  test("drop-in twin of the gated fn_window_distinct on real lineitem") {
    val dir = sf("sf0.001")
    val li = graft.io.Tables(spark, dir, "lineitem")
    val order = Seq($"l_orderkey", $"l_linenumber", $"l_partkey")
    val firstSeen = Window.partitionBy($"l_returnflag", $"l_partkey")
      .orderBy(order: _*)
    val flagged = li.select($"l_returnflag", $"l_orderkey", $"l_linenumber",
      $"l_partkey",
      when($"l_partkey".isNotNull &&
        row_number().over(firstSeen) === 1, 1L).otherwise(0L)
        .as("is_first"))
    val twin = RunningSumRide.withRunningSumSorted(spark, flagged,
      Seq($"l_returnflag"), order, $"is_first", "want")
    val got = graft.SparkEntry.queries("fn_window_distinct")(spark, dir)
    val bad = twin.join(got,
        Seq("l_returnflag", "l_orderkey", "l_linenumber", "l_partkey"))
      .filter($"want" =!= $"run_distinct")
    assert(twin.count() == got.count())
    assert(bad.isEmpty, s"mismatch: ${bad.take(3).mkString(", ")}")
  }

  test("empty partition list = exact global row_number with one sort") {
    // global rank IS a running count: the operator with partCols = []
    // must equal Window.orderBy row_number exactly (small data, so
    // the single-task direct window is a safe oracle here), and its
    // plan must carry no chunk machinery and exactly one sort when
    // the trailing ORDER BY is the rank order itself
    val df = (1L to 4000L).map(i => ((i * 37) % 991, i))
      .toDF("v", "id").repartition(9)
    val got = RunningSumRide.withGlobalRankSorted(spark, df,
        Seq($"v", $"id"), "rnk")
      .orderBy($"v", $"id")
    val w = Window.orderBy($"v", $"id")
    val want = df.withColumn("want", row_number().over(w).cast("long"))
    val bad = got.join(want, Seq("v", "id"))
      .filter($"rnk" =!= $"want")
    assert(got.count() == 4000 && bad.isEmpty,
      s"rank mismatch: ${bad.take(5).mkString(", ")}")
    val sorts = graft.PlanWalk.collect(got.queryExecution.executedPlan) {
      case s: org.apache.spark.sql.execution.SortExec => s
    }
    assert(sorts.size == 1, s"global rank should cost ONE sort, got " +
      s"${sorts.size}:\n${got.queryExecution.executedPlan}")
  }

  test("the gated default picks the form by scan size, not blindly") {
    // sf0.001 lineitem is far below RideThreshold: the adaptive
    // default must plan the DIRECT window (no RunningSumExec, no ~2 s
    // fixed overhead — the r12 bench regression this pick fixes)
    val out = graft.SparkEntry.queries("fn_window_distinct")(
      spark, sf("sf0.001"))
    val nodes = graft.PlanWalk.collect(out.queryExecution.executedPlan) {
      case e: RunningSumExec => e
    }
    assert(nodes.isEmpty,
      "adaptive default chose the ride operator on an 11 MB corpus — " +
        "its fixed overhead loses below FunctionsPack.RideThreshold")
  }

  test("a trailing ORDER BY on the same keys plans exactly ONE sort") {
    val df = (1L to 5000L).map(i => (s"P${i % 3}", i % 97, i, i % 2))
      .toDF("p", "k", "t", "x").repartition(7)
    val out = RunningSumRide.withRunningSumSorted(spark, df,
        Seq($"p"), Seq($"k", $"t"), $"x", "rs")
      .orderBy($"p", $"k", $"t")
    val plan = out.queryExecution.executedPlan
    def collectPlan(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] =
      (p +: p.children.flatMap(collectPlan)) ++ (p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          collectPlan(a.executedPlan)
        case _ => Seq.empty
      })
    val nodes = collectPlan(plan)
    val sorts = nodes.count(
      _.isInstanceOf[org.apache.spark.sql.execution.SortExec])
    val execs = nodes.count(_.isInstanceOf[RunningSumExec])
    assert(execs == 1, s"RunningSumExec missing from plan:\n$plan")
    assert(sorts == 1,
      s"expected exactly ONE sort (shared by window + output), got $sorts:\n$plan")
    // and the values still match the direct window through that plan
    out.count() // force execution through the adaptive plan
  }

  private def collectExec(df: org.apache.spark.sql.DataFrame)
      : Seq[RunningSumExec] =
    graft.PlanWalk.collect(df.queryExecution.executedPlan) {
      case e: RunningSumExec => e
    }

  test("driver harvest is bounded at 2/partition on a HIGH-cardinality " +
      "partition column (VERDICT r12 item 1)") {
    // 50,000 distinct part keys over 100,000 rows: the r12 harvest
    // collected one entry PER RUN (50k rows to the driver); the
    // boundary-runs harvest ships at most first+last per partition —
    // ≤ 2 × #partitions regardless of |p|. Correctness oracle: each
    // key has 2 rows (x = 1 then x = 3), so the running sum per key
    // is exactly (1, 4) in order.
    val df = (0L until 100000L)
      .map(i => (i % 50000, i / 50000, if (i / 50000 == 0) 1L else 3L))
      .toDF("p", "k", "x").repartition(11)
    val out = RunningSumRide.withRunningSumSorted(spark, df,
      Seq($"p"), Seq($"k"), $"x", "rs")
    // execute THIS queryExecution (count()/filter() would re-plan a
    // fresh exec instance whose metrics are not the ones read below)
    assert(out.queryExecution.toRdd.count() == 100000)
    val bad = out.filter(
      !(($"k" === 0 && $"rs" === 1) || ($"k" === 1 && $"rs" === 4)))
    assert(bad.isEmpty,
      s"high-cardinality values wrong: ${bad.take(5).mkString(", ")}")
    val execs = collectExec(out)
    assert(execs.size == 1)
    val harvested = execs.head.metrics("boundaryRuns").value
    val nParts = spark.sessionState.conf.numShufflePartitions
    assert(harvested > 0 && harvested <= 2L * nParts,
      s"pass-1 harvest must be ≤ 2 × $nParts partitions, collected " +
        s"$harvested entries — the boundary-runs bound regressed")
    graft.scale.CacheRegistry.drain()
  }

  test("the persisted child is released at SQL-execution end: zero " +
      "retained blocks after the action (VERDICT r12 item 2)") {
    // Thread-local ledger deposits CANNOT work from doExecute — under
    // AQE it runs on a materialization-pool thread (this spec caught
    // that on a first draft that used the ledger). The exec instead
    // keys the unpersist on its execution id;
    // SparkListenerSQLExecutionEnd is async on the listener bus, so
    // poll briefly.
    val before = persistentRddIds
    val df = (1L to 3000L).map(i => (s"P${i % 4}", i, i % 2))
      .toDF("p", "k", "x").repartition(5)
    val out = RunningSumRide.withRunningSumSorted(spark, df,
      Seq($"p"), Seq($"k"), $"x", "rs")
    assert(out.count() == 3000) // Dataset action => SQL execution scope
    assert(awaitGone(persistentRddIds -- before),
      s"persisted child RDD(s) ${persistentRddIds -- before} survived 15 s past the " +
        "query's SQL-execution end — the CacheRegistry release hook " +
        "did not fire")
  }

  test("a nullable value expression is REJECTED, not silently 0-mapped") {
    // the exec's NULL-contributes-0 contract diverges from SQL window
    // SUM; the API checks nullability so an adaptive direct/ride
    // switch can never return tier-dependent results (ADVICE r12)
    val df = Seq(("A", 1L, Some(1L)), ("A", 2L, None))
      .toDF("p", "k", "x")
    val e = intercept[IllegalArgumentException] {
      RunningSumRide.withRunningSumSorted(spark, df,
        Seq($"p"), Seq($"k"), $"x", "rs")
    }
    assert(e.getMessage.contains("nullable"))
  }

  test("boundary continuation chains through single-run partitions") {
    // one part key spanning MANY partitions exercises the driver's
    // carry accumulation across consecutive single-run partitions —
    // the path where first == last and the carry must ADD, not reset
    val rows = (1L to 20000L).map(i => ("only", i, 1L)) ++
      (1L to 5L).map(i => ("tail", i, 10L))
    val df = rows.toDF("p", "k", "x").repartition(13)
    val out = RunningSumRide.withRunningSumSorted(spark, df,
      Seq($"p"), Seq($"k"), $"x", "rs")
    val tops = out.groupBy($"p").agg(max($"rs").as("m"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(tops == Map("only" -> 20000L, "tail" -> 50L),
      s"carry chain broke: $tops")
    graft.scale.CacheRegistry.drain()
  }
}
