package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Bench's row runner: each rep's record charges work to the layer and
  * the row that paid it, adds no Spark work of its own, and starts
  * every row from reset loop and stream records. */
class BenchSpec extends SparkSpec {

  private lazy val dir = sf("sf0.001")

  private def one(name: String): Bench.Record = {
    val Seq(r) = Bench.row(spark, dir, name, 1, SparkEntry.queries(name))
    assert(r.ok, s"$name failed: ${r.failure}")
    r
  }

  /** Runs `name` until its exec_s is steady: five reps in a row set
    * no new minimum (at most 30 reps). A fresh JVM's exec_s still falls
    * for about 20 reps as JIT compiles the runner and the query path,
    * which a test of where time is charged must not read as its planted
    * delay leaking into exec_s. */
  private def warm(name: String): Unit = {
    var (best, sinceBest, reps) = (Double.MaxValue, 0, 0)
    while (sinceBest < 5 && reps < 30) {
      val e = one(name).execS
      if (e < best) { best = e; sinceBest = 0 } else sinceBest += 1
      reps += 1
    }
  }

  test("a planted build sleep lands in build_s of its own row only") {
    warm("q1_agg") // schemas, codegen and JIT
    val planted = Bench.row(spark, dir, "q1_agg", 1, (s, d) => {
      Thread.sleep(300)
      SparkEntry.queries("q1_agg")(s, d)
    }).head
    val next = one("q1_agg")
    assert(planted.ok && planted.buildS >= 0.3, planted)
    assert(planted.planS < 0.3 && planted.execS < 0.3, planted)
    assert(next.buildS < 0.3, next)
    assert(planted.planS > 0.0 && next.planS > 0.0, (planted, next))
    assert(math.abs(planted.seconds - (planted.buildS + planted.planS + planted.execS)) < 1e-3)
  }

  test("the runner adds no Spark job to the row it records") {
    val sc = spark.sparkContext
    val fn = SparkEntry.queries("q1_agg")
    fn(spark, dir).count() // warm
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val counter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    org.apache.spark.graft.ListenerDrain(sc)
    sc.addSparkListener(counter)
    try {
      fn(spark, dir).count()
      org.apache.spark.graft.ListenerDrain(sc)
    } finally sc.removeSparkListener(counter)
    val rec = one("q1_agg")
    assert(jobs.get > 0)
    assert(rec.jobs == jobs.get, s"record ${rec.jobs} jobs, plain count ${jobs.get}")
    assert(rec.stages > 0 && rec.tasks > 0 && rec.slowestJobs.nonEmpty, rec)
  }

  test("slowest jobs are named by their SQL execution, not an AQE thread frame") {
    val rec = one("q1_agg")
    assert(rec.slowestJobs.nonEmpty, rec)
    rec.slowestJobs.foreach { case (_, _, site) =>
      assert(!site.contains("CompletableFuture"), rec)
      assert(site.startsWith("sql ") && site.contains("(q1_agg): graft."), rec)
    }
  }

  test("loop and stream records belong to the row that ran them") {
    val kcore = one("g_kcore")
    assert(kcore.iterate.rounds > 0 && kcore.iterate == scale.Iterate.last.get(), kcore)
    assert(kcore.streamBatches == 0, kcore)
    val stream = one("st_tumbling_stream_exec")
    assert(stream.streamBatches > 0 && stream.stateRows > 0, stream)
    assert(stream.iterate.rounds == 0, stream)
    val after = one("q1_agg")
    assert(after.streamBatches == 0 && after.stateRows == 0 && after.iterate.rounds == 0, after)
  }

  test("a failing builder is recorded, not rethrown, and the record is JSON") {
    val Seq(r) = Bench.row(spark, dir, "boom", 1, (_, _) => sys.error("planted \"failure\""))
    assert(!r.ok && r.rows == -1L)
    val json = new com.fasterxml.jackson.databind.ObjectMapper().readTree(r.json)
    assert(!json.get("ok").asBoolean && json.get("error").asText == "planted \"failure\"")
    Seq("build_s", "plan_s", "exec_s", "jobs", "slowest_jobs", "memo_built", "cached_bytes",
      "iterate_rounds", "stream_batches").foreach(k => assert(json.has(k), k))
  }
}
