package graft.tools

import graft.imdb.ImdbPipeline

/** Stage-budget measurement of the §2 IMDB pipeline at fixture size
  * and at an ImdbScaleUp corpus (VERDICT r10 item 5). Emits ONE JSON
  * line with per-stage seconds for both runs.
  *
  * Stage attribution (ImdbPipeline.run marks its natural action
  * boundaries; nothing extra is forced): `fit_indexers` pays the
  * train-side load+preprocess+imputation+engineer chain, materialized
  * once into the run's persisted engineered train frame (and the
  * top-writer/top-director tables), plus the one fused indexer fit;
  * `fit_scaler` (assemble+scaler fit) and `train_rf` (the forest's
  * passes) read that cache; `predict_write` pays the test-side
  * engineer, materialized once into its own persisted frame, plus
  * transform+predict+K1 sink; `cache_write` the K2 cache union sink.
  * The run releases its frames before returning, so the `count()`
  * after it recomputes the test side outside the timed total.
  *
  * Usage: runMain graft.tools.ImdbScaleBench <refImdbDir> <bigDir>
  *          <outJson> [factor-label]
  */
object ImdbScaleBench {

  def main(args: Array[String]): Unit = {
    val Array(refDir, bigDir, outJson) = args.take(3)
    val label = if (args.length > 3) args(3) else "x100"
    val spark = graft.io.Sessions.harness()
    spark.range(1000000).selectExpr("sum(id)").collect() // warmup

    // X1-X3 ban, proven at scale rather than by construction: sum the
    // serialized task-result bytes the driver FETCHES across each run
    // (TaskMetrics.resultSize — what a collect()/toPandas round-trip
    // would inflate linearly with the corpus). The ×N run's total must
    // stay in the same band as the 1× run: RF node histograms, scaler
    // stats and write commit messages are data-size-invariant, so any
    // corpus-proportional growth here IS a driver materialization.
    val resultBytes = new java.util.concurrent.atomic.AtomicLong(0L)
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          if (e.taskMetrics != null)
            resultBytes.addAndGet(e.taskMetrics.resultSize)
      })

    def ms(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

    def once(dataDir: String, trainGlob: String, testCsv: String,
             writing: String, directing: String, cacheCsv: String,
             tag: String): (Seq[(String, Double)], Long, Double, Long) = {
      val out = s"/tmp/imdb_bench_out_$tag"
      val cfg = ImdbPipeline.Config(
        trainGlob = trainGlob, testCsv = testCsv, writingJson = writing,
        directingJson = directing, cacheCsv = cacheCsv, resultsDir = out,
        resultPath = Some(s"$out/preds.txt"),
        cacheOutDir = Some(s"$out/genre_cache"))
      val stages = scala.collection.mutable.ArrayBuffer[(String, Double)]()
      resultBytes.set(0L)
      val t0 = System.nanoTime()
      val preds = ImdbPipeline.run(spark, cfg,
        (stage, secs) => stages += ((stage, secs)))
      val total = (System.nanoTime() - t0) / 1e9
      val n = preds.count()
      spark.sharedState.cacheManager.clearCache()
      // listener events drain asynchronously. waitUntilEmpty is
      // private[spark] — call it by reflection (this is a dev tool);
      // if the private API moved, fall back to requiring THREE
      // consecutive stable 500 ms polls (ADVICE r11: one stable poll
      // undercounts whenever a bus backlog pause exceeds 500 ms).
      val drained = try {
        val busM = spark.sparkContext.getClass
          .getMethod("listenerBus")
        val bus = busM.invoke(spark.sparkContext)
        bus.getClass.getMethods
          .find(m => m.getName == "waitUntilEmpty" &&
            m.getParameterCount == 0)
          .exists { m => m.invoke(bus); true }
      } catch { case _: Throwable => false }
      if (!drained) {
        var prev = -1L; var stable = 0
        while (stable < 3) {
          val cur = resultBytes.get()
          if (cur == prev) stable += 1 else { stable = 0; prev = cur }
          Thread.sleep(500)
        }
      }
      // a bus that DROPS events silently deflates the metric used as
      // the X1-X3 proof — surface the dropped-event counters loudly
      try {
        val busM = spark.sparkContext.getClass.getMethod("listenerBus")
        val bus = busM.invoke(spark.sparkContext)
        val mm = bus.getClass.getMethods.find(_.getName == "metrics")
        mm.foreach { m =>
          val metrics = m.invoke(bus)
          val reg = metrics.getClass.getMethods
            .find(_.getName == "metricRegistry").map(_.invoke(metrics))
          reg.foreach { r =>
            val counters = r.asInstanceOf[com.codahale.metrics.MetricRegistry]
              .getCounters(new com.codahale.metrics.MetricFilter {
                def matches(n: String, c: com.codahale.metrics.Metric) =
                  n.contains("numDroppedEvents")
              })
            counters.forEach { (n, c) =>
              if (c.getCount > 0)
                System.err.println(
                  s"[imdb-bench] WARNING: listener bus dropped " +
                    s"${c.getCount} events ($n) — resultBytes is an " +
                    "UNDERCOUNT this run")
            }
          }
        }
      } catch { case _: Throwable => () }
      val rb = resultBytes.get()
      System.err.println(s"[imdb-bench] $tag: total ${ms(total)} s, " +
        s"$n preds, driver result bytes $rb, stages " +
        stages.map { case (s, v) => s"$s=${ms(v)}" }.mkString(" "))
      (stages.toSeq, n, total, rb)
    }

    val (s1, n1, t1, rb1) = once(refDir,
      s"$refDir/train-*.csv", s"$refDir/validation_hidden.csv",
      s"$refDir/writing.json", s"$refDir/directing.json",
      s"$refDir/validation_gemma3_4b_cache.csv", "1x")
    val (sN, nN, tN, rbN) = once(bigDir,
      s"$bigDir/train-csv", s"$bigDir/validation_hidden-csv",
      s"$bigDir/writing-json", s"$bigDir/directing.json",
      s"$bigDir/validation_gemma3_4b_cache-csv", label)

    def stagesJson(ss: Seq[(String, Double)]): String =
      ss.map { case (k, v) => s""""$k":${ms(v)}""" }.mkString("{", ",", "}")
    val json = s"""{"metric":"imdb_pipeline_scale","label":"$label",""" +
      s""""run1x":{"total":${ms(t1)},"preds":$n1,"driver_result_bytes":$rb1,""" +
      s""""stages":${stagesJson(s1)}},""" +
      s""""run$label":{"total":${ms(tN)},"preds":$nN,"driver_result_bytes":$rbN,""" +
      s""""stages":${stagesJson(sN)}},""" +
      s""""growth":${ms(tN / math.max(t1, 1e-9))},""" +
      s""""result_bytes_growth":${ms(rbN.toDouble / math.max(rb1, 1L).toDouble)}}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(outJson),
      json.getBytes("UTF-8"))
    println(json)
    spark.stop()
  }
}
