package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = graft.io.Knobs.sfDir
    val spark = graft.io.Sessions.harness()
    // the effective config, read (so every knob parsed) before any
    // timing: a malformed knob fails here, not after the run
    val config = graft.io.Knobs.configJson(spark)
    // warm up the JVM, codegen, and parquet footers so the first timed
    // query isn't charged ~3s of session startup
    try {
      spark.range(1000000).selectExpr("sum(id)").collect()
      spark.read.parquet(s"$sfDir/lineitem.parquet").count()
    } catch { case _: Throwable => }
    // Host-calibration probes (VERDICT r13 item 3): three fixed
    // micro-workloads whose cost depends only on the host, so
    // cross-session bench comparisons can divide out the ambient
    // speed band (measured swings up to ~5×) instead of adjudicating
    // it forensically every round. Emitted in the JSON contract line;
    // bench_compare.py normalizes per-query ratios by the probe ratio
    // before flagging. min of 3 reps — the stable floor, not the
    // scheduler-noise mean. probe_scan reads the sf dir's lineitem,
    // so it is comparable only between equal-sf runs (the driver
    // benches at one fixed sf per round; BASELINE.md records the sf).
    def probeMin(reps: Int)(work: () => Unit): Double =
      (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        work()
        (System.nanoTime() - t0) / 1e9
      }.min
    // the probe kernels, reusable for the closing triple below
    val probeWork: Map[String, () => Unit] = Map(
      // single-core integer ALU: a fixed 2e8-step xorshift fold on the
      // driver — pure clock+IPC, no Spark, no allocation
      "cpu" -> (() => {
        var x = 0x9e3779b97f4a7c15L; var i = 0
        while (i < 200000000) {
          x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1
        }
        // fold the result into a side effect the JIT can't elide
        if (x == 42L) System.err.println("[bench] probe_cpu sentinel")
      }),
      // one 32-partition exchange: 20M longs hash-aggregated to 1k
      // keys — executor threading + shuffle write/read + codegen
      "shuffle" -> (() => {
        spark.range(0L, 20000000L, 1L, 32)
          .selectExpr("id % 1000 AS k")
          .groupBy("k").count()
          .selectExpr("sum(count)").collect()
        ()
      }),
      // parquet scan+reduce of the tier's largest table: decode +
      // predicate-free columnar read (footers already warmed above)
      "scan" -> (() => {
        spark.read.parquet(s"$sfDir/lineitem.parquet")
          .selectExpr("sum(l_quantity)").collect()
        ()
      }))
    val probes: Seq[(String, Double)] =
      Seq("cpu", "shuffle", "scan").map(k => k -> probeMin(3)(probeWork(k)))
    // Dev-loop filter: SPARK_GRAFT_BENCH_ONLY=q1_agg,g_pagerank times just
    // those queries. Unset (the driver's path) runs the full suite.
    val selected = graft.io.Knobs.benchOnly match {
      case Some(names) => SparkEntry.queries.filter(kv => names(kv._1))
      case None => SparkEntry.queries
    }
    // (name, seconds, ok) — a crashing query must surface as a failure
    // count in the emitted line, NOT fold into the total as a ~0 s
    // timing (round 4: 8 analysis-failing queries read as instant
    // successes and the bench line still claimed n_queries=160).
    val results = selected.toSeq.sortBy(_._1).map { case (name, fn) =>
      // label the query's jobs (guide §1.5) — also what MemoPool's
      // payer= log line reads, so memo builds stay attributable to
      // the bench row that paid them. Nanosecond-scale local-property
      // set; the timed region is otherwise unchanged.
      spark.sparkContext.setJobDescription(name)
      val t0 = System.nanoTime()
      val ok =
        try { fn(spark, sfDir).count(); true }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
          false
        }
      val secs = (System.nanoTime() - t0) / 1e9
      spark.sparkContext.setJobDescription(null)
      // release this query's tracked persists (graph ops) so 160
      // queries in one session don't accumulate cached partitions
      graft.scale.CacheRegistry.drain()
      (name, secs, ok)
    }
    // Closing probe triple (VERDICT r14 item 7): the start-of-run
    // probes cannot see MID-RUN band drift — the exact failure mode of
    // the r14 driver run's one 20 s outlier on an untouched row. A
    // second triple after the query loop lets bench_compare.py flag
    // runs whose start/end probes disagree (intra-run drift) instead
    // of adjudicating per-row noise forensically.
    val probesEnd: Seq[(String, Double)] = probes.map { case (k, _) =>
      k -> probeMin(3)(probeWork(k))
    }
    // The round harness captures only the last ~2000 chars of sbt output
    // and parses the JSON line found there. With 100 queries at full
    // double precision the line ran ~3 KB and rounds 1-2 recorded
    // parsed=null. Emit a bounded line: total + query count + the 25
    // slowest queries at millisecond precision (they dominate the total;
    // BASELINE.md records the same set for round-over-round comparison).
    // Locale.ROOT: the f-interpolator is locale-sensitive — a
    // comma-decimal locale would emit invalid JSON and re-break parsing.
    def ms(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val total = results.map(_._2).sum
    val failed = results.filter(!_._3)
    val failedNames = failed.map(_._1).sorted
    val slowest = results.sortBy(-_._2).take(25)
    val qs = slowest.map { case (k, v, _) => "\"" + k + "\":" + ms(v) }
      .mkString("{", ",", "}")
    // Full per-query timings go to a side file so bench_compare.py can
    // regression-check ALL queries, not just the top-25 of the line.
    val fullQs = results.map { case (k, v, _) => "\"" + k + "\":" + ms(v) }
      .mkString("{", ",", "}")
    val failedJson = failedNames.map("\"" + _ + "\"").mkString("[", ",", "]")
    val probesJson = probes.map { case (k, v) => "\"" + k + "\":" + ms(v) }
      .mkString("{", ",", "}")
    val probesEndJson = probesEnd.map { case (k, v) => "\"" + k + "\":" + ms(v) }
      .mkString("{", ",", "}")
    val fullLine =
      s"""{"metric":"total","value":${ms(total)},"unit":"sec","n_queries":${results.size},"failed":${failed.size},"failed_names":$failedJson,"probes":$probesJson,"probes_end":$probesEndJson,"queries":$fullQs,"sf":"$sfDir","config":$config}"""
    val outPath = graft.io.Knobs.benchOut
    try {
      java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
        (fullLine + "\n").getBytes("UTF-8"))
    } catch { // side artifact only — never fail bench, but say so: a
      // silent miss would let bench_compare read a STALE file
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] full-timings write to $outPath failed: $e")
    }
    println(s"""{"metric":"total","value":${ms(total)},"unit":"sec","n_queries":${results.size},"failed":${failed.size},"probes":$probesJson,"probes_end":$probesEndJson,"queries":$qs,"sf":"$sfDir"}""")
    spark.stop()
  }
}
