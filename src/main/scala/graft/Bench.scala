package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.{QueryExecution, SQLExecution}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

import scala.jdk.CollectionConverters._

/** The query-run harness. `row` runs one named query `reps` times and
  * returns one [[Record]] per rep; the `main` runs the suite through it
  * and writes the bench contract line plus the side file.
  *
  * Usage: runMain graft.Bench [name,name,...] [reps]
  * No argument runs every query once (the contract run). An all-digit
  * argument is the rep count; any other is a comma list of query names.
  * Input directory: `SPARK_GRAFT_SF_DIR`; side file:
  * `SPARK_GRAFT_BENCH_OUT`.
  */
object Bench {

  /** One rep of one row. `seconds` is the timed region, exactly
    * `fn(spark, sfDir).count()`: `buildS` is the `fn` call, `planS` the
    * analysis, optimization and planning phases of the `count` action's
    * QueryExecution, and `execS` the rest of the action. The Spark
    * counts cover the whole rep (build and action), from one listener
    * reset at rep start and read after the listener bus is drained.
    * `slowestJobs` holds the 3 slowest jobs as (job id, ms, site): a
    * job of a SQL execution is named after that execution, also when
    * AQE submitted it from a query-stage thread, as
    * `sql <id> (<description>): <caller's frame>`; any other job by
    * its `callSite.short` or final stage.
    * `memoBuilt` are the MemoPool entries the rep built. `pooledBytes`
    * and `cachedBytes` are read after the CacheRegistry drain.
    * `iterate` and the stream fields are the thread's `Iterate.last`
    * and `StreamExec.last`, reset before the rep, so a row that runs no
    * loop or stream reports the reset values. */
  final case class Record(
      rep: Int, failure: Option[Throwable], rows: Long, seconds: Double,
      buildS: Double, planS: Double, execS: Double,
      jobs: Int, stages: Int, tasks: Int,
      shuffleReadBytes: Long, shuffleWriteBytes: Long, spillBytes: Long,
      slowestJobs: Seq[(Int, Long, String)], memoBuilt: Seq[String],
      pooledBytes: Long, cachedBytes: Long,
      iterate: graft.scale.Iterate.Record,
      streamBatches: Int, stateRows: Long, rocksdbKeys: Int) {

    def ok: Boolean = failure.isEmpty

    def json: String = {
      import graft.io.Knobs.quote
      val slow = slowestJobs.map { case (id, ms, site) =>
        s"""{"job":$id,"ms":$ms,"call_site":${quote(site)}}"""
      }.mkString("[", ",", "]")
      val err = failure.map(e => s""","error":${quote(message(e))}""").getOrElse("")
      s"""{"rep":$rep,"ok":$ok$err,"result_rows":$rows,"seconds":${fmt(seconds)},""" +
        s""""build_s":${fmt(buildS)},"plan_s":${fmt(planS)},"exec_s":${fmt(execS)},""" +
        s""""jobs":$jobs,"stages":$stages,"tasks":$tasks,""" +
        s""""shuffle_read_bytes":$shuffleReadBytes,"shuffle_write_bytes":$shuffleWriteBytes,""" +
        s""""spill_bytes":$spillBytes,"slowest_jobs":$slow,""" +
        s""""memo_built":${memoBuilt.map(quote).mkString("[", ",", "]")},""" +
        s""""pooled_bytes":$pooledBytes,"cached_bytes":$cachedBytes,""" +
        s""""iterate_rounds":${iterate.rounds},"iterate_converged":${iterate.converged},""" +
        s""""stream_batches":$streamBatches,"state_rows":$stateRows,"rocksdb_keys":$rocksdbKeys}"""
    }
  }

  /** Millisecond precision, locale-independent: the f-interpolator is
    * locale-sensitive, and a comma-decimal locale would emit invalid
    * JSON. */
  private def fmt(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

  private def message(e: Throwable): String =
    Option(e.getMessage).getOrElse(e.getClass.getName)

  /** Spark work of one rep: jobs, stages and task metrics from the
    * scheduler events, and the planning phases of the last `count`
    * action on the session. Both arrive on the async bus, so they are
    * read after `ListenerDrain`. */
  private final class RowListener(spark: SparkSession)
      extends SparkListener with QueryExecutionListener {
    private val jobStarts = new ConcurrentHashMap[Int, (Long, String)]()
    private val executions = new ConcurrentHashMap[Long, String]()
    private val jobMs = new ConcurrentHashMap[Int, Long]()
    @volatile var stages = 0
    @volatile var tasks = 0
    @volatile var shuffleRead = 0L
    @volatile var shuffleWrite = 0L
    @volatile var spill = 0L
    @volatile var planMs = 0L

    def reset(): Unit = synchronized {
      jobStarts.clear(); jobMs.clear(); executions.clear()
      stages = 0; tasks = 0; shuffleRead = 0L; shuffleWrite = 0L; spill = 0L; planMs = 0L
    }

    def jobs: Int = jobStarts.size

    def slowest(n: Int): Seq[(Int, Long, String)] =
      jobMs.asScala.toSeq.sortBy { case (id, ms) => (-ms, id) }.take(n)
        .map { case (id, ms) => (id, ms, jobStarts.get(id)._2) }

    // the execution's start event precedes its jobs on the bus; its
    // `details` is the action's call stack, the Spark API frame first
    // and the caller's frame next
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        val caller = s.details.linesIterator.drop(1).nextOption().getOrElse(s.details)
        executions.put(s.executionId, s"sql ${s.executionId} (${s.description}): $caller")
      case _ =>
    }

    // A job of a SQL execution carries the execution's id in its
    // properties, including every job AQE submits from its query-stage
    // threads, whose own call site is a CompletableFuture frame.
    // `callSite.short` is set only where a caller set one (the stream
    // runner); otherwise the job's final stage is named after its call site
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      val site = props.flatMap(p => Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY)))
        .flatMap(id => Option(executions.get(id.toLong)))
        .orElse(props.flatMap(p => Option(p.getProperty("callSite.short"))))
        .orElse(e.stageInfos.sortBy(_.stageId).lastOption.map(_.name))
      jobStarts.put(e.jobId, (e.time, site.getOrElse("")))
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStarts.get(e.jobId)).foreach(s => jobMs.put(e.jobId, e.time - s._1))

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      synchronized { stages += 1 }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        shuffleRead += m.shuffleReadMetrics.totalBytesRead
        shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }

    // The timed action is the rep's last `count` on this session; a
    // builder's own eager counts come before it on the bus.
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (funcName == "count" && (qe.sparkSession eq spark)) {
        val phases = qe.tracker.phases
        planMs = Seq(QueryPlanningTracker.ANALYSIS, QueryPlanningTracker.OPTIMIZATION,
          QueryPlanningTracker.PLANNING).flatMap(phases.get).map(_.durationMs).sum
      }

    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private def drain(sc: org.apache.spark.SparkContext, name: String): Unit =
    try org.apache.spark.graft.ListenerDrain(sc)
    catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[bench] $name: listener bus not drained ($e); its record may undercount")
    }

  /** Run `fn` (a `SparkEntry.queries` builder, or a test's) `reps`
    * times under the job description `name` and return one record per
    * rep. A rep that throws is recorded with its failure, never
    * rethrown; the next rep still runs. */
  def row(spark: SparkSession, sfDir: String, name: String, reps: Int,
          fn: (SparkSession, String) => DataFrame): Seq[Record] = {
    val sc = spark.sparkContext
    val probe = new RowListener(spark)
    drain(sc, name) // earlier work's events must not reach the probe
    sc.addSparkListener(probe)
    spark.listenerManager.register(probe)
    try (1 to reps).map { rep =>
      graft.scale.Iterate.last.remove()
      graft.streaming.StreamExec.last.remove()
      probe.reset()
      val memoBefore = graft.scale.MemoPool.pooledNames(spark)
      // label the rep's jobs (guide §1.5), which is also what
      // MemoPool's payer= log line reads
      sc.setJobDescription(name)
      var rows = -1L
      var failure: Option[Throwable] = None
      val t0 = System.nanoTime()
      var t1 = t0
      try {
        val df = fn(spark, sfDir)
        t1 = System.nanoTime()
        rows = df.count()
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $name FAILED: ${message(e)}")
        failure = Some(e)
        if (t1 == t0) t1 = System.nanoTime()
      }
      val t2 = System.nanoTime()
      sc.setJobDescription(null)
      // release this query's tracked persists (graph ops) so 220
      // queries in one session don't accumulate cached partitions
      graft.scale.CacheRegistry.drain()
      drain(sc, name)
      val planS = probe.planMs / 1e3
      val stream = graft.streaming.StreamExec.last.get()
      Record(rep, failure, rows, (t2 - t0) / 1e9,
        buildS = (t1 - t0) / 1e9, planS = planS, execS = math.max(0.0, (t2 - t1) / 1e9 - planS),
        jobs = probe.jobs, stages = probe.stages, tasks = probe.tasks,
        shuffleReadBytes = probe.shuffleRead, shuffleWriteBytes = probe.shuffleWrite,
        spillBytes = probe.spill, slowestJobs = probe.slowest(3),
        memoBuilt = (graft.scale.MemoPool.pooledNames(spark) -- memoBefore).toSeq.sorted,
        pooledBytes = graft.scale.MemoPool.pooledBytes(spark),
        cachedBytes = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum,
        iterate = graft.scale.Iterate.last.get(),
        streamBatches = stream.batchDurations.size,
        stateRows = stream.stateOps.map(_._2).sum,
        rocksdbKeys = stream.stateOps.map(_._3.count(_.startsWith("rocksdb"))).sum)
    } finally {
      spark.listenerManager.unregister(probe)
      sc.removeSparkListener(probe)
    }
  }

  def main(args: Array[String]): Unit = {
    val (repArgs, nameArgs) = args.partition(a => a.nonEmpty && a.forall(_.isDigit))
    val reps = repArgs.lastOption.map(_.toInt).getOrElse(1)
    require(reps >= 1, s"reps must be at least 1, got $reps")
    val names = nameArgs.flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty).distinct
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown query names: ${unknown.mkString(", ")}")
    val selected = (if (names.isEmpty) SparkEntry.queries.keys.toSeq else names.toSeq).sorted
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
    // (name, records). A crashing query must surface as a failure
    // count in the emitted line, NOT fold into the total as a ~0 s
    // timing (round 4: 8 analysis-failing queries read as instant
    // successes and the bench line still claimed n_queries=160).
    val rows = selected.map(name => name -> row(spark, sfDir, name, reps, SparkEntry.queries(name)))
    // (name, min seconds over reps, every rep ok)
    val results = rows.map { case (name, recs) =>
      (name, recs.map(_.seconds).min, recs.forall(_.ok))
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
    val total = results.map(_._2).sum
    val failed = results.filter(!_._3)
    val failedNames = failed.map(_._1).sorted
    val slowest = results.sortBy(-_._2).take(25)
    val qs = slowest.map { case (k, v, _) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    // Full per-query timings and the per-rep records go to a side file
    // so bench_compare.py can regression-check ALL queries, not just
    // the top-25 of the line, and name the layer that moved.
    val fullQs = results.map { case (k, v, _) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val rowsJson = rows.map { case (k, recs) =>
      "\"" + k + "\":" + recs.map(_.json).mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val failedJson = failedNames.map("\"" + _ + "\"").mkString("[", ",", "]")
    val probesJson = probes.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val probesEndJson = probesEnd.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    // events the bus dropped this run: nonzero flags every record as
    // a possible undercount
    val dropped = org.apache.spark.graft.ListenerDrain.dropped(spark.sparkContext)
    val fullLine =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n_queries":${results.size},"failed":${failed.size},"failed_names":$failedJson,"probes":$probesJson,"probes_end":$probesEndJson,"queries":$fullQs,"sf":"$sfDir","config":$config,"listener_dropped":$dropped,"rows":$rowsJson}"""
    val outPath = graft.io.Knobs.benchOut
    try {
      java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
        (fullLine + "\n").getBytes("UTF-8"))
    } catch { // side artifact only — never fail bench, but say so: a
      // silent miss would let bench_compare read a STALE file
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] full-timings write to $outPath failed: $e")
    }
    println(s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n_queries":${results.size},"failed":${failed.size},"probes":$probesJson,"probes_end":$probesEndJson,"queries":$qs,"sf":"$sfDir"}""")
    spark.stop()
  }
}
