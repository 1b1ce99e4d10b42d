package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.util.LongAccumulator

import graft.imdb.{Enrichment, ImdbPipeline, Metadata, Readers}

object Ops {
  /** Prefix of every job description the harness sets; jobs without it
    * are attributed to the running operation by time. */
  val KeyPrefix = "pb|"
}

/** One timed operation: a query row, or one IMDB pipeline stage. */
final case class OpRec(id: Int, name: String, startNs: Long,
                       endNs: Long, startMs: Long, endMs: Long, ok: Boolean,
                       error: String, phases: Map[String, Double],
                       extra: Map[String, Double]) {
  def key: String = s"${Ops.KeyPrefix}$name"
}

/** A traced interval: spans of one operation share `op`; `parent` is
  * the id of the enclosing span, or -1. */
final case class Span(id: Int, name: String, startNs: Long, endNs: Long,
                      parent: Int, op: Int)

/** Counts genre predictions; otherwise exactly the stub predictor. */
final class CountingPredictor(calls: LongAccumulator)
    extends Enrichment.GenrePredictor {
  override def predictBatch(batch: Seq[Enrichment.MovieMeta]): Seq[(String, String)] = {
    calls.add(batch.size.toLong)
    Enrichment.StubPredictor.predictBatch(batch)
  }
}

/** Benchmark harness. One client in a closed loop: one operation at a
  * time on one `local[4]` session, one pass over the workload. The
  * harness times calls into the program's public functions and never
  * changes them; it writes every sample to `<out>/result.json`, which
  * perfbench/run.py turns into metrics after checking the outputs this
  * harness dumps.
  *
  * Arguments (all `--name value`): workload (imdb | rows), inputs, out,
  * trace (0|1), rows (comma list), trees, plant (comma list of test
  * faults: build_sleep:<row>:<ms>, extra_job:<row>, wrong_result:<row>).
  */
object Main {

  private val Cores = 4

  private def now: Long = System.nanoTime()

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val inputs = args("inputs")
    val out = args("out")
    val trace = args.getOrElse("trace", "0") == "1"
    val rows = args.getOrElse("rows", "").split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val trees = args.getOrElse("trees", "300").toInt
    val plants = args.getOrElse("plant", "").split(",").filter(_.nonEmpty)
      .map(_.split(":").toSeq).toSeq
    def planted(kind: String, row: String): Option[Seq[String]] =
      plants.find(p => p.head == kind && p(1) == row)

    val memoLog = new MemoLog(System.err)
    System.setErr(new java.io.PrintStream(memoLog, true, "UTF-8"))
    val work = Paths.get(out).toAbsolutePath.toString
    Files.createDirectories(Paths.get(work))

    // ---- set-up, once and cold: JVM start (before main), session
    // build with the graft rules and functions registered, warm-up
    val procStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val mainMs = System.currentTimeMillis()
    val t0 = now
    val spark = {
      val s = graft.io.Sessions.tuned(SparkSession.builder())
        .master(s"local[$Cores]")
        .config("spark.sql.shuffle.partitions", Cores.toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.local.dir", s"$work/spark-local")
        .config("spark.sql.warehouse.dir", s"$work/warehouse")
        .getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      s.experimental.extraOptimizations =
        s.experimental.extraOptimizations :+
          graft.plans.Top1WindowToMaxBy :+ graft.expr.CollapseAccentFold
      graft.expr.GraftFunctions.register(s)
      s
    }
    val t1 = now
    spark.range(1000000).selectExpr("sum(id)").collect()
    if (workload == "imdb") Readers.loadTrain(spark, s"$inputs/train-*.csv").count()
    else spark.read.parquet(s"$inputs/lineitem.parquet").count()
    val setupEndMs = System.currentTimeMillis()
    val setup = Map(
      "jvm_s" -> (mainMs - procStartMs) / 1e3,
      "session_s" -> (t1 - t0) / 1e9,
      "warmup_s" -> (now - t1) / 1e9,
      "total_s" -> (setupEndMs - procStartMs) / 1e3)
    val sc = spark.sparkContext
    val counters = new SparkCounters
    val streams = new StreamCounters
    if (trace) {
      sc.addSparkListener(counters)
      sc.addSparkListener(streams)
    }

    // ---- host probes, at both ends of the measured region
    val scanPath = if (workload == "imdb") None else Some(s"$inputs/lineitem.parquet")
    def probes(): Map[String, Double] = {
      def timed(f: => Unit): Double = { val t0 = now; f; (now - t0) / 1e9 }
      Map(
        "cpu" -> timed {
          var x = 0x9e3779b97f4a7c15L; var i = 0
          while (i < 50000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
          if (x == 42L) System.err.println("probe sentinel")
        },
        "shuffle" -> timed {
          spark.range(0L, 2000000L, 1L, 8).selectExpr("id % 1000 AS k")
            .groupBy("k").count().selectExpr("sum(count)").collect()
        },
        "scan" -> timed {
          scanPath match {
            case Some(p) => spark.read.parquet(p).selectExpr("sum(l_quantity)").collect()
            case None => spark.read.text(s"$inputs/train-*.csv").count()
          }
        })
    }
    val probesStart = probes()

    // ---- measured region
    val ops = mutable.ArrayBuffer[OpRec]()
    val spans = mutable.ArrayBuffer[Span]()
    def span(name: String, s: Long, e: Long, parent: Int, op: Int): Int = {
      if (trace) spans += Span(spans.size, name, s, e, parent, op)
      spans.size - 1
    }
    val calls = sc.longAccumulator("perfbench.predictor_calls")
    var engineeredS = 0.0
    val layers = mutable.LinkedHashMap[String, Double]()

    def afterOp(opId: Int): Map[String, Double] = {
      if (!trace) return Map.empty
      org.apache.spark.perfbench.Bus.drain(sc)
      Map(
        "pooled_bytes" -> graft.scale.MemoPool.pooledBytes(spark).toDouble,
        "cached_bytes" -> sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum.toDouble)
    }

    def runRow(name: String): Unit = {
      val fn = graft.SparkEntry.queries(name)
      val id = ops.size
      val key = s"${Ops.KeyPrefix}$name"
      streams.currentOp = id
      sc.setJobDescription(key)
      val m0 = System.currentTimeMillis()
      val t0 = now
      var t1, t2, t3 = t0
      var err: String = null
      var result: Option[(Array[org.apache.spark.sql.Row], org.apache.spark.sql.types.StructType)] = None
      try {
        val df = fn(spark, inputs)
        planted("build_sleep", name).foreach(p => Thread.sleep(p(2).toLong))
        planted("extra_job", name).foreach(_ => sc.parallelize(1 to 10, 1).count())
        t1 = now
        if (trace) df.queryExecution.executedPlan
        t2 = now
        result = Some((df.collect(), df.schema))
        t3 = now
      } catch {
        case e: Throwable =>
          err = Option(e.getMessage).getOrElse(e.getClass.getName).take(300)
          System.err.println(s"[perfbench] $name FAILED: $err")
          t3 = now; if (t1 == t0) t1 = t3; if (t2 == t0) t2 = t3
      }
      sc.setJobDescription(null)
      graft.scale.CacheRegistry.drain()
      val t4 = now
      val m1 = System.currentTimeMillis()
      val extra = afterOp(id)
      System.err.println(f"[perfbench] $name ${(t4 - t0) / 1e9}%.3f s ok=${err == null}")
      saveResult(spark, s"$work/rows/$name", result.map { case (rs, schema) =>
        (if (planted("wrong_result", name).isDefined) rs ++ rs.take(1) else rs, schema)
      }, err)
      val root = span("op", t0, t4, -1, id)
      span("build", t0, t1, root, id); span("plan", t1, t2, root, id)
      span("exec", t2, t3, root, id); span("drain", t3, t4, root, id)
      ops += OpRec(id, name, t0, t4, m0, m1, err == null, err,
        Map("build_s" -> (t1 - t0) / 1e9, "plan_s" -> (t2 - t1) / 1e9,
          "exec_s" -> (t3 - t2) / 1e9, "drain_s" -> (t4 - t3) / 1e9), extra)
    }

    val movies = if (workload == "imdb") countMovies(inputs) else 0L
    def runImdb(): Unit = {
      val dir = s"$work/imdb"
      val cfg = ImdbPipeline.Config(
        trainGlob = s"$inputs/train-*.csv", testCsv = s"$inputs/test.csv",
        writingJson = s"$inputs/writing.json",
        directingJson = s"$inputs/directing.json",
        cacheCsv = s"$inputs/genre_cache.csv", resultsDir = dir,
        extraCsv = Some(s"$inputs/tmdb_extra.csv"), numTrees = trees,
        predictor = new CountingPredictor(calls),
        resultPath = Some(s"$dir/predictions"),
        cacheOutDir = Some(s"$dir/genre_cache"))
      val stages = Seq("fit_indexers", "fit_scaler", "train_rf", "predict_write", "cache_write")
      var stageIdx = 0
      def stageKey(i: Int) = s"${Ops.KeyPrefix}imdb.${stages(math.min(i, stages.size - 1))}"
      val pipeStart = now
      val pipeRoot = span("pipeline", pipeStart, pipeStart, -1, ops.size)
      var lastNs = pipeStart
      var lastMs = System.currentTimeMillis()
      var stageSpan = span(s"stage.${stages.head}", pipeStart, pipeStart, pipeRoot, ops.size)
      def closeSpan(id: Int, end: Long): Unit =
        if (trace) spans(id) = spans(id).copy(endNs = end)
      var err: String = null
      sc.setJobDescription(stageKey(0))
      def onStage(stage: String, secs: Double): Unit = {
        val tNs = now; val tMs = System.currentTimeMillis()
        val id = ops.size
        sc.setJobDescription(null)
        val extra = afterOp(id)
        closeSpan(stageSpan, tNs)
        ops += OpRec(id, s"imdb.$stage", lastNs, tNs, lastMs, tMs, true,
          null, Map("stage_s" -> secs), extra)
        stageIdx += 1
        sc.setJobDescription(stageKey(stageIdx))
        lastNs = now; lastMs = System.currentTimeMillis()
        if (stageIdx < stages.size)
          stageSpan = span(s"stage.${stages(stageIdx)}", lastNs, lastNs, pipeRoot, ops.size)
      }
      def tap(name: String, df: DataFrame): Unit = if (trace) {
        val t0 = now
        df.count()
        val t1 = now
        engineeredS += (t1 - t0) / 1e9
        span(s"tap.$name", t0, t1, stageSpan, ops.size)
      }
      try ImdbPipeline.run(spark, cfg, onStage, tap)
      catch {
        case e: Throwable =>
          err = Option(e.getMessage).getOrElse(e.getClass.getName).take(300)
          System.err.println(s"[perfbench] imdb FAILED: $err")
      }
      sc.setJobDescription(null)
      if (err != null) {
        val t = now
        ops += OpRec(ops.size, "imdb.failed", lastNs, t, lastMs,
          System.currentTimeMillis(), false, err, Map.empty, Map.empty)
      }
      closeSpan(pipeRoot, now)
    }

    // Layer calls outside the pipeline, traced runs only, after the
    // measured region so the traced pipeline starts as cold as the
    // untraced one: each layer's public entry point timed on inputs the
    // previous layer cached.
    def imdbLayers(): Unit = {
      val t0 = now
      val train = Readers.loadTrain(spark, s"$inputs/train-*.csv").cache()
      val test = Readers.loadTest(spark, s"$inputs/test.csv").cache()
      val writing = Readers.loadWriting(spark, s"$inputs/writing.json").cache()
      val directing = Readers.loadDirecting(spark, s"$inputs/directing.json").cache()
      val cache = Readers.loadGenreCache(spark, s"$inputs/genre_cache.csv").cache()
      Seq(train, test, writing, directing, cache).foreach(_.count())
      val t1 = now
      val merged = Metadata.mergeMetadata(ImdbPipeline.preprocess(train), writing, directing).cache()
      merged.count()
      val t2 = now
      val (genres, fresh) = Enrichment.enrich(spark, merged, cache, Enrichment.StubPredictor)
      genres.count()
      val t3 = now
      layers("imdb.Readers.s") = (t1 - t0) / 1e9
      layers("imdb.Metadata.s") = (t2 - t1) / 1e9
      layers("imdb.Enrichment.s") = (t3 - t2) / 1e9
      val root = span("layers", t0, t3, -1, -1)
      span("Readers", t0, t1, root, -1); span("Metadata", t1, t2, root, -1)
      span("Enrichment", t2, t3, root, -1)
      Seq(train, test, writing, directing, cache, merged, fresh).foreach(_.unpersist(true))
    }

    val gcBefore = gcSeconds()
    val ioBefore = procWriteBytes()
    val firstOpMs = System.currentTimeMillis()
    val measureStart = now
    if (workload == "imdb") runImdb() else rows.foreach(runRow)
    val measureEnd = now
    val gcS = gcSeconds() - gcBefore
    val writeBytes = procWriteBytes() - ioBefore
    val peakRssMb = vmHwmKb() / 1024.0
    val probesEnd = probes()
    if (workload == "imdb" && trace) imdbLayers()
    if (trace) org.apache.spark.perfbench.Bus.drain(sc)

    // ---- result
    val opCounters: Map[Int, Map[String, Double]] =
      if (!trace) Map.empty
      else ops.map(o => o.id -> counters.attribute(o.key, o.startMs, o.endMs)).toMap
    val memoByPayer = memoLog.synchronized(memoLog.builds.toList)
    val oracle = graft.SparkEntry.oracleSql.filter { case (k, _) => rows.contains(k) }
    val result = Map(
      "workload" -> workload,
      "stamp" -> Map(
        "master" -> sc.master, "cores" -> Cores,
        "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
        "spark_version" -> spark.version,
        "graft_env" -> sys.env.filter(_._1.startsWith("SPARK_GRAFT_")),
        "java_version" -> System.getProperty("java.version"),
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576L),
      "setup" -> setup,
      "proc_start_to_first_op_s" -> (firstOpMs - procStartMs) / 1e3,
      "probes_start" -> probesStart, "probes_end" -> probesEnd,
      "measured_s" -> (measureEnd - measureStart) / 1e9,
      "ops" -> ops.map { o =>
        Map("id" -> o.id, "name" -> o.name,
          "wall_s" -> (o.endNs - o.startNs) / 1e9, "ok" -> o.ok, "error" -> o.error,
          "phases" -> o.phases, "extra" -> o.extra,
          "spark" -> opCounters.getOrElse(o.id, Map.empty),
          "memo_builds" -> memoByPayer.filter(_._1 == o.key).map(b => Seq(b._2, b._3 / 1e3)))
      },
      "batches" -> streams.batches.synchronized(streams.batches.toList).map { b =>
        Map("op" -> b.op, "input_rows" -> b.inputRows, "state_rows" -> b.stateRows,
          "state_bytes" -> b.stateBytes,
          "durations_ms" -> b.durations)
      },
      "imdb" -> Map("predictor_calls" -> calls.sum, "movies" -> movies,
        "engineered_s" -> engineeredS, "layers" -> layers.toMap),
      "proc" -> Map("peak_rss_mb" -> peakRssMb, "gc_s" -> gcS, "write_bytes" -> writeBytes),
      "oracle_sql" -> oracle,
      "spans" -> spans.map(s => Seq(s.id, s.name, s.startNs, s.endNs, s.parent, s.op)))
    Files.write(Paths.get(work, "result.json"), Json(result).getBytes("UTF-8"))
    spark.stop()
  }

  /** A row's collected result as one parquet file for the checks, or
    * a `_FAILED.txt` marker; written after the operation's timed
    * region. */
  private def saveResult(spark: SparkSession, dir: String,
                         result: Option[(Array[org.apache.spark.sql.Row],
                           org.apache.spark.sql.types.StructType)],
                         err: String): Unit = {
    spark.sparkContext.setJobDescription("check")
    try result match {
      case Some((rs, schema)) =>
        spark.createDataFrame(java.util.Arrays.asList(rs: _*), schema)
          .coalesce(1).write.mode("overwrite").parquet(dir)
      case None =>
        Files.createDirectories(Paths.get(dir))
        Files.writeString(Paths.get(dir, "_FAILED.txt"), String.valueOf(err))
    } finally spark.sparkContext.setJobDescription(null)
  }

  private def countMovies(inputs: String): Long = {
    def lines(p: java.nio.file.Path) = Files.lines(p).count() - 1
    val dir = Paths.get(inputs)
    val trains = Files.list(dir).toArray.map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.getFileName.toString.matches("train-\\d+\\.csv"))
    trains.map(lines).sum + lines(dir.resolve("test.csv"))
  }

  private def gcSeconds(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum / 1e3
  }

  private def procField(file: String, field: String): Long =
    try {
      import scala.jdk.CollectionConverters._
      Files.readAllLines(Paths.get(file)).asScala.find(_.startsWith(field))
        .map(_.split("\\s+")(1).toLong).getOrElse(0L)
    } catch { case _: Exception => 0L }

  private def procWriteBytes(): Long = procField("/proc/self/io", "write_bytes:")
  private def vmHwmKb(): Long = procField("/proc/self/status", "VmHWM:")
}

/** Minimal JSON writer for the result file. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case n: java.lang.Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
