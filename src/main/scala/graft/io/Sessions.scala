package graft.io

import org.apache.spark.sql.SparkSession

/** How a graft session is configured — the one place that builds one.
  *
  * `harness` is the session every main and the shared test session
  * use; `tuned` is its data-size partitioning default, kept separate
  * because builders outside this module (the benchmark harness) apply
  * it to their own sessions.
  *
  * Scale-ADAPTIVE partition sizing (r15 optimization round, guide §2.2
  * "let AQE coalesce" — partition counts must derive from DATA SIZE,
  * not from the local core count).
  *
  * ONE default changes: `canChangeCachedPlanOutputPartitioning=true`.
  * Its false default disables AQE partition coalescing inside
  * `persist()` materialization, so every memoized base cached at the
  * full session shuffle width and EVERY per-round cache scan of the
  * iterative operators (rank/BFS/CC loops read their cached edge and
  * label frames ~15×/query) launched 32 tasks on KB-sized frames.
  * With the flag on, the cache materializes at AQE's
  * parallelism-first target — never fewer than bytes/minPartitionSize
  * (1 MB) partitions, capped by the cluster's parallelism — which is
  * data-proportional at every tier.
  *
  * Measured, mixed iterative+dedup subset, back-to-back per tier:
  *
  * | config | sf0.1 (local[32]) | sf1 |
  * |---|---|---|
  * | Spark defaults | 60.5 s | 161.0 s |
  * | + canChangeCachedPlanOutputPartitioning=true | 51.6 s | **153.2 s** |
  * | + also parallelismFirst=false (REJECTED) | 51.1 s | 217.1 s |
  *
  * The rejected row is the honest part: `parallelismFirst=false`
  * (which Spark's config doc suggests) matches the win at sf0.1 but
  * CRATERS at sf1 (a10_copurchase 10.9→36.7 s, d_simhash 6.7→20.6 s)
  * because pure byte-based 64 MB reducer targets under-parallelize
  * CPU-heavy object aggregations (collect_set basket build, signature
  * hashing) exactly in the mid-scale band a real cluster also has —
  * the local-only-tuning trap. parallelism-first coalescing stays at
  * the Spark default.
  *
  * AQE's runtime SMJ->SHJ rewrite (guide §3.1,
  * `maxShuffledHashJoinLocalMapThreshold`) also stays at the Spark
  * default (off). Measured at 64m over the 14 SMJ-carrying rows,
  * 3-rep minima back-to-back: 23.46 s (off) vs 23.34 s (on), every
  * per-row delta within ±0.19 s noise — the bench's SMJ sorts ride
  * KB-sized frames where the sort is already cheap.
  */
object Sessions {
  def tuned(b: SparkSession.Builder): SparkSession.Builder =
    b.config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")

  /** The graft harness session: `tuned`, UTC, nanos-as-long parquet
    * timestamps, no UI, the graft rules, strategies and SQL functions.
    *
    * `master` defaults to `SPARK_GRAFT_MASTER`, else
    * `local[SPARK_GRAFT_CPUS]` ([[Knobs]]), which lets a whole run
    * go under real multi-JVM executors (spark-submit --master
    * local-cluster[3,8,8192]) — the only local tier where
    * executor-boundary serialization bugs (the r3 trainingSummary
    * NotSerializable class) can fire.
    *
    * `shufflePartitions` defaults to `SPARK_GRAFT_SHUFFLE`, else the
    * core count. Shuffle partitioning is a DEPLOYMENT knob sized to
    * the data tier, not operator semantics: #cpus is right up to
    * ~sf10, but the sf100 tier's 600M-row distinct needs partitions
    * that fit in one task's aggregation memory (r12 catch: g_sssp_hops
    * died with AGGREGATE_OUT_OF_MEMORY at 32 partitions x 600M rows;
    * 256 runs it). A real cluster sets this to its executor-core count.
    *
    * `conf` entries are applied last and win. */
  def harness(master: String = Knobs.master,
              shufflePartitions: String = Knobs.shufflePartitions.toString,
              conf: Map[String, String] = Map.empty): SparkSession = {
    val b = tuned(SparkSession.builder())
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      // Tables.events' NTZ→TZ normalization must be the identity on
      // wall-clock values in every harness
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet carries TIMESTAMP(NANOS), which Spark only reads
      // as long (nanos since epoch); Tables.events converts back
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
    val spark = conf.foldLeft(b) { case (acc, (k, v)) => acc.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.expr.GraftExtensions.install(spark)
    spark
  }
}
