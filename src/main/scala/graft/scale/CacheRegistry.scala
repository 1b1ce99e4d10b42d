package graft.scale

/** The query scope of persisted state: what one query pins and must
  * release once its action has run. The session scope — state built
  * once and reused by later queries — is [[MemoPool]].
  *
  * The iterative graph operators pin intermediates and return handles
  * ([[PageRank.runTracked]]) for the caller to release once its action
  * has run. Direct callers use that contract. `SparkEntry.queries`
  * CANNOT: its signature is fixed at `(SparkSession, String) =>
  * DataFrame`, so handles have no way to ride the return value — and
  * round 4 showed the consequence: Bench/Verify are ONE long-lived
  * session running 160 queries, and the graph queries' unreleased pins
  * (BFS frontiers, oriented edge lists, the sssp pair base)
  * accumulated until LRU pressure cleared them, evicting caches other
  * queries were still using.
  *
  * Query builders deposit handles here; each harness drains AFTER its
  * action (Bench after `count()`, Verify after the parquet write, specs
  * after collect). Thread-local on purpose: Verify runs queries
  * concurrently on a pool, and a session-global drain from one thread
  * would unpersist frames a query on another thread is mid-computing —
  * correct (Spark recomputes) but a silent perf cliff. Builder and
  * action always share a thread in every harness, so thread scope is
  * exactly query scope. Drain is a no-op for never-computed persist
  * marks (plan-only walks like PlanShapeSpec).
  */
object CacheRegistry {

  /** Persisted state of one query, with its one release. */
  final class Handle(free: () => Unit) {
    def release(): Unit = free()
  }

  /** A handle that unpersists `dfs`. */
  def handle(dfs: Seq[org.apache.spark.sql.DataFrame]): Handle =
    new Handle(() => dfs.foreach(_.unpersist(blocking = false)))

  private val local = ThreadLocal.withInitial[List[Handle]](() => Nil)

  /** Record a handle for release at the next same-thread [[drain]]. */
  def track(h: Handle): Unit = local.set(h :: local.get())

  /** Record bare persisted frames. */
  def track(dfs: org.apache.spark.sql.DataFrame*): Unit = track(handle(dfs))

  /** Record localCheckpoint'ed frames — the loop-final frames that
    * outlive the query action. Their blocks live on the RDD inside
    * the LogicalRDD leaf, which Dataset.unpersist never reaches, so
    * they release via Checkpoints.free. */
  def trackCheckpointed(dfs: org.apache.spark.sql.DataFrame*): Unit =
    track(new Handle(() => dfs.foreach(Checkpoints.free)))

  /** Record raw persisted RDDs (physical operators persisting below
    * the Dataset layer, e.g. plans/RunningSumExec's sorted child). */
  def trackRdd(rdds: org.apache.spark.rdd.RDD[_]*): Unit =
    track(new Handle(() => rdds.foreach(_.unpersist(blocking = false))))

  // ---- execution-scoped RDD release (physical-operator persists) ----
  //
  // A SparkPlan's doExecute CANNOT use the thread-local ledger: under
  // AQE (Spark 4 wraps the final plan in a ResultQueryStageExec) it
  // runs on an AQE materialization-pool thread, so a thread-local
  // deposit lands where no harness ever drains (caught by
  // RunningSumRideSpec r13). Instead, release at SQL-EXECUTION END:
  // the persist is keyed by the execution id doExecute runs under
  // (propagated to the AQE pool), and a context listener unpersists
  // when that execution's SparkListenerSQLExecutionEnd arrives —
  // deterministic, per-query, and safe under Verify's concurrent dump
  // pool (each execution releases only its own RDDs).

  private val pendingRdds = new java.util.concurrent.ConcurrentHashMap[
    Long, List[org.apache.spark.rdd.RDD[_]]]()
  private val listenerInstalled =
    java.util.Collections.synchronizedSet(new java.util.HashSet[String]())

  /** Unpersist `rdd` when the CURRENT SQL execution ends. Falls back
    * to the thread-local ledger when called outside any SQL execution
    * (raw RDD actions — the caller's drain() still reaches it). */
  def releaseOnExecutionEnd(rdd: org.apache.spark.rdd.RDD[_]): Unit = {
    val sc = rdd.sparkContext
    val idStr = sc.getLocalProperty(
      org.apache.spark.sql.execution.SQLExecution.EXECUTION_ID_KEY)
    if (idStr == null) { trackRdd(rdd); return }
    if (listenerInstalled.add(sc.applicationId)) {
      sc.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onOtherEvent(
            event: org.apache.spark.scheduler.SparkListenerEvent): Unit =
          event match {
            case e: org.apache.spark.sql.execution.ui
                .SparkListenerSQLExecutionEnd =>
              val rdds = pendingRdds.remove(e.executionId)
              if (rdds != null) rdds.foreach(_.unpersist(blocking = false))
            case _ => ()
          }
      })
    }
    pendingRdds.merge(idStr.toLong, List(rdd), (a, b) => b ::: a)
  }

  /** Release everything tracked on THIS thread since the last drain;
    * returns the handle count (0 = nothing pinned, the common case). */
  def drain(): Int = {
    val hs = local.get()
    local.set(Nil)
    hs.foreach(_.release())
    hs.size
  }
}
