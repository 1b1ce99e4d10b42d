package graft.scale

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** The query scope of persisted state: what one query pins and must
  * release once its action has run. The session scope — state built
  * once and reused by later queries — is [[MemoPool]].
  *
  * An operator that pins a frame for one query calls [[pin]] and
  * returns a plain DataFrame: the pin goes into the calling thread's
  * ledger, and the harness releases it with [[drain]] after its action
  * (Bench after `count()`, Verify after the parquet write, specs after
  * collect). No release travels in a return value — round 4 showed why
  * that cannot work for `SparkEntry.queries`, whose signature is fixed
  * at `(SparkSession, String) => DataFrame`: Bench/Verify are ONE
  * long-lived session running every query, and the graph queries'
  * unreleased pins (BFS frontiers, oriented edge lists, the sssp pair
  * base) accumulated until LRU pressure cleared them, evicting caches
  * other queries were still using; and every wrapper that dropped a
  * returned release leaked the same way.
  *
  * Thread-local on purpose: Verify runs queries concurrently on a
  * pool, and a session-global drain from one thread would unpersist
  * frames a query on another thread is mid-computing — correct (Spark
  * recomputes) but a silent perf cliff. Builder and action always
  * share a thread in every harness, so thread scope is exactly query
  * scope. Drain is a no-op for never-computed persist marks (plan-only
  * walks like PlanShapeSpec).
  */
object CacheRegistry {

  private val local = ThreadLocal.withInitial[List[() => Unit]](() => Nil)

  /** Record a release for the next same-thread [[drain]]. */
  private def deposit(release: () => Unit): Unit =
    local.set(release :: local.get())

  /** Persist `df` at MEMORY_AND_DISK until the next same-thread
    * [[drain]]: the one way an operator pins a frame for one query. */
  def pin(df: DataFrame): DataFrame = {
    val pinned = df.persist(StorageLevel.MEMORY_AND_DISK)
    track(pinned)
    pinned
  }

  /** Record frames a callee persisted for its own reasons, so the
    * drain releases them: Enrichment's `fresh` predictions, which
    * [[graft.imdb.ImdbPipeline.run]]'s returned frame still reads. */
  def track(dfs: DataFrame*): Unit =
    deposit(() => dfs.foreach(_.unpersist(blocking = false)))

  /** Record localCheckpoint'ed frames — the loop-final frames that
    * outlive the query action. Their blocks live on the RDD inside
    * the LogicalRDD leaf, which Dataset.unpersist never reaches, so
    * they release via Checkpoints.free. */
  def trackCheckpointed(dfs: DataFrame*): Unit =
    deposit(() => dfs.foreach(Checkpoints.free))

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
    if (idStr == null) {
      deposit(() => rdd.unpersist(blocking = false)); return
    }
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
    * returns the release count (0 = nothing pinned, the common case). */
  def drain(): Int = {
    val rs = local.get()
    local.set(Nil)
    rs.foreach(_())
    rs.size
  }
}
