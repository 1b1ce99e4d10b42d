package graft.tools

/** Gate observability tool (round 13, VERDICT r12 item 3): run the six
  * real-StreamExecution rows at a tier and print each query's
  * PER-BATCH state-operator progression (batchId, operator,
  * numRowsTotal, numRowsUpdated, stateMemoryBytes) plus the provider
  * engagement evidence (rocksdb* custom-metric keys when
  * SPARK_GRAFT_STATE_STORE=rocksdb). The correctness of the rows is
  * gated separately by Verify + selfcheck; this records the state
  * metrics the gate artifact cites.
  *
  * Usage: runMain graft.tools.StreamStateProbe <sfDir> [q1,q2,...]
  */
object StreamStateProbe {
  private val StreamRows = Seq(
    "st_tumbling_stream_exec", "st_sessions_stream_exec",
    "st_cdc_stream_exec", "st_dedup_stream_exec",
    "st_late_drop_stream_exec", "st_join_stream_exec",
    "st_restart_stream_exec")

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val rows = if (args.length > 1) args(1).split(",").toSeq else StreamRows
    val spark = graft.io.Sessions.harness()
    rows.foreach { name =>
      val t0 = System.nanoTime()
      val n = graft.SparkEntry.queries(name)(spark, sfDir).count()
      graft.scale.CacheRegistry.drain()
      val secs = (System.nanoTime() - t0) / 1e9
      println(f"== $name: $n rows, $secs%.1f s")
      val rec = graft.streaming.StreamExec.last.get()
      rec.batchProgress.foreach {
        case (batch, op, total, updated, removed, mem) =>
          println(f"   batch=$batch op=$op rowsTotal=$total " +
            f"rowsUpdated=$updated rowsRemoved=$removed stateMemBytes=$mem")
      }
      rec.batchDurations.foreach {
        case (batch, inRows, dur) =>
          val keys = Seq("triggerExecution", "addBatch", "queryPlanning",
            "getBatch", "latestOffset", "walCommit", "commitOffsets")
          val shown = keys.flatMap(k => dur.get(k).map(v => s"$k=$v"))
          println(s"   batch=$batch inputRows=$inRows " + shown.mkString(" "))
      }
      rec.stateOps.foreach {
        case (op, _, keys) =>
          val rocks = keys.filter(_.startsWith("rocksdb"))
          println(s"   provider-evidence op=$op rocksdbKeys=${rocks.size}")
      }
      if (name == "st_restart_stream_exec") {
        val (a, b) = rec.restartBatches
        println(s"   restart-evidence leg1Batches=$a leg2Batches=$b")
      }
    }
    spark.stop()
  }
}
