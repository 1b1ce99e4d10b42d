package graft.scale

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Release the cached blocks behind a `localCheckpoint`ed DataFrame.
  *
  * [[Iterate]] — the round loop of ConnectedComponents, KCore and the
  * MMR rerank — truncates lineage per round with an eager
  * `localCheckpoint` — but the checkpoint's blocks belong to the RDD
  * wrapped inside the resulting plan's `LogicalRDD` leaf, which
  * `Dataset.unpersist()` (a CacheManager call) never reaches. Without
  * an explicit release every ROUND of every iterative query leaks its
  * full state frame into the BlockManager for the session's lifetime;
  * a long harness session (Bench/Verify run 210 queries; the scale
  * harness runs 100x corpora) accumulates gigabytes of dead blocks and
  * eventually starves execution memory (observed round 7: the second
  * 100x g_pagerank run died UNABLE_TO_ACQUIRE_MEMORY after three CC
  * modes' round frames piled up).
  *
  * Contract: call on round N-1's frame only AFTER round N's checkpoint
  * has materialized (eager=true does) — the new checkpoint owns its
  * own blocks, so the parent's are dead by then. The FINAL frame of a
  * loop is the caller's result and must stay alive.
  */
object Checkpoints {

  /** True when lineage cuts must survive executor loss.
    *
    * `localCheckpoint` stores its blocks ON the executors — Spark's
    * documented contract is that losing any executor holding them
    * fails the job (the lineage is truncated, so nothing can be
    * recomputed). Under `local[32]` that's unreachable; under
    * `local-cluster` it's one kill -9 away, and on a preemptible
    * 100 TB cluster it makes an iterative query die on ANY single
    * node loss (VERDICT r13 item 1). Reliable mode swaps every
    * iterative lineage cut to `Dataset.checkpoint()` — files on the
    * checkpoint dir (a shared path locally; HDFS/S3 on a real
    * cluster), which survive executor death and feed task retries.
    * Off by default: local blocks are cheaper and every gate tier
    * below the fault gate doesn't kill executors.
    *
    * Enable with the session conf `spark.graft.checkpoint.reliable=true`
    * (`spark.conf.set`, or `-Dspark.graft.checkpoint.reliable=true` /
    * `--conf` for a whole run). Spark's `spark.checkpoint.dir` sets the
    * checkpoint-file location (default: a TempDirs path, deleted at
    * JVM exit). */
  def reliableMode(s: SparkSession): Boolean =
    s.conf.getOption("spark.graft.checkpoint.reliable")
      .exists(graft.io.Knobs.parseBool("spark.graft.checkpoint.reliable", _))

  private val ckptDirLock = new Object

  private def ensureCheckpointDir(s: SparkSession): Unit =
    ckptDirLock.synchronized {
      if (s.sparkContext.getCheckpointDir.isEmpty)
        s.sparkContext.setCheckpointDir(graft.io.TempDirs.create("graft_reliable_ckpt_"))
    }

  /** THE lineage cut every iterative operator routes through: eager
    * localCheckpoint by default (blocks on executors, cheapest), an
    * eager RELIABLE checkpoint when [[reliableMode]] is on (files,
    * survives executor loss). Both shapes return a LogicalRDD-rooted
    * frame that [[free]] can release. */
  def cut(df: DataFrame): DataFrame = {
    val s = df.sparkSession
    if (reliableMode(s)) { ensureCheckpointDir(s); df.checkpoint() }
    else df.localCheckpoint()
  }

  // Unpersisting a locally-checkpointed RDD logs a per-RDD WARN
  // ("lineage has been truncated and cannot be recomputed") — a real
  // hazard for live frames, pure noise under this object's
  // dead-frames-only contract. Suppress it ONLY around our own
  // unpersist call (the message is emitted synchronously inside
  // RDD.unpersist on the calling thread) and undo the suppression
  // after, so the warning still fires for frames anyone else
  // unpersists by mistake — permanently silencing the logger JVM-wide
  // hid exactly the hazard it flags (VERDICT r8 item 5). The undo
  // distinguishes "logger had an explicit level" (restore it) from
  // "level was inherited" (REMOVE the config we created — restoring
  // the effective level as an explicit one would pin the logger and
  // detach it from later root-level changes like setLogLevel).
  // Honest limitation: log4j levels are JVM-global, so a truncated-
  // lineage WARN from a DIFFERENT thread landing inside this
  // microseconds-wide window is suppressed too — scoping to the
  // message would need a custom filter; the window is one
  // non-blocking unpersist call. `free` runs once per ROUND of an
  // iterative operator, never per row, so the Configurator calls are
  // off the hot path; calls are serialized so concurrent frees cannot
  // restore a stale level.
  private val lineageLogger = "org.apache.spark.rdd.MapPartitionsRDD"
  private val freeLock = new Object

  def free(df: DataFrame): Unit = df.queryExecution.logical match {
    case l: org.apache.spark.sql.execution.LogicalRDD
        if l.rdd.getCheckpointFile.isDefined =>
      // RELIABLE checkpoint: the frame's truth is files, not blocks —
      // delete its rdd-<id> dir so a long harness session doesn't
      // accumulate one dead snapshot per round of every iterative
      // query on disk (the file twin of the r7 BlockManager leak).
      val p = new org.apache.hadoop.fs.Path(l.rdd.getCheckpointFile.get)
      try p.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
        .delete(p, true)
      catch { case scala.util.control.NonFatal(e) =>
        // TempDirs reaps the whole dir at JVM exit anyway — log, don't
        // fail the query over cleanup
        System.err.println(s"[checkpoints] reliable-ckpt cleanup of $p failed: $e")
      }
    case l: org.apache.spark.sql.execution.LogicalRDD =>
      freeLock.synchronized {
        val ctx = org.apache.logging.log4j.LogManager.getContext(false)
          .asInstanceOf[org.apache.logging.log4j.core.LoggerContext]
        val ownConfig = ctx.getConfiguration.getLoggerConfig(lineageLogger)
        val hadExplicit = ownConfig.getName == lineageLogger
        // getExplicitLevel, not getLevel: getLevel resolves the
        // EFFECTIVE (inherited, never-null) level, which would pin an
        // explicit-config/inherited-level logger to an explicit level
        // on restore and detach it from later root changes (review
        // r10) — explicit null round-trips as null through setLevel
        val prev = if (hadExplicit) ownConfig.getExplicitLevel else null
        org.apache.logging.log4j.core.config.Configurator.setLevel(
          lineageLogger, org.apache.logging.log4j.Level.ERROR)
        try l.rdd.unpersist(blocking = false)
        finally {
          if (hadExplicit)
            // restore on the EXACT pre-existing config object:
            // LoggerConfig.setLevel(null) puts back "explicit config,
            // inherited level" — Configurator.setLevel(name, null)
            // does not guarantee that (ADVICE r9) — and setLevel(prev)
            // puts back the explicit level; one path covers both
            { ownConfig.setLevel(prev); ctx.updateLoggers() }
          else {
            ctx.getConfiguration.removeLogger(lineageLogger)
            ctx.updateLoggers()
          }
        }
      }
    case _ => () // not a checkpoint leaf — nothing to free
  }
}
