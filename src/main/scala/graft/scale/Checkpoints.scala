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

  /** Releases a dead lineage cut: deletes a reliable checkpoint's
    * files, or drops a local checkpoint's blocks through
    * [[org.apache.spark.graft.DropBlocks]], which logs nothing and
    * touches no logger: `RDD.unpersist` would log a truncated-lineage
    * WARN per round for a frame nothing reads again. */
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
      org.apache.spark.graft.DropBlocks(l.rdd)
    case _ => () // not a checkpoint leaf — nothing to free
  }
}
