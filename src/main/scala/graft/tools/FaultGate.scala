package graft.tools

import java.nio.file.{Files, Paths}

/** Fault-injection gate (round 14, VERDICT r13 item 1): run gated
  * rows SEQUENTIALLY under a real multi-JVM master while killing one
  * executor JVM mid-query, and record per-row survive/fail. The r13
  * cluster tier proved serialization across executor boundaries; this
  * tool proves (or honestly fails to prove) RECOVERY — lost shuffle
  * files must re-compute via stage retry, lost cache blocks via
  * lineage, and the iterative operators' `localCheckpoint` blocks are
  * *by Spark contract* unrecoverable (truncated lineage), which is
  * exactly what `spark.graft.checkpoint.reliable` /
  * SPARK_GRAFT_RELIABLE_CKPT=1 (Checkpoints.cut) exists to fix.
  *
  * Usage:
  *   spark-submit --master 'local-cluster[3,8,8192]' \
  *     --class graft.tools.FaultGate <jar> <sfDir> <outDir> <q1,q2,...>
  *
  * Env:
  *   SPARK_GRAFT_KILL_DELAY_MS  ms after a query STARTS before the
  *     kill fires (default 4000; skipped if the query finished first
  *     — the gate line says so)
  *   SPARK_GRAFT_KILL_COUNT     executors SIGKILLed per kill event
  *     (default 1; 2 = kill two of the three at once, which defeats
  *     the few-partition survival odds that made d_cluster's leg-C
  *     survival probabilistic)
  *   SPARK_GRAFT_KILL_REPEAT_MS repeat the kill event every this many
  *     ms while the query is still running (default 0 = single kill)
  *     — the rolling-preemption shape of a spot-instance fleet
  *   SPARK_GRAFT_KILL=0         disable killing (baseline leg)
  *   SPARK_GRAFT_RELIABLE_CKPT=1 reliable-checkpoint leg
  *
  * Output: one line per query —
  *   `name SURVIVED(nRows, secs, killed=pid@+ms)` or
  *   `name FAILED(<error head>, killed=pid@+ms)` or `killed=none`
  * — plus a Verify-compatible parquet dump per survivor and
  * oracle_sql.json, so tools/selfcheck.py gates the survivors'
  * CORRECTNESS (survival without equality would be vacuous).
  *
  * Executor discovery is /proc-based (CoarseGrainedExecutorBackend in
  * the cmdline), which is exactly the process set local-cluster
  * spawns; the driver JVM never matches. Kills pick the HIGHEST pid —
  * the youngest executor — so repeated kills hit replacements too,
  * proving the standalone master's relaunch actually happened.
  */
object FaultGate {

  private def executorPids(): Seq[Long] = {
    val self = ProcessHandle.current().pid()
    val procs = new java.io.File("/proc").listFiles()
    if (procs == null) return Nil
    procs.toSeq
      .filter(f => f.getName.forall(_.isDigit))
      .flatMap { f =>
        try {
          val cmd = new String(
            Files.readAllBytes(Paths.get(s"/proc/${f.getName}/cmdline")),
            "UTF-8")
          if (cmd.contains("CoarseGrainedExecutorBackend") &&
              f.getName.toLong != self) Some(f.getName.toLong)
          else None
        } catch { case _: Throwable => None }
      }
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, namesCsv) = args.take(3)
    val names = namesCsv.split(",").map(_.trim).filter(_.nonEmpty)
    val unknown = names.filterNot(graft.SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    val killDelayMs = graft.io.Knobs.killDelayMs
    val killCount = graft.io.Knobs.killCount
    val killRepeatMs = graft.io.Knobs.killRepeatMs
    val killEnabled = graft.io.Knobs.kill
    // ERROR: executor-loss WARN spam. The harness's state-store switch
    // lets the stream fault legs run the 100 TB state backend.
    val spark = graft.io.Sessions.harness(logLevel = "ERROR")
    new java.io.File(outDir).mkdirs()
    println(s"[fault-gate] master=${spark.sparkContext.master} " +
      s"kill=${if (killEnabled) s"+${killDelayMs}ms" else "off"} " +
      s"reliableCkpt=${graft.scale.Checkpoints.reliableMode(spark)} " +
      s"executors=${executorPids().sorted.mkString(",")}")

    names.foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      println(s"[fault-gate] START $name")
      val done = new java.util.concurrent.atomic.AtomicBoolean(false)
      val killNote = new java.util.concurrent.atomic.AtomicReference("none")
      val t0 = System.nanoTime()
      val killer = new Thread(() => {
        try {
          Thread.sleep(killDelayMs)
          var rounds = 0
          while (!done.get()) {
            val victims = executorPids().sorted.takeRight(killCount)
            if (victims.nonEmpty) {
              victims.foreach { v =>
                new ProcessBuilder("kill", "-9", v.toString)
                  .inheritIO().start().waitFor()
              }
              val atMs = (System.nanoTime() - t0) / 1000000L
              val note = victims.mkString("+") + s"@+${atMs}ms"
              killNote.set(
                if (rounds == 0) note else s"${killNote.get()}, $note")
              println(s"[fault-gate] KILLED executor pid(s)=" +
                s"${victims.mkString(",")} at +${atMs}ms")
            } else if (rounds == 0) killNote.set("no-executor-found")
            rounds += 1
            if (killRepeatMs <= 0) return
            Thread.sleep(killRepeatMs)
          }
          if (rounds == 0) killNote.set("query-finished-first")
        } catch { case _: InterruptedException => () }
      }, s"fault-gate-killer-$name")
      if (killEnabled) killer.start()
      val outcome =
        try {
          val df = fn(spark, sfDir)
          df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
          val n = spark.read.parquet(s"$outDir/$name").count()
          val secs = (System.nanoTime() - t0) / 1e9
          f"SURVIVED($n rows, $secs%.1f s"
        } catch { case e: Throwable =>
          val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
            .linesIterator.next().take(160)
          try Files.writeString(
            Paths.get(s"$outDir/$name/_FAILED.txt"),
            { new java.io.File(s"$outDir/$name").mkdirs(); msg })
          catch { case _: Throwable => () }
          s"FAILED($msg"
        } finally {
          done.set(true)
          graft.scale.CacheRegistry.drain()
        }
      if (killEnabled) killer.join()
      println(s"[fault-gate] $name $outcome, killed=${killNote.get()})")
    }

    // oracle_sql.json for selfcheck.py — survivors must also be RIGHT
    import graft.io.Knobs.{quote => q}
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      graft.SparkEntry.oracleSql
        .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}"))
    // selfcheck.py's completeness contract (same as Verify): #dumps +
    // #errors must equal "expected", else the gate reads as shrunk
    val failed = names.filter(n =>
      Files.exists(Paths.get(s"$outDir/$n/_FAILED.txt")))
    Files.writeString(Paths.get(s"$outDir/_errors.json"),
      failed.map(n => s"${q(n)}: ${q("fault-gate kill")}")
        .mkString(s"""{"expected": ${names.length}, "errors": {""", ",", "}}"))
    spark.stop()
  }
}
