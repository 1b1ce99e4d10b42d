package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Per-JOB time attribution inside a query (optimization-round
  * measurement harness, guide §1.1/§7.1 without a live UI): runs the
  * named SparkEntry queries exactly like Bench (same session shape,
  * same `.count()` action) with a listener recording every job's wall
  * time, stage count, task count, and the callsite it launched from —
  * the breakdown the Spark UI's Jobs page would show.
  *
  * Usage: runMain graft.tools.JobProbe <sfDir> <q1,q2,...> [reps]
  */
object JobProbe {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: JobProbe <sfDir> <q1,q2,...> [reps]")
    val sfDir = args(0)
    val qs = args(1).split(",").map(_.trim).filter(_.nonEmpty)
    val reps = if (args.length > 2) args(2).toInt else 1
    val spark = graft.io.Sessions.harness()
    // warmup like Bench
    try {
      spark.range(1000000).selectExpr("sum(id)").collect()
      spark.read.parquet(s"$sfDir/lineitem.parquet").count()
    } catch { case _: Throwable => }

    final case class JobRec(id: Int, var desc: String, start: Long,
                            var end: Long = -1L, var stages: Int = 0,
                            var tasks: Int = 0)
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
    val order = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val d = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(Option(e.properties)
            .flatMap(p => Option(p.getProperty("callSite.short"))))
          .getOrElse("")
        jobs.put(e.jobId, JobRec(e.jobId, d, e.time))
        order.add(e.jobId)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        Option(jobs.get(e.jobId)).foreach(_.end = e.time)
      }
    }
    spark.sparkContext.addSparkListener(listener)

    qs.foreach { name =>
      graft.SparkEntry.queries.get(name) match {
        case None => System.err.println(s"[jobprobe] unknown query: $name")
        case Some(fn) =>
          (1 to reps).foreach { r =>
            jobs.clear(); order.clear()
            val t0 = System.nanoTime()
            fn(spark, sfDir).count()
            val secs = (System.nanoTime() - t0) / 1e9
            graft.scale.CacheRegistry.drain()
            // listener bus is async — DRAIN it rather than sleeping a
            // fixed 300 ms (ADVICE r14: a loaded bus dropped late
            // onJobEnd events, printing -1 durations)
            org.apache.spark.graft.ListenerDrain(spark.sparkContext)
            println(f"== $name rep $r: $secs%.3f s, ${jobs.size} jobs")
            val it = order.iterator()
            while (it.hasNext) {
              val j = jobs.get(it.next())
              if (j != null) {
                val dur = if (j.end > 0) (j.end - j.start) / 1000.0 else -1.0
                val d = if (j.desc.length > 90) j.desc.take(90) else j.desc
                println(f"   job ${j.id}%3d  ${dur}%7.3f s  $d")
              }
            }
          }
      }
    }
    spark.sparkContext.removeSparkListener(listener)
    spark.stop()
  }
}
