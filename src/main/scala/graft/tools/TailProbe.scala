package graft.tools

/** Phase attribution for the sub-second bench tail (VERDICT r14 item
  * 3, guide §1.1): for each named query, split the wall time Bench
  * would charge into
  *   build — the `fn(spark, sfDir)` call (DataFrame construction:
  *           parquet footer/schema reads, memo lookups, any eager
  *           driver work a builder does);
  *   plan  — forcing `queryExecution.executedPlan` (analysis +
  *           optimization + physical planning, pre-AQE);
  *   exec  — the `.count()` action (AQE re-planning + jobs).
  * Bench's per-row seconds = build + plan + exec (same session shape,
  * same action). Run REPS times; the MIN of each phase is the floor
  * the suite-order noise sits on.
  *
  * Usage: runMain graft.tools.TailProbe <sfDir> <q1,q2,...|top=N> [reps]
  *   top=N — probe the N alphabetically-first queries? No: the N
  *   SLOWEST is bench-order-dependent, so callers pass names.
  */
object TailProbe {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: TailProbe <sfDir> <q1,q2,...> [reps]")
    val sfDir = args(0)
    val qs = args(1).split(",").map(_.trim).filter(_.nonEmpty)
    val reps = if (args.length > 2) args(2).toInt else 3
    val spark = graft.io.Sessions.harness()
    // warmup like Bench
    try {
      spark.range(1000000).selectExpr("sum(id)").collect()
      spark.read.parquet(s"$sfDir/lineitem.parquet").count()
    } catch { case _: Throwable => }

    println(f"${"query"}%-28s ${"build"}%8s ${"plan"}%8s ${"exec"}%8s ${"total"}%8s")
    qs.foreach { name =>
      graft.SparkEntry.queries.get(name) match {
        case None => System.err.println(s"[tailprobe] unknown query: $name")
        case Some(fn) =>
          val phases = (1 to reps).map { _ =>
            val t0 = System.nanoTime()
            val df = fn(spark, sfDir)
            val t1 = System.nanoTime()
            df.queryExecution.executedPlan // force physical planning
            val t2 = System.nanoTime()
            df.count()
            val t3 = System.nanoTime()
            graft.scale.CacheRegistry.drain()
            ((t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9)
          }
          val b = phases.map(_._1).min
          val p = phases.map(_._2).min
          val e = phases.map(_._3).min
          println(f"$name%-28s $b%8.3f $p%8.3f $e%8.3f ${b + p + e}%8.3f")
      }
    }
    spark.stop()
  }
}
