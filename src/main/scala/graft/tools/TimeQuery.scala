package graft.tools

import graft.SparkEntry

/** Single-query timing harness: run one named query N times against a
  * scale dir and print per-run seconds. Dev tool for the perf
  * workflow — Bench runs the whole suite once; this isolates one query
  * from suite-order cache effects and amortizes JVM/session startup
  * across repeats.
  *
  * Usage: runMain graft.tools.TimeQuery <sfDir> <queryName> [repeats]
  */
object TimeQuery {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val name = args(1)
    val repeats = if (args.length > 2) args(2).toInt else 3
    val spark = graft.io.Sessions.harness()
    // session warmup as in Bench
    spark.range(1000000).selectExpr("sum(id)").collect()
    (1 to repeats).foreach { i =>
      val t0 = System.nanoTime()
      val n = SparkEntry.queries(name)(spark, sfDir).count()
      val s = (System.nanoTime() - t0) / 1e9
      graft.scale.CacheRegistry.drain() // mirror Bench's post-action release
      println(f"[timequery] run $i: $s%.3f s ($n rows)")
    }
    spark.stop()
  }
}
