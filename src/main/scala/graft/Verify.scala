package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg (dev only; the driver passes 2): comma-separated
    // query names — dump just those for fast oracle iteration
    val Array(sfDir, outDir) = args.take(2)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    // production-path optimizer rules included (w1's window top-1
    // rewrites to max_by and must STILL hash-match the DuckDB oracle)
    val spark = graft.io.Sessions.harness()
    // stamped into _errors.json; read first, so a malformed knob fails
    // before any dump
    val config = graft.io.Knobs.configJson(spark)
    new java.io.File(outDir).mkdirs()
    // Run query dumps on a small thread pool: Spark's scheduler is
    // thread-safe and most queries leave cores idle between stages, so
    // 4-way overlap roughly halves wall-clock without oversubscribing
    // the executor threads. Each query writes its own directory — no
    // shared state beyond the session.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    // A failed dump must NOT just shrink the gate: record every failure
    // in the out dir (per-query _FAILED.txt marker inside the query's
    // dir so directory-globbing consumers see an err row instead of an
    // absent one, plus an _errors.json summary with the expected query
    // count so selfcheck can assert #dumps + #errors == #queries).
    // Round 4 shipped "152/152 green" while 8 queries silently crashed.
    val errors = new java.util.concurrent.ConcurrentHashMap[String, String]()
    val futures = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) =>
      scala.concurrent.Future {
        // label per query (thread-local, so the concurrent dumps stay
        // correctly attributed) — read by MemoPool's payer= log line
        spark.sparkContext.setJobDescription(name)
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
          System.err.println(s"[verify] $name FAILED: $msg")
          errors.put(name, msg)
          try {
            val d = new java.io.File(s"$outDir/$name")
            d.mkdirs()
            Files.writeString(Paths.get(s"$outDir/$name/_FAILED.txt"), msg)
          } catch { case _: Throwable => () }
        }
        // builder + write share this pool thread: releases exactly
        // this query's tracked persists (graph ops), nobody else's
        finally graft.scale.CacheRegistry.drain()
      }
    }
    scala.concurrent.Await.result(
      scala.concurrent.Future.sequence(futures),
      scala.concurrent.duration.Duration.Inf)
    pool.shutdown()
    // escaped JSON strings: a tab or CR in the oracle SQL would
    // otherwise make json.load fail and silently zero the gate
    import graft.io.Knobs.{quote => q}
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Always written (even when empty) so its ABSENCE is also a signal
    // that Verify died before finishing the dump loop.
    import scala.jdk.CollectionConverters._
    val errJson = errors.asScala.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }
      .mkString("{\"expected\": " +
        only.map(f => SparkEntry.queries.keySet.count(f.contains))
          .getOrElse(SparkEntry.queries.size) +
        ", \"config\": " + config + ", \"errors\": {", ",", "}}")
    Files.writeString(Paths.get(s"$outDir/_errors.json"), errJson)
    if (!errors.isEmpty)
      System.err.println(
        s"[verify] ${errors.size}/${SparkEntry.queries.size} queries FAILED: " +
          errors.keySet.asScala.toSeq.sorted.mkString(", "))
    spark.stop()
  }
}
