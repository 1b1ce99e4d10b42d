package graft.scale

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Reliable-checkpoint mode (VERDICT r13 item 1): with
  * `spark.graft.checkpoint.reliable=true`, Checkpoints.cut must write
  * checkpoint FILES (executor-loss-survivable) instead of executor
  * blocks, results must be identical in both modes, and free() must
  * delete the dead snapshot's files so a long harness session doesn't
  * accumulate one per round of every iterative query. */
class ReliableCheckpointSpec extends SparkSpec {

  private def withReliable[T](body: => T): T = {
    spark.conf.set("spark.graft.checkpoint.reliable", "true")
    try body
    finally spark.conf.unset("spark.graft.checkpoint.reliable")
  }

  test("cut in reliable mode writes checkpoint files; default mode writes none") {
    val local = Checkpoints.cut(spark.range(100).toDF("id"))
    assert(local.queryExecution.logical
      .asInstanceOf[org.apache.spark.sql.execution.LogicalRDD]
      .rdd.getCheckpointFile.isEmpty, "default cut must be a localCheckpoint")
    Checkpoints.free(local)
    withReliable {
      val df = Checkpoints.cut(spark.range(100).toDF("id"))
      val file = df.queryExecution.logical
        .asInstanceOf[org.apache.spark.sql.execution.LogicalRDD]
        .rdd.getCheckpointFile
      assert(file.isDefined, "reliable cut produced no checkpoint file")
      val p = new org.apache.hadoop.fs.Path(file.get)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      assert(fs.exists(p), s"checkpoint dir $p missing on disk")
      assert(df.agg(sum(col("id"))).head().getLong(0) == 4950L)
      Checkpoints.free(df)
      assert(!fs.exists(p), s"free() left dead snapshot files at $p")
    }
  }

  test("iterative operators are mode-invariant (pagerank + cc + bfs + kcore)") {
    import graft.io.Tables
    val dir = sf("sf0.001")
    val edges = Tables(spark, dir, "events")
      .select((col("user_id") % 97).cast("long").as("src"),
        (col("event_id") % 97).cast("long").as("dst"))
      .filter(col("src") =!= col("dst")).distinct()
    def runAll(): Seq[Seq[org.apache.spark.sql.Row]] = {
      val pr = {
        // the rank contract: a symmetric, distinct, caller-owned edge frame
        val sym = edges.union(edges.select(col("dst"), col("src"))).distinct()
        val df = PageRank.run(CacheRegistry.pin(PageRank.edgesWithOutdeg(sym)), iters = 3)
        val rows = df.orderBy(col("node")).collect().toSeq
        CacheRegistry.drain(); rows
      }
      val cc = {
        val df = ConnectedComponents.run(edges)
        val rows = df.orderBy(col("node")).collect().toSeq
        CacheRegistry.drain(); rows
      }
      val stars = {
        val df = ConnectedComponents.runStars(edges)
        val rows = df.orderBy(col("node")).collect().toSeq
        CacheRegistry.drain(); rows
      }
      val bfs = {
        val src1 = edges.agg(min(col("src")).as("node"))
        val df = Bfs.hops(edges, src1, iters = 4)
        val rows = df.orderBy(col("node")).collect().toSeq
        CacheRegistry.drain(); rows
      }
      val kc = {
        val canon = edges.select(least(col("src"), col("dst")).as("a"),
          greatest(col("src"), col("dst")).as("b")).distinct()
        val df = KCore.edges(canon, k = 2)
        val rows = df.orderBy(col("a"), col("b")).collect().toSeq
        CacheRegistry.drain(); rows
      }
      Seq(pr, cc, stars, bfs, kc)
    }
    val base = runAll()
    val rel = withReliable { runAll() }
    base.zip(rel).zipWithIndex.foreach { case ((b, r), i) =>
      assert(b == r, s"operator $i diverged between checkpoint modes")
    }
  }
}
