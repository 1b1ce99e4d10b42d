package graft.scale

import java.nio.file.{Files, Paths}

import graft.SparkSpec
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** Checkpoints.free must actually remove a localCheckpoint's blocks
  * from the BlockManager (Dataset.unpersist does NOT — the blocks
  * belong to the RDD inside the LogicalRDD leaf), and the iterative
  * loops must not leak one frame per round (the round-7 OOM: a second
  * 100x scale-harness run died UNABLE_TO_ACQUIRE_MEMORY under
  * accumulated dead round frames). */
class CheckpointsSpec extends SparkSpec {

  test("free releases a localCheckpoint's blocks; values still readable before") {
    val before = persistentRddIds
    val df = spark.range(100).toDF("id").localCheckpoint()
    val added = persistentRddIds -- before
    assert(added.nonEmpty, "localCheckpoint registered no persistent RDD")
    assert(df.agg(sum(col("id"))).head().getLong(0) == 4950L)
    Checkpoints.free(df)
    assert(awaitGone(added), s"checkpoint blocks survived free(): $added")
  }

  test("free is a no-op on a non-checkpoint frame") {
    Checkpoints.free(spark.range(10).toDF("id")) // must not throw
  }

  test("free logs no truncated-lineage warning and leaves the log config alone") {
    val ctx = org.apache.logging.log4j.LogManager.getContext(false)
      .asInstanceOf[org.apache.logging.log4j.core.LoggerContext]
    def loggerConfigs = ctx.getConfiguration.getLoggers.asScala.toMap
      .map { case (name, cfg) => name -> cfg.getExplicitLevel }
    val before = loggerConfigs
    val freed = logDuring(Checkpoints.free(spark.range(50).toDF("id").localCheckpoint()))
    assert(!freed.exists(_.contains("was locally checkpointed")), freed.mkString("\n"))
    assert(loggerConfigs == before, "free() changed the log4j logger config")
  }

  test("a loop whose step fails frees the live round's cut before rethrowing") {
    var live = -1
    var pinned = false
    val err = intercept[IllegalStateException] {
      Iterate.untilStable("failing", spark.range(100).toDF("id"), 5,
          Seq(count(lit(1)).as("n"))) { (df, round) =>
        if (round == 2) {
          live = df.queryExecution.logical
            .asInstanceOf[org.apache.spark.sql.execution.LogicalRDD].rdd.id
          pinned = persistentRddIds.contains(live)
          throw new IllegalStateException("step failed")
        }
        df.filter(col("id") >= round)
      }
    }
    assert(err.getMessage == "step failed")
    assert(pinned, s"round 1's cut (rdd $live) was not pinned during round 2")
    assert(awaitGone(Set(live)), s"round 1's cut (rdd $live) survived the failure")
  }

  test("source guard: only Iterate frees a round's lineage cut; no checkpoint-interval option") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"missing source root $root")
    val files = {
      val w = Files.walk(root)
      try w.iterator().asScala.toList finally w.close()
    }.filter(_.toString.endsWith(".scala"))
    // code only: a comment may name the call
    val call = """Checkpoints\.free\b""".r
    def calls(p: java.nio.file.Path): Int =
      Files.readAllLines(p).asScala.map(_.trim)
        .filterNot(l => l.startsWith("//") || l.startsWith("*") || l.startsWith("/*"))
        .map(l => call.findAllIn(l.split("//")(0)).size).sum
    def scale(f: String) = Paths.get("graft", "scale", f)
    val owners = Seq(scale("Iterate.scala"), scale("Checkpoints.scala"))
    val offenders = files.filterNot(p => owners.exists(p.endsWith))
      .map(p => p -> calls(p))
      // CacheRegistry.scala: the one release of ledgered final frames
      .filter { case (p, n) => n > (if (p.endsWith(scale("CacheRegistry.scala"))) 1 else 0) }
    assert(offenders.isEmpty,
      s"free a round's cut through graft.scale.Iterate, not in: ${offenders.mkString(", ")}")
    val knob = "checkpoint" + "Interval" // split: src/ names it nowhere
    val withKnob = files.filter(p => Files.readString(p).contains(knob))
    assert(withKnob.isEmpty, s"$knob is gone; found in: ${withKnob.mkString(", ")}")
  }

  test("a long CC run retains only O(1) checkpointed frames, not O(rounds)") {
    import spark.implicits._
    val before = persistentRddIds
    // 40-hop chain: ~40 min-label rounds, each with a checkpoint
    val edges = (1L to 40L).map(i => (i + 1, i)).toDF("src", "dst")
    val out = ConnectedComponents.run(edges)
    assert(out.count() == 41)
    val retained = (persistentRddIds -- before).size
    // the final labels frame (and transiently one predecessor) may
    // remain; 40 retained frames = the leak this spec exists to catch
    assert(retained <= 4,
      s"CC run leaked $retained checkpointed frames for ~40 rounds")
  }
}
