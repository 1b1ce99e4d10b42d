package graft

import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterEach
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** Shared local SparkSession for all suites (one JVM under
  * Test/fork := true — a per-suite session would pay ~10 s startup
  * each). The harness session every main runs (`Sessions.harness`),
  * with a fixed small master and a throwaway warehouse. After each
  * test the thread's CacheRegistry ledger is drained, as every harness
  * does after its action: a test that runs a tracked operator leaves
  * no pins for a later test to re-cache. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterEach {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(dir: String): String = s"/root/testdata/$dir"

  override protected def afterEach(): Unit =
    try graft.scale.CacheRegistry.drain() finally super.afterEach()

  /** Ids of the RDDs the SparkContext holds persisted. */
  def persistentRddIds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Whether none of `ids` is persisted any more, polling up to 15 s:
    * unpersist(blocking = false) and execution-end release are async. */
  def awaitGone(ids: Set[Int]): Boolean = {
    val deadline = System.nanoTime() + 15_000_000_000L
    while (ids.intersect(persistentRddIds).nonEmpty && System.nanoTime() < deadline)
      Thread.sleep(50)
    ids.intersect(persistentRddIds).isEmpty
  }

  /** Every log line (logger: message) emitted while `body` runs, caught
    * by an appender on the root logger. */
  def logDuring(body: => Unit): Seq[String] = {
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val app = new AbstractAppender("spark-spec-log", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        lines.add(s"${e.getLoggerName}: ${e.getMessage.getFormattedMessage}")
    }
    app.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val root = ctx.getConfiguration.getRootLogger
    root.addAppender(app, null, null)
    ctx.updateLoggers()
    try body
    finally { root.removeAppender(app.getName); ctx.updateLoggers(); app.stop() }
    lines.asScala.toSeq
  }
}

object SparkSpec {
  lazy val session: SparkSession = graft.io.Sessions.harness(
    // local[4, 2]: allow ONE task retry, like a real cluster
    // (spark.task.maxFailures defaults to 4 there; plain local[N]
    // pins it to 1 and silently masks retry-nondeterminism bugs).
    // TaskRetrySpec injects first-attempt failures and asserts the
    // retried output is bit-identical; deliberate-failure negative
    // tests elsewhere just pay one extra (fast) attempt.
    master = "local[4, 2]",
    shufflePartitions = "4",
    conf = Map("spark.sql.warehouse.dir" ->
      java.nio.file.Files.createTempDirectory("graft_wh").toString))
}
