package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterEach
import org.scalatest.funsuite.AnyFunSuite

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
