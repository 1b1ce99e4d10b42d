package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM under
  * Test/fork := true — a per-suite session would pay ~10 s startup
  * each). The harness session every main runs (`Sessions.harness`),
  * with a fixed small master and a throwaway warehouse. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(dir: String): String = s"/root/testdata/$dir"
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
