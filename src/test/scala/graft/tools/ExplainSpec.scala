package graft.tools

import java.nio.file.{Files, Paths}

import graft.SparkSpec

/** The plan-audit tool on the shared session: a plan file per known
  * name, a report for an unknown one, and the session left running. */
class ExplainSpec extends SparkSpec {

  test("run writes <name>_<suffix>.txt, reports an unknown name, keeps the session") {
    val out = Files.createTempDirectory("graft_explain").toString
    val err = new java.io.ByteArrayOutputStream()
    Console.withErr(err) {
      Explain.run(spark, Array(sf("sf0.001"), "--out", out, "before", "q1_agg", "no_such_row"))
    }
    assert(new java.io.File(out).list().toSeq == Seq("q1_agg_before.txt"))
    assert(Files.readString(Paths.get(out, "q1_agg_before.txt")).contains("Physical Plan"))
    assert(err.toString.contains("unknown query: no_such_row"), err.toString)
    assert(!spark.sparkContext.isStopped && spark.range(3).count() == 3)
  }
}
