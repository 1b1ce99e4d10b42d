package graft.io

import java.nio.file.{Files, Paths}

import graft.SparkSpec
import graft.expr.{CollapseAccentFold, GraftExtensions}
import graft.plans.{AsOfJoinStrategy, RunningSumStrategy, Top1WindowToMaxBy}
import org.apache.spark.sql.internal.SQLConf

import scala.jdk.CollectionConverters._

/** The harness session is the one configuration every main and every
  * suite plans and runs under. */
class SessionsSpec extends SparkSpec {

  test("harness session: UTC, nanosAsLong, graft rules once, both strategies, SQL functions") {
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    // parallelism-first coalescing on, SMJ->SHJ rewrite off: the
    // measured choices the Sessions scaladoc records
    val conf = spark.sessionState.conf
    assert(conf.getConf(SQLConf.COALESCE_PARTITIONS_PARALLELISM_FIRST))
    assert(conf.getConf(SQLConf.ADAPTIVE_MAX_SHUFFLE_HASH_JOIN_LOCAL_MAP_THRESHOLD) == 0L)

    GraftExtensions.install(spark) // a second install adds nothing
    val rules = spark.experimental.extraOptimizations
    assert(rules.count(_ == Top1WindowToMaxBy) == 1, s"rules: $rules")
    assert(rules.count(_ == CollapseAccentFold) == 1, s"rules: $rules")
    val strategies = spark.experimental.extraStrategies
    assert(strategies.count(_ == AsOfJoinStrategy) == 1, s"strategies: $strategies")
    assert(strategies.count(_ == RunningSumStrategy) == 1, s"strategies: $strategies")

    assert(spark.sql("SELECT accent_fold('Déstiny') AS t").first().getString(0) == "Destiny")
  }

  test("source guard: only io/Sessions.scala builds a SparkSession") {
    val call = "SparkSession" + ".builder"
    val roots = Seq("src/main/scala", "src/test/scala").map(Paths.get(_))
    roots.foreach(r => assert(Files.isDirectory(r), s"missing source root $r"))
    val offenders = roots.flatMap { r =>
      val files = Files.walk(r)
      try files.iterator().asScala.toList finally files.close()
    }.filter(_.toString.endsWith(".scala"))
      .filterNot(_.endsWith(Paths.get("graft", "io", "Sessions.scala")))
      .filter(p => Files.readString(p).contains(call))
    assert(offenders.isEmpty,
      s"build sessions through graft.io.Sessions.harness, not in: ${offenders.mkString(", ")}")
  }
}
