package graft.io

import java.lang.reflect.Modifier
import java.nio.file.{Files, Paths}

import graft.SparkSpec

import scala.jdk.CollectionConverters._

/** Knobs is the one environment reader: one parsing rule per type, a
  * malformed value fails with the variable's name, and the snapshot
  * every artifact is stamped with names every knob. */
class KnobsSpec extends SparkSpec {

  private def knobs(kv: (String, String)*) = new Knobs(kv.toMap)

  private def rejects(name: String, raw: String)(read: Knobs => Any): Unit = {
    val e = intercept[IllegalArgumentException](read(knobs(name -> raw)))
    assert(e.getMessage.contains(name) && e.getMessage.contains(s"'$raw'"),
      s"message must name $name and '$raw': ${e.getMessage}")
  }

  test("unset knobs run the documented defaults") {
    val k = knobs()
    val cores = Runtime.getRuntime.availableProcessors
    assert(k.cpus == cores && k.master == s"local[$cores]" && k.shufflePartitions == cores)
    assert(k.sfDir == "/root/testdata/sf0.1" && k.benchOut == "/tmp/graft_bench_full.json")
    // an empty or blank value counts as unset
    assert(knobs("SPARK_GRAFT_CPUS" -> " ").cpus == cores)
    assert(knobs("SPARK_GRAFT_MASTER" -> "").master == s"local[$cores]")
  }

  test("parseBool accepts 1/0/true/false in any case and nothing else") {
    for (v <- Seq("1", "true", "TRUE", " True "))
      assert(Knobs.parseBool("spark.graft.checkpoint.reliable", v), v)
    for (v <- Seq("0", "false", "False"))
      assert(!Knobs.parseBool("spark.graft.checkpoint.reliable", v), v)
    for (v <- Seq("on", "yes", "2", "")) {
      val e = intercept[IllegalArgumentException](
        Knobs.parseBool("spark.graft.checkpoint.reliable", v))
      assert(e.getMessage.contains("spark.graft.checkpoint.reliable") &&
        e.getMessage.contains(s"'$v'"), e.getMessage)
    }
  }

  test("integers outside their range or not integers fail with the name") {
    rejects("SPARK_GRAFT_CPUS", "0")(_.cpus)
    rejects("SPARK_GRAFT_CPUS", "8.0")(_.cpus)
    rejects("SPARK_GRAFT_CPUS", "4g")(_.cpus)
    rejects("SPARK_GRAFT_SHUFFLE", "-5")(_.shufflePartitions)
    rejects("SPARK_GRAFT_SHUFFLE", (Int.MaxValue.toLong + 1).toString)(_.shufflePartitions)
    val k = knobs("SPARK_GRAFT_CPUS" -> "3")
    assert(k.master == "local[3]" && k.shufflePartitions == 3)
    // a malformed CPUS fails every knob derived from it
    rejects("SPARK_GRAFT_CPUS", "x")(_.master)
    // the snapshot reads every knob, so one malformed knob fails it
    rejects("SPARK_GRAFT_SHUFFLE", "x")(_.snapshot)
  }

  test("snapshot names every knob that has an accessor") {
    // SessionsSpec checks the names: every SPARK_GRAFT_ name in the
    // sources is a snapshot key
    val snap = knobs().snapshot
    val accessors = classOf[Knobs].getDeclaredMethods.toSeq
      .filter(m => Modifier.isPublic(m.getModifiers) && !Modifier.isStatic(m.getModifiers) &&
        !m.isSynthetic && m.getParameterCount == 0)
      .map(_.getName).filterNot(_ == "snapshot")
    assert(accessors.size == snap.size,
      s"${accessors.size} accessors (${accessors.sorted.mkString(", ")}) " +
        s"but ${snap.size} snapshot entries")
  }

  test("configJson carries master, shuffle partitions and every knob, escaped") {
    val k = knobs("SPARK_GRAFT_SF_DIR" -> "/tmp/a\"b\tc")
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(k.configJson(spark))
    assert(json.get("master").asText == spark.sparkContext.master)
    assert(json.get("spark.sql.shuffle.partitions").asText ==
      spark.conf.get("spark.sql.shuffle.partitions"))
    assert(json.get("SPARK_GRAFT_SF_DIR").asText == "/tmp/a\"b\tc")
    assert(json.get("SPARK_GRAFT_BENCH_OUT").asText == "/tmp/graft_bench_full.json")
    assert(json.get("git_sha").asText.matches("unknown|[0-9a-f]{40}(-dirty)?"),
      json.get("git_sha").asText)
    // the stamp is the three session fields plus exactly the five knobs
    assert(json.fieldNames().asScala.toSet == Set("master", "spark.sql.shuffle.partitions",
      "git_sha", "SPARK_GRAFT_CPUS", "SPARK_GRAFT_MASTER", "SPARK_GRAFT_SHUFFLE",
      "SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_BENCH_OUT"), json)
  }

  test("source guard: only io/Knobs.scala reads the process environment") {
    val calls = Seq("sys" + ".env", "System" + ".getenv")
    val roots = Seq("src/main/scala", "src/test/scala").map(Paths.get(_))
    roots.foreach(r => assert(Files.isDirectory(r), s"missing source root $r"))
    val offenders = roots.flatMap { r =>
      val files = Files.walk(r)
      try files.iterator().asScala.toList finally files.close()
    }.filter(_.toString.endsWith(".scala"))
      .filterNot(_.endsWith(Paths.get("graft", "io", "Knobs.scala")))
      .filter { p => val src = Files.readString(p); calls.exists(src.contains) }
    assert(offenders.isEmpty,
      s"read SPARK_GRAFT_* knobs through graft.io.Knobs, not in: ${offenders.mkString(", ")}")
  }
}
