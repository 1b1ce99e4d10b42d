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
    assert(k.cachedCoalesce && k.kill)
    assert(!k.rocksDbStateStore && !k.reliableCkpt && !k.streamNoData && !k.ckptChecksum)
    assert(k.ckptDir.isEmpty && k.benchOnly.isEmpty)
    assert(k.memoCapMb == 4096L && k.lshMaxBucket == 1024 && k.streamSlices == 2)
    assert(k.killDelayMs == 4000L && k.killCount == 1 && k.killRepeatMs == 0L)
    // an empty or blank value counts as unset
    assert(knobs("SPARK_GRAFT_STREAM_SLICES" -> " ").streamSlices == 2)
  }

  test("a size with a unit fails instead of running the default cap") {
    // SPARK_GRAFT_MEMO_CAP_MB=4g used to run silently with 4096 MB
    rejects("SPARK_GRAFT_MEMO_CAP_MB", "4g")(_.memoCapMb)
    rejects("SPARK_GRAFT_MEMO_CAP_MB", "0")(_.memoCapMb)
    assert(knobs("SPARK_GRAFT_MEMO_CAP_MB" -> "512").memoCapMb == 512L)
  }

  test("booleans accept 1/0/true/false in every knob and nothing else") {
    // STREAM_NODATA and CKPT_CHECKSUM used to honour only "1"
    for (v <- Seq("1", "true", "TRUE", " True ")) {
      assert(knobs("SPARK_GRAFT_STREAM_NODATA" -> v).streamNoData, v)
      assert(knobs("SPARK_GRAFT_CKPT_CHECKSUM" -> v).ckptChecksum, v)
      assert(knobs("SPARK_GRAFT_RELIABLE_CKPT" -> v).reliableCkpt, v)
    }
    for (v <- Seq("0", "false", "False")) {
      assert(!knobs("SPARK_GRAFT_CACHED_COALESCE" -> v).cachedCoalesce, v)
      assert(!knobs("SPARK_GRAFT_KILL" -> v).kill, v)
    }
    rejects("SPARK_GRAFT_STREAM_NODATA", "yes")(_.streamNoData)
    rejects("SPARK_GRAFT_KILL", "2")(_.kill)
    val e = intercept[IllegalArgumentException](
      Knobs.parseBool("spark.graft.checkpoint.reliable", "on"))
    assert(e.getMessage.contains("spark.graft.checkpoint.reliable"))
  }

  test("a state-store name outside hdfs/rocksdb fails") {
    // SPARK_GRAFT_STATE_STORE=rocks used to keep the default provider
    rejects("SPARK_GRAFT_STATE_STORE", "rocks")(_.rocksDbStateStore)
    assert(knobs("SPARK_GRAFT_STATE_STORE" -> "RocksDB").rocksDbStateStore)
    assert(!knobs("SPARK_GRAFT_STATE_STORE" -> "hdfs").rocksDbStateStore)
  }

  test("integers outside their range or not integers fail with the name") {
    rejects("SPARK_GRAFT_STREAM_SLICES", "0")(_.streamSlices)
    rejects("SPARK_GRAFT_STREAM_SLICES", "4097")(_.streamSlices)
    rejects("SPARK_GRAFT_STREAM_SLICES", "two")(_.streamSlices)
    rejects("SPARK_GRAFT_LSH_MAX_BUCKET", "-1")(_.lshMaxBucket)
    rejects("SPARK_GRAFT_CPUS", "8.0")(_.cpus)
    rejects("SPARK_GRAFT_KILL_DELAY_MS", "-5")(_.killDelayMs)
    val k = knobs("SPARK_GRAFT_CPUS" -> "3", "SPARK_GRAFT_STREAM_SLICES" -> "16")
    assert(k.master == "local[3]" && k.shufflePartitions == 3 && k.streamSlices == 16)
    // the snapshot reads every knob, so one malformed knob fails it
    rejects("SPARK_GRAFT_KILL_COUNT", "x")(_.snapshot)
  }

  test("snapshot names every knob that has an accessor") {
    val snap = knobs().snapshot
    val src = Files.readString(Paths.get("src/main/scala/graft/io/Knobs.scala"))
    val named = "SPARK_GRAFT_[A-Z_0-9]+".r.findAllIn(src).toSet
    assert(snap.keySet == named,
      s"in Knobs.scala but not the snapshot: ${named -- snap.keySet}; " +
        s"in the snapshot only: ${snap.keySet -- named}")
    val accessors = classOf[Knobs].getDeclaredMethods.toSeq
      .filter(m => Modifier.isPublic(m.getModifiers) && !Modifier.isStatic(m.getModifiers) &&
        !m.isSynthetic && m.getParameterCount == 0)
      .map(_.getName).filterNot(_ == "snapshot")
    assert(accessors.size == snap.size,
      s"${accessors.size} accessors (${accessors.sorted.mkString(", ")}) " +
        s"but ${snap.size} snapshot entries")
  }

  test("configJson carries master, shuffle partitions and every knob, escaped") {
    val k = knobs("SPARK_GRAFT_CKPT_DIR" -> "/tmp/a\"b\tc")
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(k.configJson(spark))
    assert(json.get("master").asText == spark.sparkContext.master)
    assert(json.get("spark.sql.shuffle.partitions").asText ==
      spark.conf.get("spark.sql.shuffle.partitions"))
    assert(json.get("SPARK_GRAFT_CKPT_DIR").asText == "/tmp/a\"b\tc")
    assert(json.get("SPARK_GRAFT_BENCH_ONLY").isNull)
    k.snapshot.keys.foreach(n => assert(json.has(n), n))
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
