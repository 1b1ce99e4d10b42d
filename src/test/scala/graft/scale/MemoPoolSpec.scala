package graft.scale

import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import graft.SparkSpec
import org.apache.spark.storage.StorageLevel

/** The byte cap of the session-lifetime memo pool must really evict
  * (VERDICT r14 item 2): before the pool, the memo bases were
  * MEMORY_AND_DISK frames that nothing ever unpersisted — memory
  * pressure only moved them to disk, where blocks are NOT
  * LRU-reclaimed, so a long session accumulated every family's base
  * on disk without bound. */
class MemoPoolSpec extends SparkSpec {

  private def entry(name: String, rows: Long) =
    MemoPool.getOrBuild(spark, "memo_pool_spec", name) {
      spark.range(rows).selectExpr("id", "id * 2 AS v")
        .persist(StorageLevel.MEMORY_AND_DISK)
    }(Seq(_))

  test("over-cap builds evict the least-recently-used entry") {
    MemoPool.clear(spark)
    MemoPool.capOverrideBytes = Some(64L * 1024) // 64 KB — tiny
    try {
      // NOTE: distinct row counts — Spark's CacheManager keys cached
      // data by PLAN EQUALITY, so two identical plans would share one
      // cache entry and the eviction arithmetic would alias
      val a = entry("spec_a", 100000L)
      a.count() // materialize: ~1.6 MB cached, already over the cap
      assert(MemoPool.pooledBytes(spark) > 64L * 1024)
      val b = entry("spec_b", 120000L)
      b.count() // materializing b makes a the LRU victim...
      entry("spec_b", 120000L) // ...on the next pool access
      assert(!MemoPool.pooledNames(spark).contains("spec_a"),
        "LRU entry survived an over-cap access")
      assert(a.storageLevel == StorageLevel.NONE,
        "evicted entry's frame was not unpersisted")
      // an evicted entry transparently rebuilds on next use
      val a2 = entry("spec_a", 100000L)
      assert(a2.count() === 100000L)
    } finally {
      MemoPool.capOverrideBytes = None
      MemoPool.clear(spark)
    }
  }

  test("under-cap entries stay memoized (same instance back)") {
    MemoPool.clear(spark)
    try {
      val a = entry("spec_stable", 10L)
      a.count()
      assert(entry("spec_stable", 10L) eq a)
      assert(MemoPool.pooledNames(spark).contains("spec_stable"))
    } finally MemoPool.clear(spark)
  }

  test("clear unpersists and forgets") {
    val a = entry("spec_clear", 10L)
    a.count()
    MemoPool.clear(spark)
    assert(!MemoPool.pooledNames(spark).contains("spec_clear"))
    assert(a.storageLevel == StorageLevel.NONE)
  }

  private def value(name: String)(build: => AnyRef): AnyRef =
    MemoPool.getOrBuild(spark, "memo_pool_spec", name)(build)(_ => Nil)

  test("a build may call getOrBuild: 64 nested fresh names") {
    // a ConcurrentHashMap insert from inside computeIfAbsent throws
    // "Recursive update" once it lands in the outer key's bin or
    // resizes the table — 64 fresh keys always do one of the two
    val tag = java.util.UUID.randomUUID.toString
    try {
      val outer = value(s"outer_$tag") {
        (0 until 64).map(i => value(s"inner_${tag}_$i")(Integer.valueOf(i)))
      }
      assert(outer == (0 until 64).map(Integer.valueOf))
      val names = MemoPool.pooledNames(spark)
      assert(names.contains(s"outer_$tag"))
      assert((0 until 64).forall(i => names.contains(s"inner_${tag}_$i")))
      assert(value(s"outer_$tag")(sys.error("rebuilt")) eq outer)
    } finally MemoPool.clear(spark)
  }

  test("a build that throws leaves no entry; the next call rebuilds") {
    val builds = new AtomicInteger(0)
    def attempt(fail: Boolean) = value("spec_throws") {
      builds.incrementAndGet()
      if (fail) throw new IllegalStateException("planted build failure")
      "built"
    }
    try {
      intercept[IllegalStateException](attempt(fail = true))
      assert(!MemoPool.pooledNames(spark).contains("spec_throws"))
      assert(attempt(fail = false) == "built")
      assert(attempt(fail = true) == "built") // memoized: no third build
      assert(builds.get() == 2)
    } finally MemoPool.clear(spark)
  }

  test("one build per key; callers of other keys never wait on it") {
    val pool = Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val started = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    val builds = new AtomicInteger(0)
    def slow = value("spec_slow") {
      builds.incrementAndGet()
      started.countDown()
      assert(release.await(60, TimeUnit.SECONDS))
      new Object
    }
    try {
      val a = Future(slow)
      assert(started.await(60, TimeUnit.SECONDS))
      val b = Future(slow) // same key: waits for a's build
      assert(value("spec_other")("other") == "other") // a is still building
      release.countDown()
      assert(Await.result(a, 60.seconds) eq Await.result(b, 60.seconds))
      assert(builds.get() == 1)
    } finally {
      release.countDown()
      pool.shutdown()
      MemoPool.clear(spark)
    }
  }

  test("source guard: no per-session cache map outside scale/MemoPool.scala") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"missing source root $root")
    val files = {
      val w = Files.walk(root)
      try w.iterator().asScala.toList finally w.close()
    }.filter(_.toString.endsWith(".scala"))
      .filterNot(_.endsWith(Paths.get("graft", "scale", "MemoPool.scala")))
    val forbidden = Seq(
      """ConcurrentHashMap\[\s*\(SparkSession""".r,
      """sparkContext\.isStopped""".r)
    val offenders = files.filter { p =>
      val src = Files.readString(p)
      forbidden.exists(_.findFirstIn(src).isDefined)
    }
    assert(offenders.isEmpty,
      s"memoize per session through graft.scale.MemoPool, not in: ${offenders.mkString(", ")}")
  }
}
