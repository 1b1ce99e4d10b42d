package graft.scale

import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.jdk.CollectionConverters._

/** The one session-scoped memo: everything built once per (session,
  * sfDir) and reused by later queries of the same session lives here.
  * That covers the persisted memo bases (coPairs, purchasePairs/
  * purchaseEo, orientedCo, the dedup signature bases, vecs/bruteTopK,
  * the planted JPEG corpus) and the frameless entries: inferred table
  * schemas (`schema/<table>`), the stream staging dirs and their
  * event-time range, the curated corpus and the layout copies. A
  * frameless entry's `framesOf` is `Nil`; it holds no storage.
  *
  * Lifetime: entries of a stopped session are purged lazily, on the
  * next access to the pool. A path-valued entry's directory is a
  * [[graft.io.TempDirs]] dir, deleted at JVM exit.
  *
  * Byte cap: MEMORY_AND_DISK frames are only half-reclaimed by the
  * block manager (memory LRU-evicts to disk, disk blocks stay until
  * unpersist), so a long session spanning several sfDirs would keep
  * every family's base on disk without bound. Every access to a
  * frame-holding entry re-checks the pool's MATERIALIZED byte total
  * (exact cached sizes via the CacheManager accumulator — optimizer
  * estimates never decide an eviction), and the least-recently-used
  * entries are unpersisted until the pool fits the cap. An evicted
  * entry rebuilds on next use. Cap: [[CapMb]], 4096 MB — far above the
  * whole pool at the bench SFs (sub-100 MB at sf0.1).
  *
  * Instrumentation: every build logs `[memo] built <name> ... payer=`
  * with the build wall-ms and the job description of the query that
  * paid (Bench/Verify label each query per guide §1.5), so per-row
  * bench timings stay attributable to the memo-payer slots.
  *
  * Thread-safety: the map holds one [[Entry]] per key, put with a
  * trivial `computeIfAbsent`; the build runs under that entry's own
  * lock, outside any map lock. So concurrent callers of one key build
  * once, callers of other keys never wait on it, and a build may call
  * `getOrBuild` for other keys (most builds read [[graft.io.Tables]],
  * itself a pool entry) — a `ConcurrentHashMap` forbids that from
  * inside `computeIfAbsent` ("Recursive update"). Builds that wait on
  * each other in a cycle would deadlock; the memo graph is acyclic
  * (schemas are its leaves). A build that throws leaves no entry.
  * Eviction may race a query mid-computation on another thread,
  * which is correct (Spark recomputes) and only possible above the
  * cap.
  */
object MemoPool {

  private type Key = (SparkSession, String, String)

  /** One key's slot; `value` is null until its build succeeds. */
  private final class Entry(val key: Key) {
    @volatile var value: AnyRef = _
    @volatile var frames: Seq[DataFrame] = Nil
    @volatile var lastUsed: Long = 0L
  }

  private val entries =
    new java.util.concurrent.ConcurrentHashMap[Key, Entry]()
  private val clock = new java.util.concurrent.atomic.AtomicLong(0L)

  /** The pool's byte cap, in MB. */
  private val CapMb = 4096L

  /** Test seam: the eviction path must be TESTED, not just shipped
    * (MemoPoolSpec), on frames far below the real cap. */
  @volatile private[scale] var capOverrideBytes: Option[Long] = None

  private def capBytes: Long = capOverrideBytes.getOrElse(CapMb * 1024L * 1024L)

  /** Memoize `build` per (session, sfDir, name). `framesOf` lists the
    * persisted frames the value holds — what eviction unpersists and
    * the byte accounting measures. */
  def getOrBuild[T <: AnyRef](s: SparkSession, dir: String, name: String)
      (build: => T)(framesOf: T => Seq[DataFrame]): T = {
    entries.keySet.removeIf(k => k._1.sparkContext.isStopped)
    val key = (s, dir, name)
    var e: Entry = null
    while (e == null) {
      val slot = entries.computeIfAbsent(key, new Entry(_))
      slot.synchronized {
        // a slot whose build threw is out of the map: take a fresh one
        if (slot.value == null && (entries.get(key) eq slot))
          try buildInto(slot, build, framesOf)
          catch { case t: Throwable => entries.remove(key, slot); throw t }
        if (slot.value != null) e = slot
      }
    }
    e.lastUsed = clock.incrementAndGet()
    if (e.frames.nonEmpty) evictOver(s, keep = key)
    e.value.asInstanceOf[T]
  }

  private def buildInto[T <: AnyRef](e: Entry, build: => T,
                                     framesOf: T => Seq[DataFrame]): Unit = {
    val (s, dir, name) = e.key
    val t0 = System.nanoTime()
    val v = build
    val ms = (System.nanoTime() - t0) / 1000000L
    val payer = Option(
      s.sparkContext.getLocalProperty("spark.job.description"))
      .getOrElse("(unlabeled)")
    // stderr like the other harness diagnostics — never stdout,
    // which carries the bench JSON contract line
    System.err.println(
      s"[memo] built $name for $dir in $ms ms payer=$payer")
    e.frames = framesOf(v)
    e.value = v
  }

  /** Built entries of `s`. */
  private def built(s: SparkSession): Iterable[Entry] =
    entries.values.asScala.filter(e => (e.key._1 eq s) && e.value != null)

  /** Materialized bytes currently held by `s`'s pool entries. Exact
    * (CacheManager accumulator); unmaterialized frames count 0 — they
    * hold no storage yet. */
  def pooledBytes(s: SparkSession): Long =
    built(s).flatMap(_.frames)
      .map(f => org.apache.spark.sql.graft.CachedBytes(f)._1)
      .sum

  /** Unpersist least-recently-used entries of `s` until the pool's
    * materialized bytes fit the cap. `keep` (the entry just used) is
    * evicted only if it alone exceeds the cap and nothing else is
    * left. */
  private def evictOver(s: SparkSession, keep: Key): Unit = {
    var total = pooledBytes(s)
    if (total <= capBytes) return
    val victims = built(s)
      .filter(e => e.frames.nonEmpty && e.key != keep)
      .toSeq.sortBy(_.lastUsed)
    val it = victims.iterator
    while (total > capBytes && it.hasNext) {
      val v = it.next()
      if (entries.remove(v.key, v)) {
        val freed = v.frames
          .map(f => org.apache.spark.sql.graft.CachedBytes(f)._1).sum
        v.frames.foreach(_.unpersist(blocking = false))
        System.err.println(s"[memo] evicted ${v.key._3} for ${v.key._2}" +
          s" (${freed / 1024 / 1024} MB) - pool over cap")
        total -= freed
      }
    }
  }

  /** Drop (and unpersist) every built entry of `s` — spec/tool hook
    * for a deterministic clean slate between tiers. */
  def clear(s: SparkSession): Unit =
    built(s).toSeq.foreach { e =>
      if (entries.remove(e.key, e))
        e.frames.foreach(_.unpersist(blocking = false))
    }

  /** Entry names currently pooled for `s` (specs, and Bench's per-row
    * `memo_built`). */
  def pooledNames(s: SparkSession): Set[String] =
    built(s).map(_.key._3).toSet
}
