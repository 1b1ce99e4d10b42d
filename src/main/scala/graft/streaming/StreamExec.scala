package graft.streaming

import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime

import scala.jdk.CollectionConverters._

import graft.io.Tables
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** REAL StreamExecution harness for the gated streaming rows.
  *
  * Every other `st_*` oracle row runs the BATCH twin of a unified
  * transform; the readStream path was covered only by ScalaTest
  * equivalence specs. The two queries here close that trust gap: the
  * Spark side of `st_tumbling_stream_exec` / `st_sessions_stream_exec`
  * executes through an actual micro-batch StreamExecution loop
  * (file source → watermark → stateful op → sink), and its FINAL state
  * is what the DuckDB oracle checks — the same oracle SQL as the batch
  * twins (SURVEY.md §2.11 extension; reference is batch-only).
  *
  * How a finite fixture becomes an honest multi-batch stream:
  *  - the normalized events table is re-staged into a temp dir as two
  *    time-range slice files (slice k's max ts < slice k+1's min ts)
  *    plus two far-future single-row SENTINEL files (user_id = -1,
  *    ts = max+1y/+2y) with ascending mtimes;
  *  - `maxFilesPerTrigger=1` + `Trigger.AvailableNow` then yields one
  *    micro-batch per file in mtime order — state genuinely carries
  *    across batches (sessions split mid-stream resume from state);
  *  - the sentinels are the standard end-of-stream flush: the
  *    watermark only advances BETWEEN batches, so two strictly later
  *    batches guarantee every real session's EventTimeTimeout fires
  *    during a DATA batch (no reliance on trailing no-data batches).
  *    Sentinel rows are filtered back out of the result (and never
  *    reach the tumbling aggregate at all).
  *
  * Scale note: staging rewrites only the events slice (bounded, one
  * pass) and the drains are bounded driver-side collections — the
  * memory sink holds #windows x #types rows, foreachBatch appends
  * closed sessions (O(#sessions), the same cardinality the gated
  * result itself has). On a real cluster the sinks would be Kafka /
  * Delta and the staging dir a real topic; the STATEFUL operators under
  * test are identical.
  */
object StreamExec {

  private val SentinelUser = -1L

  /** (minTs, maxTs) of the events table (MemoPool entry) — every
    * staged-dir builder AND lateDropViaStream's window bound need the
    * range; un-memoized each paid its own full-table agg. */
  private def tsRange(s: SparkSession, sfDir: String)
      : (java.sql.Timestamp, java.sql.Timestamp) =
    graft.scale.MemoPool.getOrBuild(s, sfDir, "eventsTsRange") {
      val Row(minTs: java.sql.Timestamp, maxTs: java.sql.Timestamp) =
        Tables.events(s, sfDir).agg(min(col("ts")), max(col("ts"))).head()
      (minTs, maxTs)
    }(_ => Nil)

  private def us(t: java.sql.Timestamp): Long =
    t.toInstant.getEpochSecond * 1000000L + t.toInstant.getNano / 1000L

  /** ONE slice-staging mechanism for the three staged-dir builders —
    * they used to carry three verbatim copies of writeSlice (each
    * leaking the `Files.list` directory stream's fd until GC) plus two
    * of the sentinel builder. Dirs come from TempDirs (deleted at JVM
    * exit — staging debris and staged sources otherwise outlive every
    * harness run). */
  private final class SliceStager(prefix: String) {
    val streamDir: Path =
      java.nio.file.Paths.get(graft.io.TempDirs.create(s"graft_${prefix}_src_"))
    private val stage: Path =
      java.nio.file.Paths.get(graft.io.TempDirs.create(s"graft_${prefix}_stage_"))

    /** Move one written part file into the stream dir as slice k with
      * the fixed ascending mtime contract (file source orders by
      * mtime, so batch order == slice order, deterministically).
      * `name` distinguishes DATA slices (b…) from SENTINEL files
      * (s…): consumers that have no watermark can exclude sentinels
      * with a `b*.parquet` glob (the CDC row — its mapGroupsWithState
      * uses NoTimeout, so sentinel batches were pure per-batch
      * machinery cost, measured ~0.7 s each at sf0.1). */
    private def install(part: Path, k: Int, name: String): Unit = {
      val dst = streamDir.resolve(f"$name$k%03d.parquet")
      Files.move(part, dst)
      Files.setLastModifiedTime(dst,
        FileTime.fromMillis(1600000000000L + k * 60000L))
    }

    private def onePart(tmp: Path): Option[Path] = {
      if (!Files.isDirectory(tmp)) return None
      val listing = Files.list(tmp)
      val parts = try listing.iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).toList
      finally listing.close()
      // the one-file-per-slice contract: a second part here would be
      // silently DROPPED by the move below — fail loudly instead
      // (writeSliced's hash repartition guarantees one writer task per
      // slice; this guards the invariant against a future edit)
      require(parts.size <= 1,
        s"staging contract violated: ${parts.size} part files under $tmp")
      parts.headOption
    }

    def writeSlice(df: DataFrame, k: Int, name: String = "b"): Unit = {
      val tmp = stage.resolve(s"w$k")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      install(onePart(tmp)
        .getOrElse(sys.error(s"no parquet written under $tmp")), k, name)
    }

    /** ALL data slices in ONE single-task pass (r14 optimization
      * round, guide §1.2/§6): `df` carries an integer `__slice`
      * column; a coalesce(1) dynamic-partition write emits one file
      * per non-empty slice with ONE job + ONE commit, where the
      * per-slice writeSlice loop paid a full single-threaded
      * filter+scan pass and a separate write commit PER slice
      * (the staging block measured ~2-3 s of the first stream row's
      * wall; Bench's `slowest_jobs` record shows the per-job split).
      * Intra-slice row order may differ from the sequential-filter
      * order (the dynamic-partition writer sorts by the partition
      * column); every stream-exec operator is
      * order-invariant within a batch — aggregates, sorted stateful
      * folds, full-row duplicate re-emissions — so results are
      * unchanged (oracle-gated). A slice id with no rows still gets
      * an explicit empty file so batch indices stay aligned. */
    def writeSliced(df: DataFrame, nSlices: Int): Unit = {
      val tmp = stage.resolve("sliced")
      // Hash-repartition on __slice instead of coalesce(1) (r15,
      // guide §2.6/§6): coalesce(1) pinned not just the write but the
      // WHOLE upstream pipeline (events scan, slice chain, encode) to
      // a single task — the r14 one-pass rewrite traded k sequential
      // jobs for one single-threaded one. Partitioning by the slice id
      // keeps the one-file-per-slice contract (each slice's rows land
      // wholly in one writer task; onePart asserts it) while scan +
      // encode run at cluster parallelism, for one bounded shuffle of
      // the staged rows. Still ONE job + ONE commit. Intra-slice row
      // order changes again — same order-invariance argument as r14,
      // oracle-gated. Measured (rep minima, sf0.1/local[32], each row
      // paying its own staged dir): default k — st_late_drop
      // 3.61→3.46, st_dedup 2.40→2.29, st_cdc 6.14→6.16 (flat); at
      // the SLICES=16 state-bound gate shape st_cdc 18.07→17.53. The
      // delta grows with corpus size: the shuffle is bounded by the
      // staged rows, the single-task scan+encode it replaces is
      // corpus-sized.
      df.repartition(col("__slice")).write.mode("overwrite")
        .partitionBy("__slice").parquet(tmp.toString)
      (0 until nSlices).foreach { k =>
        onePart(tmp.resolve(s"__slice=$k")) match {
          case Some(p) => install(p, k, "b")
          case None => writeSlice(df.filter(lit(false)).drop("__slice"), k)
        }
      }
    }

    /** Far-future watermark-advancing sentinel row (filtered out of
      * every gated result by user/window bounds; written under the
      * `s` name so watermark-free consumers can glob it away). */
    def sentinel(ev: DataFrame, maxTs: java.sql.Timestamp,
                 k: Int, days: Int): Unit = writeSlice(
      ev.limit(1)
        .withColumn("ts", lit(maxTs) + expr(s"INTERVAL $days DAYS"))
        .withColumn("user_id", lit(SentinelUser))
        .withColumn("event_id", lit(-k.toLong)), k, name = "s")
  }

  /** Number of time-range data slices the staged dir is cut into —
    * i.e. the number of DATA micro-batches each stream-exec row
    * replays. The watermark only advances BETWEEN batches, so a
    * stateful operator's peak state is bounded below by one batch's
    * ingest: peak state follows batch granularity plus the watermark
    * window, not stream length (bench/sf10_stream_gate_r14.txt, a past
    * measurement at 16 slices). */
  private[streaming] val StreamSlices = 2

  /** Spec access to the shared staged dir (StagingContractSpec pins
    * the b-vs-s file naming + mtime contract of the r14 one-pass
    * rewrite). */
  private[streaming] def stagedDirForSpec(s: SparkSession, sfDir: String): Path =
    stagedDir(s, sfDir)

  /** The staged stream dir (MemoPool entry) — every exec query that
    * reads it (and repeat runs in one harness) shares one staging
    * pass. */
  private def stagedDir(s: SparkSession, sfDir: String): Path =
    graft.scale.MemoPool.getOrBuild(s, sfDir, "streamStaged") {
      val ev = Tables.events(s, sfDir) // normalized TimestampType
      val (minTs, maxTs) = tsRange(s, sfDir)
      val k = StreamSlices
      val (lo, hi) = (us(minTs), us(maxTs))
      val st = new SliceStager("stream")
      // k equal event-time intervals; slice i = [cut(i), cut(i+1)),
      // last cut at hi+1 so maxTs lands inside the final slice
      val cuts = (0 to k).map(i => lo + (hi + 1 - lo) * i.toLong / k)
      val tsUs = unix_micros(col("ts"))
      // one-pass staging: the slice id as a literal when-chain over the
      // cut points (every event satisfies cuts(0) <= ts < cuts(k) by
      // construction of the cuts, so the chain is total)
      var sliceOf: org.apache.spark.sql.Column = lit(k - 1)
      for (i <- k - 2 to 0 by -1)
        sliceOf = when(tsUs < cuts(i + 1), lit(i)).otherwise(sliceOf)
      st.writeSliced(ev.withColumn("__slice", sliceOf), k)
      st.sentinel(ev, maxTs, k, 365)
      st.sentinel(ev, maxTs, k + 1, 730)
      st.streamDir
    }(_ => Nil)

  /** One-micro-batch-per-file stream over a staged dir, normalized by
    * the same contract as the batch loader (schema from the staged
    * files' own footer — never hard-coded, per the round-4 drift
    * lesson). */
  private def stagedStream(s: SparkSession, dir: Path,
                           glob: String = "*.parquet"): DataFrame = {
    val physical = s.read.parquet(dir.toString).schema
    Tables.normalizeEventTs(
      s.readStream
        .schema(physical)
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", glob)
        .parquet(dir.toString))
  }

  private def ckpt(): String =
    graft.io.TempDirs.create("graft_ckpt_") // state store dies with the JVM

  /** Every micro-batch pays per-partition state-store overhead (store
    * open/commit × #partitions × #batches), and the gated fixtures
    * are small — so each StreamExecution runs in a CLONED session
    * pinned to 8 shuffle partitions. State partitioning is a
    * deployment knob (fixed by the first checkpoint), not operator
    * semantics: a 100 TB deployment sets it to its key cardinality;
    * results are identical either way. Cloning (not `conf.set` on the
    * caller) because Verify plans OTHER queries concurrently on the
    * shared session — mutating its conf mid-flight would race their
    * physical planning. */
  private[graft] def streamSession(s: SparkSession): SparkSession = {
    val ss = s.newSession()
    // newSession starts from the static SparkConf — re-apply the
    // runtime confs the harness contract depends on, in case the
    // parent set them at runtime rather than through the builder.
    // stateStore.providerClass propagates too (VERDICT r10 item 4):
    // at 100 TB the HDFS-backed in-memory store is not an option, so a
    // deployment sets the RocksDB provider class on the parent session
    // (Spark's own conf, e.g. passed as -Dspark.sql.streaming.
    // stateStore.providerClass=...) — results must be
    // backend-invariant; BackendInvarianceSpec pins engagement.
    for (k <- Seq("spark.sql.session.timeZone",
                  "spark.sql.legacy.parquet.nanosAsLong",
                  "spark.sql.streaming.stateStore.providerClass"))
      s.conf.getOption(k).foreach(ss.conf.set(k, _))
    // The state-partition count is the constant 8 (r14). Measured
    // over the 7-row family at sf0.1 (same session, back-to-back):
    // 8 → 29.7 s, 4 → 29.1 s (noise), 2 → 31.8 s, 16 → 42.1 s,
    // 32 → 67.2 s — per-batch store open/commit scales with the
    // partition count and dominates long before join parallelism
    // pays; a 100 TB deployment sizes this to key cardinality as
    // documented above. OPTIMIZATION_r14.md carries the table.
    ss.conf.set("spark.sql.shuffle.partitions", "8")
    // Skip NO-DATA micro-batches (r15, guide §1.2 — fewer batches/
    // commits): the staging design guarantees every gated emission
    // happens in a DATA batch (that is exactly what the two sentinel
    // files buy — the scaladoc's "no reliance on trailing no-data
    // batches"), so the trailing zero-input batch Spark schedules to
    // finalize the watermark only evicts state the terminating
    // AvailableNow query never reads. Measured per-batch (sf0.1,
    // local[32], StreamExec.last.batchDurations): st_join batch2 845 ms,
    // st_late_drop batch5 440 ms, st_sessions batch4 324 ms — all on
    // 0 input rows. Results oracle-gated identical; scale-invariant
    // (one fewer full store-open/commit cycle per stream at any SF).
    ss.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    // Spark 4.1's checkpoint file-checksum manager writes a sidecar
    // checksum file per checkpoint file — and the local Hadoop
    // ChecksumFileSystem then writes ITS client-side CRC twin for
    // each sidecar, so every state delta costs 4 file creations per
    // batch instead of 2 (observed live: .delta + .delta.crc +
    // hidden Hadoop ..delta.crc + ..delta.crc.crc). Disabling the
    // Spark-level sidecar keeps the Hadoop client-side CRC and the
    // WAL/commit/fsync durability protocol untouched — it removes
    // redundant integrity-on-read bookkeeping, not durability.
    ss.conf.set("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
    ss
  }

  /** What the last StreamExecution driven on a thread reported. The
    * exec queries await their stream on the calling thread, so a
    * harness running rows concurrently (Verify's pool) reads each
    * row's own record right after the row returns.
    *
    * @param stateOps       per stateful operator: (operatorName, max
    *                       numRowsTotal, custom-metric keys) — the
    *                       rocksdb* keys prove the configured state
    *                       store provider really engaged
    * @param batchProgress  per micro-batch per stateful operator:
    *                       (batchId, operatorName, numRowsTotal,
    *                       numRowsUpdated, numRowsRemoved,
    *                       stateMemoryBytes) — state growth and
    *                       eviction across batches (the state-scale
    *                       gates cite it)
    * @param batchDurations per micro-batch: (batchId, numInputRows,
    *                       durationMs — addBatch/queryPlanning/
    *                       walCommit/commitOffsets/getBatch/
    *                       latestOffset/triggerExecution), where the
    *                       wall time outside Spark jobs lives
    * @param lateDrop       (rows dropped by the watermark, batches
    *                       with input) — proves staged faults were
    *                       discarded by the operator, not absent
    * @param restartBatches batches run by the stopped and the resumed
    *                       leg of [[tumblingViaStreamRestart]];
    *                       (-1, -1) for every other stream
    */
  final case class Record(
      stateOps: Seq[(String, Long, Set[String])],
      batchProgress: Seq[(Long, String, Long, Long, Long, Long)],
      batchDurations: Seq[(Long, Long, Map[String, Long])],
      lateDrop: (Long, Long),
      restartBatches: (Long, Long) = (-1L, -1L))

  /** The [[Record]] of the last StreamExecution on THIS thread. */
  private[graft] val last: ThreadLocal[Record] =
    ThreadLocal.withInitial(() => Record(Nil, Nil, Nil, (0L, 0L)))

  private def awaitAndRecord(q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    q.awaitTermination()
    val progress = q.recentProgress.toSeq
    last.set(Record(
      stateOps = progress
        .flatMap(_.stateOperators.toSeq)
        .groupBy(_.operatorName)
        .map { case (op, ps) =>
          (op, ps.map(_.numRowsTotal).max,
            ps.flatMap(_.customMetrics.keySet.toArray.map(_.toString)).toSet)
        }.toSeq,
      batchProgress = progress.flatMap(p =>
        p.stateOperators.toSeq.map(so =>
          (p.batchId, so.operatorName, so.numRowsTotal, so.numRowsUpdated,
            so.numRowsRemoved, so.memoryUsedBytes))),
      batchDurations = progress.map { p =>
        (p.batchId, p.numInputRows,
          p.durationMs.asScala.map { case (k, v) => (k, v.longValue) }.toMap)
      },
      lateDrop = (
        progress.flatMap(_.stateOperators.map(_.numRowsDroppedByWatermark)).sum,
        progress.count(_.numInputRows > 0).toLong)))
  }

  /** Hourly tumbling counts computed BY A STREAM: the unified
    * hourlyTypeCounts transform under complete-mode incremental
    * aggregation across 4 micro-batches, final state snapshotted from
    * the memory sink. Complete mode captures the full final aggregate
    * of the finite fixture; the production append+watermark shape is
    * pinned by StreamingSpec. */
  def tumblingViaStream(s: SparkSession, sfDir: String): DataFrame = {
    val ss = streamSession(s)
    // DATA slices only (b*), like the CDC row: complete mode has no
    // watermark, so the two far-future sentinel files served NOTHING
    // here — each was a full extra micro-batch (state scan + complete
    // sink rewrite on 0 input rows, measured 0.46-0.47 s triggerExecution
    // each at sf0.1/local[32]). The k data batches still carry the
    // multi-batch state-carry claim; the final aggregate is identical
    // (oracle-gated). The sentinels remain in the staged dir for the
    // watermark-driven consumers (sessions, restart).
    val stream = stagedStream(ss, stagedDir(s, sfDir), glob = "b*.parquet")
    // sentinel rows can no longer arrive at all; the filter stays as
    // defense-in-depth against a staging change
    val agg = EventStreams.hourlyTypeCounts(
      stream.filter(col("user_id") =!= SentinelUser), watermarked = false)
    val qn = "st_tumbling_exec_" +
      java.util.UUID.randomUUID.toString.replace("-", "")
    val q = agg.writeStream.format("memory").queryName(qn)
      .outputMode("complete")
      .option("checkpointLocation", ckpt())
      .trigger(Trigger.AvailableNow())
      .start()
    awaitAndRecord(q)
    val out = ss.table(qn)
    val rows = out.collect() // bounded: #hours x #event_types
    val schema = out.schema
    ss.catalog.dropTempView(qn)
    s.createDataFrame(rows.toList.asJava, schema)
      .orderBy(col("window_start"), col("event_type"))
  }

  /** CHECKPOINT-RESTART twin of tumblingViaStream (VERDICT r13 item
    * 7): the same complete-mode hourly aggregate, but the first
    * StreamExecution is STOPPED as soon as its first micro-batch
    * commits, and a SECOND StreamExecution resumes from the same
    * checkpoint dir (same state-store files — RocksDB when the parent
    * session sets that provider) and drains the remaining
    * batches. The final table must equal the batch oracle — i.e. the
    * restarted query's state genuinely CONTINUES from the stopped
    * one's checkpoint instead of recounting (double-count) or
    * resetting (under-count). Gated with the SAME oracle SQL as
    * st_tumbling_stream_exec.
    *
    * The stop is a polling thread calling q.stop() once lastProgress
    * shows a committed batch (stop() from a listener callback can
    * deadlock — documented Spark hazard). Both legs' batch counts are
    * recorded; the restarted leg must have processed >= 1 batch or
    * the run aborts loudly (a stop that landed after full commit
    * would make the equality vacuous). */
  def tumblingViaStreamRestart(s: SparkSession, sfDir: String): DataFrame = {
    val ss = streamSession(s)
    val stream = stagedStream(ss, stagedDir(s, sfDir))
    val agg = EventStreams.hourlyTypeCounts(
      stream.filter(col("user_id") =!= SentinelUser), watermarked = false)
    val ckptDir = ckpt() // ONE dir shared by both legs — the restart
    val qn = "st_restart_exec_" +
      java.util.UUID.randomUUID.toString.replace("-", "")
    // leg 1: start, stop after the first committed batch
    val q1 = agg.writeStream.format("memory").queryName(qn + "_a")
      .outputMode("complete")
      .option("checkpointLocation", ckptDir)
      .trigger(Trigger.AvailableNow())
      .start()
    val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
    while (q1.isActive && Option(q1.lastProgress).forall(_.batchId < 0) &&
           System.nanoTime() < deadline)
      Thread.sleep(10)
    q1.stop()
    q1.awaitTermination()
    val leg1Batches = q1.recentProgress.count(_.batchId >= 0).toLong
    // leg 2: SAME checkpoint, fresh sink — resumes from committed
    // offsets/state and drains the remaining files
    val q2 = agg.writeStream.format("memory").queryName(qn + "_b")
      .outputMode("complete")
      .option("checkpointLocation", ckptDir)
      .trigger(Trigger.AvailableNow())
      .start()
    awaitAndRecord(q2)
    val leg2Batches = q2.recentProgress.count(_.batchId >= 0).toLong
    last.set(last.get().copy(restartBatches = (leg1Batches, leg2Batches)))
    require(leg2Batches >= 1,
      s"restart leg processed $leg2Batches batches — the stop landed " +
        "after full commit, so the restart equality would be vacuous")
    val out = ss.table(qn + "_b")
    val rows = out.collect() // bounded: #hours x #event_types
    val schema = out.schema
    ss.catalog.dropTempView(qn + "_a")
    ss.catalog.dropTempView(qn + "_b")
    s.createDataFrame(rows.toList.asJava, schema)
      .orderBy(col("window_start"), col("event_type"))
  }

  /** Key-hash bucket count of the CDC upsert store. A deployment knob
    * (a real MERGE sink sizes it to key cardinality / file-size
    * targets); results are bucket-count-invariant. */
  private val CdcStoreBuckets = 32

  /** CDC compaction computed BY A STREAM: cdcFinalState's
    * mapGroupsWithState keeps each key's latest change (full-precision
    * (ts, event_id) ordering key in state, so an older row arriving in
    * a later batch cannot overwrite) and RESTATES the key's final row
    * whenever a batch touches it (update mode). The sink's
    * last-write-per-key IS the compacted table — modeled as a
    * PARTITIONED KEYED PARQUET STORE, the read-merge-write a Delta/
    * Iceberg MERGE sink performs per batch: rows live in
    * key-hash buckets, foreachBatch reads ONLY the buckets the batch
    * touches (partition-pruned), anti-joins the old rows against the
    * batch's keys, unions the restatements in, and writes the touched
    * buckets to a new version dir. Driver-side state is a bucket →
    * current-dir pointer map — O(#buckets), a CONSTANT, never
    * O(#users) (VERDICT r9 item 2: user cardinality is exactly the
    * dimension that grows at 100 TB; the previous driver map +
    * per-batch collect() was a driver-side state store on a gated
    * row's path). The final state is read back DISTRIBUTED — no
    * collect anywhere on this path. Gated against the SAME oracle as
    * the batch j13_cdc_apply. */
  def cdcViaStream(s: SparkSession, sfDir: String): DataFrame = {
    val ss = streamSession(s)
    // DATA slices only (b*): cdcFinalState keeps state under NoTimeout
    // and no watermark, so the far-future sentinel files exist solely
    // for the watermark-driven consumers of this shared staged dir —
    // here each sentinel was a full extra micro-batch (state scan +
    // one-bucket store merge, ~0.7 s each measured at sf0.1) whose
    // only product was the user_id = -1 row the final filter drops.
    // Skipping them leaves the multi-batch state-carry claim intact
    // (the k data batches) and the result identical (oracle-gated).
    val stream = stagedStream(ss, stagedDir(s, sfDir), glob = "b*.parquet")
    val updates = EventStreams.cdcFinalState(s, stream)
    val storeRoot = java.nio.file.Paths.get(
      graft.io.TempDirs.create("graft_cdc_store_"))
    // bucket -> parquet dir currently holding that bucket (bounded by
    // CdcStoreBuckets — a catalog pointer, not data); foreachBatch
    // runs batches strictly sequentially, so no torn updates
    val bucketDir = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    def bucketOf = pmod(xxhash64(col("user_id")), lit(CdcStoreBuckets))
      .cast("int")
    // union of the CURRENT version of each requested bucket, grouped
    // by the version dir that holds it so each dir is scanned once;
    // the __bucket filter is a partition-directory prune, not a scan
    def readStore(sess: SparkSession, buckets: Set[Int]): Option[DataFrame] = {
      val byDir = buckets
        .flatMap(b => Option(bucketDir.get(b)).map(d => d -> b))
        .groupBy(_._1).map { case (d, bs) => d -> bs.map(_._2) }
      byDir.map { case (d, bs) =>
        sess.read.parquet(d).filter(col("__bucket").isin(bs.toSeq: _*))
      }.reduceOption(_ unionByName _)
    }
    val q = updates.writeStream
      .outputMode("update")
      .option("checkpointLocation", ckpt())
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (ds: org.apache.spark.sql.Dataset[EventStreams.CdcRow], batchId: Long) =>
        val sess = ds.sparkSession
        // Persist the batch view for the batch's duration (r15, guide
        // §5): a foreachBatch Dataset is RE-COMPUTED per action
        // (documented Spark behavior), and this body reads it from
        // THREE subtrees — the touched-bucket collect, the anti-join
        // key projection, and the union — so the mapGroupsWithState
        // batch output (a full state-store pass) ran up to 3x per
        // batch. Bounded: one row per key restated this batch.
        // Measured (st_cdc solo, 3 reps each): minima 5.68 → 5.49 s
        // with overlapping spreads — at this SF the store-merge write
        // dominates, so the win is small; kept for the ≤1-pass-per-
        // batch contract, whose multiplier is batch-sized at scale.
        val upd = ds.toDF().withColumn("__bucket", bucketOf)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
        val touched = upd.select("__bucket").distinct()
          .collect().map(_.getInt(0)).toSet // bounded: <= #buckets ints
        if (touched.nonEmpty) {
          // MERGE: old rows of touched buckets whose key is NOT
          // restated this batch + this batch's restatements (each
          // update row is the key's full current state, so the
          // anti-join + union IS the upsert)
          val merged = readStore(sess, touched) match {
            case Some(old) => old
              .join(upd.select(col("user_id")), Seq("user_id"), "left_anti")
              .unionByName(upd)
            case None => upd
          }
          val out = storeRoot.resolve(s"v$batchId").toString
          merged.repartition(col("__bucket"))
            .write.partitionBy("__bucket").mode("overwrite").parquet(out)
          touched.foreach(b => bucketDir.put(b, out))
          // GC superseded versions (ADVICE r10): a version dir whose
          // every bucket has been repointed holds only dead data, and
          // without deletion the store grows with batch count ×
          // touched-bucket volume. Refcount = the pointer map itself;
          // safe because foreachBatch batches are strictly sequential
          // (no concurrent reader of an old version exists once the
          // repoint above completes).
          val live = new java.util.HashSet(bucketDir.values())
          storeRoot.toFile.listFiles().iterator
            .filter(d => d.isDirectory && !live.contains(d.toString))
            .foreach(d => graft.io.TempDirs.deleteRecursively(d.toPath))
        }
        } finally upd.unpersist(blocking = false)
        ()
      }
      .start()
    awaitAndRecord(q)
    // empty-store fallback keeps the 4-column SCHEMA (a bare
    // emptyDataFrame has no columns and the filter below would fail
    // to resolve — review r10): same shape a store read would return
    def emptyState = s.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](),
      org.apache.spark.sql.types.StructType.fromDDL(
        "user_id LONG, n_ops LONG, deleted BOOLEAN, last_value DOUBLE"))
    readStore(s, (0 until CdcStoreBuckets).toSet)
      .getOrElse(emptyState)
      .filter(col("user_id") =!= SentinelUser && !col("deleted"))
      .select(col("user_id"), col("n_ops"),
        round(col("last_value"), 2).as("last_value"))
      .orderBy(col("user_id"))
  }

  /** Staged dirs for the DEDUP stream: same slicing as [[stagedDir]]
    * but with at-least-once delivery FAULTS injected — the input a
    * real ingest pipeline actually sees (producer retries, partition
    * handoff replays). Batches, in mtime order:
    *  - b0: slice 0 (ts < mid) PLUS a re-emission of its last
    *    10 minutes — intra-batch duplicates;
    *  - b1: a replay of slice 0's last 30 minutes — CROSS-batch
    *    duplicates whose originals sit in b0's dedup state (their ts
    *    is within the 1-hour watermark horizon, so the state that
    *    drops them is still live);
    *  - b2: slice 1 (ts >= mid), clean.
    * No sentinels: dropDuplicatesWithinWatermark emits first-seen rows
    * in the batch they arrive (it is not an aggregation — nothing
    * waits on the watermark to close), so the stream is fully drained
    * by AvailableNow without a flush. Kept separate from [[stagedDir]]
    * because injecting duplicates there would corrupt the tumbling /
    * CDC execs' inputs. MemoPool entry. */
  private[streaming] def dedupStagedDir(s: SparkSession, sfDir: String): Path =
    graft.scale.MemoPool.getOrBuild(s, sfDir, "dedupStaged") {
      val ev = Tables.events(s, sfDir)
      val (minTs, maxTs) = tsRange(s, sfDir)
      val midUs = (us(minTs) + us(maxTs)) / 2
      val st = new SliceStager("dedup")
      val tsUs = unix_micros(col("ts"))
      // ONE pass (r14): each row's batch memberships as an array —
      // slice-0 rows appear once in b0 (twice when inside the 10-min
      // re-emission window: the intra-batch duplicate), the last 30
      // minutes replay into b1, and ts >= mid is b2. Identical
      // multiset per batch as the old three filter+union writes; only
      // intra-batch order differs, which dropDuplicatesWithinWatermark
      // cannot observe (duplicates are full-row re-emissions).
      val m10 = midUs - 10L * 60 * 1000000
      val m30 = midUs - 30L * 60 * 1000000
      val memberships = array(
        when(tsUs < midUs, lit(0)),
        when(tsUs < midUs && tsUs >= m10, lit(0)),
        when(tsUs < midUs && tsUs >= m30, lit(1)),
        when(tsUs >= midUs, lit(2)))
      st.writeSliced(
        ev.select(col("*"),
          explode(filter(memberships, c => c.isNotNull)).as("__slice")), 3)
      st.streamDir
    }(_ => Nil)

  /** Exactly-once event delivery computed BY A STREAM: the
    * dropDuplicatesWithinWatermark operator over 3 micro-batches whose
    * input carries injected at-least-once faults (intra-batch re-sends
    * AND cross-batch replays — see [[dedupStagedDir]]). The oracle is
    * the per-type census of the ORIGINAL events table: the gated claim
    * is that streaming dedup reconstructs the clean corpus exactly —
    * count AND id-sum per type, so a survivor swap cannot hide.
    * The per-batch drain is the aggregated census (#types rows per
    * batch), never the event stream itself; merging censuses across
    * batches is sound because dedup emits every survivor exactly once.
    * StreamDedupSpec pins that WITHOUT the operator the same staged
    * input over-counts (the faults are real). */
  def dedupViaStream(s: SparkSession, sfDir: String): DataFrame = {
    val ss = streamSession(s)
    val stream = stagedStream(ss, dedupStagedDir(s, sfDir))
    val deduped = EventStreams.dedupedEvents(stream)
    val acc = new java.util.concurrent.ConcurrentHashMap[String, (Long, Long)]()
    val q = deduped.writeStream
      .outputMode("append")
      .option("checkpointLocation", ckpt())
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (df: DataFrame, _: Long) =>
        df.groupBy(col("event_type"))
          .agg(count(lit(1)).as("cnt"), sum(col("event_id")).as("id_sum"))
          .collect() // bounded: #event_types rows
          .foreach { r =>
            acc.merge(r.getString(0), (r.getLong(1), r.getLong(2)),
              (a, b) => (a._1 + b._1, a._2 + b._2))
          }
        ()
      }
      .start()
    awaitAndRecord(q)
    import s.implicits._
    acc.asScala.toSeq
      .map { case (t, (c, sm)) => (t, c, sm) }
      .toDF("event_type", "cnt", "id_sum")
      .orderBy(col("event_type"))
  }

  /** Staged dirs for the LATE-DROP stream: the watermark's two-sided
    * contract needs both kinds of late arrival in one run. Batches,
    * in mtime order:
    *  - b0: slice 0 up to 1 h before the hold point;
    *  - b1: the next 50 minutes of slice 0 — the ADVANCER batch.
    *    Since SPARK-40925 the late-event filter of batch N uses the
    *    watermark as of batch N−1 (one batch BEHIND the eviction
    *    watermark), so the faults must arrive two batch boundaries
    *    after the data that establishes their watermark — without
    *    this batch the replay below lands with late-filter watermark
    *    still at 0 and is silently counted (observed, not
    *    hypothetical: cnt=2 / poisoned id_sum on the first-hour
    *    windows);
    *  - b2: slice 1, PLUS the held-back last 10 minutes of slice 0
    *    (late but within the 1-hour watermark delay — MUST be
    *    counted), PLUS a replay of the corpus's first 30 minutes with
    *    negated event_ids (hours-stale — MUST be dropped by the
    *    late-event filter; the negated ids make any survivor corrupt
    *    id_sum, so it cannot hide);
    *  - b3/b4: far-future sentinels advancing the watermark so append
    *    mode emits every real window before AvailableNow terminates.
    * Requires the corpus to span > 6 h so the replay is decisively
    * below batch 2's LAGGED late-filter watermark (= max(b0) − 1 h);
    * the driver events span weeks. MemoPool entry. */
  private[streaming] def lateStagedDir(s: SparkSession, sfDir: String): Path =
    graft.scale.MemoPool.getOrBuild(s, sfDir, "lateStaged") {
      val ev = Tables.events(s, sfDir)
      val (minTs, maxTs) = tsRange(s, sfDir)
      val midUs = (us(minTs) + us(maxTs)) / 2
      require(midUs - us(minTs) > 6L * 3600 * 1000000,
        s"events span too narrow for late-drop staging ($sfDir)")
      val st = new SliceStager("late")
      val tsUs = unix_micros(col("ts"))
      val holdUs = midUs - 10L * 60 * 1000000
      val advUs = holdUs - 60L * 60 * 1000000
      val replayCut = us(minTs) + 30L * 60 * 1000000
      // ONE pass (r14): batch memberships as (slice, event_id)
      // structs — [0, adv) is b0, [adv, hold) the advancer b1,
      // [hold, ∞) is b2 (the held-back 10 minutes and slice 1 are
      // disjoint, so one membership covers both), and the stale
      // replay re-emits the first 30 minutes into b2 with the same
      // negated poison ids as before. Identical multiset per batch as
      // the old filter+union writes; the hourly APPEND aggregate and
      // its watermark are intra-batch-order-invariant.
      val memberships = array(
        when(tsUs < advUs,
          struct(lit(0).as("s"), col("event_id").as("eid"))),
        when(tsUs >= advUs && tsUs < holdUs,
          struct(lit(1).as("s"), col("event_id").as("eid"))),
        when(tsUs >= holdUs,
          struct(lit(2).as("s"), col("event_id").as("eid"))),
        when(tsUs < replayCut,
          struct(lit(2).as("s"),
            (-col("event_id") - lit(1000000L)).as("eid"))))
      st.writeSliced(
        ev.select(col("*"),
          explode(filter(memberships, c => c.isNotNull)).as("__m"))
          .withColumn("event_id", col("__m.eid"))
          .withColumn("__slice", col("__m.s"))
          .drop("__m"), 3)
      st.sentinel(ev, maxTs, 3, 365)
      st.sentinel(ev, maxTs, 4, 730)
      st.streamDir
    }(_ => Nil)

  /** Watermark LATE-DATA semantics computed BY A STREAM: an hourly
    * tumbling aggregate in APPEND mode (1-hour watermark) over the
    * fault-staged batches of [[lateStagedDir]]. The gated claim is the
    * watermark contract itself, both sides at once: rows later than
    * the delay are DISCARDED before the aggregate (the stale replay,
    * with poisoned ids), rows out-of-order but within the delay are
    * COUNTED into their still-open windows (the held-back 10 minutes),
    * and every window is emitted exactly once — so the emitted
    * censuses must land exactly on the clean-corpus oracle, count AND
    * id_sum per (window, type). Sentinel windows sit past maxTs and
    * are filtered by the window bound, never by peeking at payload. */
  def lateDropViaStream(s: SparkSession, sfDir: String): DataFrame = {
    val ss = streamSession(s)
    val (_, maxTs) = tsRange(s, sfDir) // memoized — was a redundant full scan
    val stream = stagedStream(ss, lateStagedDir(s, sfDir))
    val agg = stream
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), sum(col("event_id")).as("id_sum"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("cnt"), col("id_sum"))
    val qn = "st_late_drop_exec_" +
      java.util.UUID.randomUUID.toString.replace("-", "")
    val q = agg.writeStream.format("memory").queryName(qn)
      .outputMode("append")
      .option("checkpointLocation", ckpt())
      .trigger(Trigger.AvailableNow())
      .start()
    awaitAndRecord(q)
    val out = ss.table(qn)
    val rows = out.collect() // bounded: #hours x #event_types
    val schema = out.schema
    ss.catalog.dropTempView(qn)
    s.createDataFrame(rows.toList.asJava, schema)
      .filter(col("window_start") <= lit(maxTs))
      .orderBy(col("window_start"), col("event_type"))
  }

  /** Stream-STREAM join computed BY A STREAM: correlatedPairs (same
    * user, r within 10 minutes after l, watermarks both sides) over
    * TWO file-source instances of the staged slices — each trigger
    * advances both sides one file, so cross-batch matches (l in batch
    * 0, r in batch 1) must come out of the join STATE, which is what
    * this row gates. Inner stream-stream joins emit each match exactly
    * once as it becomes available; the memory sink accumulates them
    * and the final set must equal the batch self-join oracle row for
    * row. State is evicted by the watermark + time-range bound; the
    * sentinel batches advance the watermark at end-of-stream (their
    * far-apart rows can never pair). */
  def joinViaStream(s: SparkSession, sfDir: String): DataFrame = {
    val ss = streamSession(s)
    val dir = stagedDir(s, sfDir)
    // DATA slices only (b*): an INNER stream-stream join emits each
    // match eagerly in the batch it becomes available — the watermark
    // bounds STATE, never emission — so the two sentinel batches
    // (whose far-apart rows can never pair) only bought end-of-stream
    // state eviction the result never reads. Measured at sf0.1/
    // local[32]: batches 2-4 were 4.7 s of triggerExecution on 2/2/0
    // input rows (pure eviction scans across 8 partitions x 4 join
    // stores). Mid-stream eviction is untouched — the watermark still
    // advances between DATA batches (batch 1 evicted ~100k rows in
    // the same measurement), which is what the state-bound gate
    // demonstrates; StreamExecFaultSpec's eviction test drives its
    // own sentinel-free stream and stays green. Result row set
    // identical (oracle-gated).
    val pairs = EventStreams.correlatedPairs(
      stagedStream(ss, dir, glob = "b*.parquet"),
      stagedStream(ss, dir, glob = "b*.parquet"))
    val qn = "st_join_exec_" +
      java.util.UUID.randomUUID.toString.replace("-", "")
    val q = pairs.writeStream.format("memory").queryName(qn)
      .outputMode("append")
      .option("checkpointLocation", ckpt())
      .trigger(Trigger.AvailableNow())
      .start()
    awaitAndRecord(q)
    val out = ss.table(qn)
    val rows = out.collect() // bounded: matched pairs (oracle-sized)
    val schema = out.schema
    ss.catalog.dropTempView(qn)
    s.createDataFrame(rows.toList.asJava, schema)
      .filter(col("user_id") =!= SentinelUser)
      .orderBy(col("eid_a"), col("eid_b"))
  }

  /** User sessions computed BY A STREAM: the flatMapGroupsWithState
    * sessionizer (append mode, EventTimeTimeout) over the staged
    * micro-batches — sessions that straddle the slice boundary resume
    * from keyed state, trailing sessions are flushed by the sentinel
    * batches advancing the watermark, and foreachBatch drains each
    * batch's exactly-once emissions. */
  def sessionsViaStream(s: SparkSession, sfDir: String): DataFrame = {
    val ss = streamSession(s)
    val stream = stagedStream(ss, stagedDir(s, sfDir))
    val sessions = EventStreams.closedUserSessions(s, stream)
    val buf = scala.collection.mutable.ArrayBuffer.empty[Row]
    val schema = sessions.toDF().schema
    val q = sessions.writeStream
      .outputMode("append")
      .option("checkpointLocation", ckpt())
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (ds: org.apache.spark.sql.Dataset[EventStreams.ClosedSession], _: Long) =>
        val rows = ds.toDF().collect() // bounded: closed sessions this batch
        buf.synchronized { buf ++= rows }
        ()
      }
      .start()
    awaitAndRecord(q)
    s.createDataFrame(buf.toList.asJava, schema)
      .filter(col("user_id") =!= SentinelUser)
      .select(col("user_id"), col("session_start"), col("n_events"))
      .orderBy(col("user_id"), col("session_start"))
  }
}
