package graft.queries

import graft.QueryPack
import graft.io.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Data-layout operators — the file-clustering side of a 100 TB
  * engine. The reference (single-node pandas-ish pipeline) has no
  * layout concept; at cluster scale, HOW rows are assigned to files
  * decides whether min/max file statistics can prune scans, which is
  * worth more than any single query optimization on a 100 TB table.
  *
  * Z-ORDER (Morton) clustering: interleave the bits of two (or more)
  * low-cardinality-bucketed columns so that a CONTIGUOUS range of
  * z-values maps to a small TILE in (x, y) space. Writing files by
  * z-range then bounds every file's min/max span on BOTH dimensions —
  * a filter on either column prunes most files. A plain sort by x
  * gives perfect x-spans but useless y-spans; z-order trades a little
  * of each for bounded both. This is Delta/Iceberg `OPTIMIZE ZORDER
  * BY`, expressed as a pure codegen bit-twiddling projection + one
  * hash agg (here reporting per-bucket stats; a real write would
  * `repartitionByRange($"z")` before the sink — same z column).
  */
object LayoutPack extends QueryPack {

  private val Bits = 10 // 10 bits per dimension -> 20-bit z-values

  /** Morton interleave of two Bits-bit non-negative columns: x's bit i
    * lands at z-bit 2i, y's at 2i+1. Pure codegen arithmetic — no UDF.
    */
  private def zval(x: Column, y: Column): Column =
    (0 until Bits).map { i =>
      shiftleft(shiftrightunsigned(x, i).bitwiseAND(lit(1L)), 2 * i)
        .bitwiseOR(
          shiftleft(shiftrightunsigned(y, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }.reduce(_ bitwiseOR _)

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Bucket lineitem by contiguous z-ranges (top 6 z-bits = 64
    // buckets) and report each bucket's row count and min/max span on
    // both dimensions. The layout guarantee under test: a bucket of
    // 2^14 contiguous z-codes is exactly a 128x128 (x, y) tile, so
    // every bucket's span is <= 127 on BOTH columns — vs 1023 for the
    // whole table — which is precisely the file-statistics pruning
    // win. Plan: narrow projection (bit ops) + one hash agg on the
    // 6-bit bucket key; at 100 TB the same z column feeds
    // repartitionByRange + per-file writes.
    // HIVE-PARTITIONED write→read round-trip: events written
    // partitionBy(event_type), read back through the partition
    // discovery path with a partition-column filter — the layout every
    // lakehouse table actually uses. Equality against the unpartitioned
    // oracle gates that (a) rows land in the right partition, (b) the
    // partition column round-trips through the DIRECTORY NAME (it is
    // dropped from the data files), (c) the filtered read-back loses
    // nothing. PartitionedRoundtripSpec pins that the filtered scan
    // prunes to the two matching partitions (PartitionFilters, not a
    // post-scan filter) — at 100 TB that pruning IS the query budget.
    "ly_partitioned_roundtrip" -> ((s, dir) => {
      s.read.parquet(partitionedCopyOfEvents(s, dir))
        .filter(col("event_type").isin("click", "view"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("cnt"),
          sum(col("event_id")).as("id_sum"),
          round(sum(col("value")), 2).as("sum_value"))
        .orderBy(col("event_type"))
    }),

    // ORC round-trip — the second columnar format next to parquet
    // (SURVEY §2.2 extension; Spark's built-in ORC source/sink): write
    // `part` to ORC, read it back, and aggregate THROUGH the copy;
    // the oracle runs the same aggregate on the original parquet, so
    // equality gates the full write→read fidelity (ints, doubles,
    // strings) plus the filter running against the ORC scan
    // (OrcRoundtripSpec pins the pushed filter + pruned read schema).
    // Money is summed in integer cents — sum order must not matter.
    "ly_orc_roundtrip" -> ((s, dir) => {
      s.read.orc(orcCopyOfPart(s, dir))
        .filter(col("p_size") > 25)
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("p_retailprice") * 100).cast("long")).as("cents"),
          sum(col("p_size")).cast("long").as("sz"),
          min(col("p_name")).as("first_name"))
        .orderBy(col("p_brand"))
    }),

    // BUCKETED-JOIN round-trip — write orders and customer
    // bucketBy(8, custkey), read them back through the catalog, join
    // on the bucket key and aggregate per market segment. Equality
    // against the plain-parquet oracle gates write→read fidelity
    // through the bucketed layout (hash assignment loses no rows,
    // values survive); BucketedJoinSpec pins the SCALE property — the
    // join itself plans with ZERO ShuffleExchange (both sides arrive
    // pre-partitioned by hash(custkey) % 8 from the file layout), the
    // co-located-join story the brief names for repeated 100 TB
    // fact⨝dim joins. Money in integer cents (order-insensitive).
    "ly_bucketed_join" -> ((s, dir) => {
      val (to, tc) = bucketedOrdersCustomer(s, dir)
      s.table(to).join(s.table(tc),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"),
          sum(round(col("o_totalprice") * 100).cast("long")).as("cents"),
          countDistinct(col("c_custkey")).as("n_custs"))
        .orderBy(col("c_mktsegment"))
    }),

    "ly_zorder" -> ((s, dir) => {
      Tables(s, dir, "lineitem")
        .select(pmod(col("l_partkey"), lit(1024)).as("x"),
          pmod(col("l_suppkey"), lit(1024)).as("y"))
        .withColumn("z", zval(col("x"), col("y")))
        .withColumn("bucket", expr("z div 16384"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"),
          min(col("x")).as("x_min"), max(col("x")).as("x_max"),
          min(col("y")).as("y_min"), max(col("y")).as("y_max"))
        .orderBy(col("bucket"))
    }),

    // LINEAR-SORT layout — the CONTROL for the two curve rows: the
    // same per-bucket span report under a plain single-column sort
    // (bucket = top 6 bits of x). x-spans are perfect (<= 15) but
    // y-spans stay ~full-range per bucket, so a filter on y prunes
    // nothing — the one-dimensional failure mode ZORDER/HILBERT exist
    // to fix, made measurable in the same format. Same plan shape:
    // narrow projection + one hash agg.
    "ly_linear_sort" -> ((s, dir) => {
      Tables(s, dir, "lineitem")
        .select(pmod(col("l_partkey"), lit(1024)).as("x"),
          pmod(col("l_suppkey"), lit(1024)).as("y"))
        .withColumn("bucket", expr("x div 16"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"),
          min(col("x")).as("x_min"), max(col("x")).as("x_max"),
          min(col("y")).as("y_min"), max(col("y")).as("y_max"))
        .orderBy(col("bucket"))
    }),

    // HILBERT clustering — the same layout report as ly_zorder on the
    // same (x, y) bucketing, through the Hilbert space-filling curve
    // instead of the Morton interleave (Delta liquid clustering's
    // curve). Aligned 4^k code blocks are exact 2^k x 2^k tiles for
    // BOTH curves — so this row carries the identical per-bucket
    // span-bound guarantee — but Hilbert's consecutive codes are
    // always-adjacent cells (HilbertSpec pins it), so the UNALIGNED
    // ranges real file boundaries cut stay connected instead of
    // jumping across quadrant seams. The curve walk runs as one
    // codegen'd expression (expr/HilbertIndex.scala — a 10-iteration
    // long-register loop per row, no plan blowup); the rest of the
    // plan is the zorder shape: narrow projection + one hash agg on
    // the 6-bit bucket key. At 100 TB: repartitionByRange(h) + write,
    // exactly as zorder.
    "ly_hilbert" -> ((s, dir) => {
      Tables(s, dir, "lineitem")
        .select(pmod(col("l_partkey"), lit(1024)).as("x"),
          pmod(col("l_suppkey"), lit(1024)).as("y"))
        .withColumn("h",
          graft.expr.HilbertIndex(col("x").cast("long"),
            col("y").cast("long"), Bits))
        .withColumn("bucket", expr("h div 16384"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"),
          min(col("x")).as("x_min"), max(col("x")).as("x_max"),
          min(col("y")).as("y_min"), max(col("y")).as("y_max"))
        .orderBy(col("bucket"))
    }),

    // Small-file compaction planner — Delta/Iceberg `OPTIMIZE`'s
    // bin-packing half (ly_zorder is the clustering half). A 100 TB
    // table accretes thousands of small files per partition from
    // streaming/CDC writes; scan cost is then dominated by per-file
    // open/footer overhead, not bytes. The plan: within each partition
    // (documents.source), lay the files (each doc = one file of
    // n_chars bytes) in a deterministic order and cut output bins at
    // every `target` bytes of RUNNING offset — greedy sequential
    // coalescing, exactly what a compaction job's file-assignment
    // pass produces (a bin can overrun by at most one file: the one
    // that straddles a cut; never undershoots except the tail).
    // Scale shape: one window over the partition key (the same
    // per-partition parallelism the real compactor has) + one hash
    // agg; output is bins, not files — O(#files/target) rows.
    "ly_compaction" -> ((s, dir) => {
      val target = 4000L
      val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      Tables(s, dir, "documents")
        .select(col("source"), col("doc_id"), col("n_chars"))
        .withColumn("off", coalesce(sum(col("n_chars")).over(w), lit(0L)))
        .withColumn("bin", expr(s"off div $target"))
        .groupBy(col("source"), col("bin"))
        .agg(count(lit(1)).as("n_files"),
          sum(col("n_chars")).as("bin_bytes"),
          min(col("doc_id")).as("first_doc"),
          max(col("doc_id")).as("last_doc"))
        .orderBy(col("source"), col("bin"))
    }),

    // File-statistics pruning planner — the READ-side payoff the other
    // two layout operators exist for: given per-file min/max column
    // stats (the footer metadata every parquet file already carries),
    // decide which files a predicate must open at all. Files are
    // modeled as doc_id-ranges (50 docs/file); a file is prunable iff
    // its [min, max] n_chars interval misses the predicate — NO row
    // in it can match, byte-identical to parquet row-group skipping.
    // The emitted row audits the plan: files pruned, rows in the
    // surviving files (what the scan actually reads), and true
    // matches (what a full scan would have found — pruning must never
    // change this). Two aggregates, both O(#files) after the per-file
    // stats pass; at 100 TB the stats table IS the catalog and the
    // fact table is never touched to plan.
    "ly_stats_prune" -> ((s, dir) => {
      val threshold = 900
      val stats = Tables(s, dir, "documents")
        .groupBy(expr("doc_id div 50").as("file_id"))
        .agg(count(lit(1)).as("n_rows"),
          min(col("n_chars")).as("lo"), max(col("n_chars")).as("hi"),
          sum(when(col("n_chars") >= threshold, 1L).otherwise(0L))
            .as("n_match"))
      stats.agg(
        count(lit(1)).as("n_files"),
        sum(when(col("hi") < threshold, 1L).otherwise(0L)).as("n_pruned"),
        sum(when(col("hi") >= threshold, col("n_rows")).otherwise(0L))
          .as("rows_scanned"),
        sum(col("n_match")).as("rows_matched"))
    })
  )

  /** The DuckDB oracle rebuilds the same interleave with explicit
    * shift-mask terms (generated, not hand-typed, so both sides share
    * one definition of the bit layout). */
  private val zTerms: String = (0 until Bits).map { i =>
    s"((((x >> $i) & 1) << ${2 * i}) | (((y >> $i) & 1) << ${2 * i + 1}))"
  }.mkString(" | ")

  /** The Hilbert oracle unrolls the same xy2d walk as a generated CTE
    * chain (one step per level, top bit first) so both sides share one
    * definition of the curve. Each step's three outputs read the
    * PREVIOUS step's (hx, hy, d) — SQL's all-at-once SELECT gives the
    * simultaneous-assignment the rotation needs for free. */
  private val hilbertSteps: String = (0 until Bits).map { k =>
    val s = 1L << (Bits - 1 - k)
    s"""h${k + 1} AS (SELECT x, y,
       |  CASE WHEN (hy & $s) = 0
       |    THEN CASE WHEN (hx & $s) > 0 THEN ${s - 1} - hy ELSE hy END
       |    ELSE hx END AS hx,
       |  CASE WHEN (hy & $s) = 0
       |    THEN CASE WHEN (hx & $s) > 0 THEN ${s - 1} - hx ELSE hx END
       |    ELSE hy END AS hy,
       |  d + ${s * s} * xor(
       |    3 * (CASE WHEN (hx & $s) > 0 THEN 1 ELSE 0 END),
       |    CASE WHEN (hy & $s) > 0 THEN 1 ELSE 0 END) AS d
       |FROM h$k)""".stripMargin
  }.mkString(",\n")

  /** A hive-partitioned copy of `events` (MemoPool entry). The
    * partition count is #event_types (bounded, low-cardinality — the
    * partitionBy contract; partitioning on a high-cardinality key
    * would be the small-files anti-pattern ly_compaction exists to
    * undo). */
  private[queries] def partitionedCopyOfEvents(s: SparkSession,
                                               dir: String): String =
    graft.scale.MemoPool.getOrBuild(s, dir, "partitionedEvents") {
      val out = graft.io.TempDirs.create("graft_part_events_")
      Tables.events(s, dir).write.mode("overwrite")
        .partitionBy("event_type").parquet(out)
      out
    }(_ => Nil)

  /** A BUCKETED copy of (orders, customer) (MemoPool entry), both
    * `bucketBy(8, custkey).sortBy(custkey)` — the co-located
    * join layout the builder brief names for 100 TB fact⨝dim work:
    * rows land in files by hash(key) % 8 at WRITE time, so every
    * join on the key is exchange-free forever after (the shuffle is
    * paid once, at layout time, and amortized over every subsequent
    * join — BucketedJoinSpec pins the zero-ShuffleExchange plan).
    * `bucketBy` requires a catalog table: registered in the session
    * catalog with an explicit temp-dir path (external table — no
    * warehouse writes), names keyed by the sanitized sfDir path so
    * two SFs in one session cannot collide. */
  private[queries] def bucketedOrdersCustomer(
      s: SparkSession, dir: String): (String, String) =
    graft.scale.MemoPool.getOrBuild(s, dir, "bucketedOrdersCustomer") {
      // tag = the sanitized PATH, not a hash: two sfDirs in one
      // session get distinct catalog names by construction (a 32-bit
      // hash collision would silently cross-wire their data)
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
      val base = graft.io.TempDirs.create("graft_bucketed_")
      val (to, tc) = (s"graft_bkt_orders_$tag", s"graft_bkt_customer_$tag")
      // r15: the two layout writes are independent single-table jobs
      // that ran sequentially on the driver (guide §2.6 — overlap
      // independent jobs), and each arrived as ONE scan task that
      // wrote all 8 bucket files serially. repartition(8, key) is the
      // SAME partitioning function as the bucket spec (Spark's native
      // bucketing reuses HashPartitioning.partitionIdExpression), so
      // each of the 8 writer tasks holds exactly one bucket — the
      // one-file-per-bucket layout is unchanged (BucketedJoinSpec
      // pins 8 files and the zero-exchange join) while the sort+encode
      // runs 8-wide, and the two writes overlap on the scheduler.
      def writeBucketed(table: String, key: String, name: String): Unit =
        Tables(s, dir, table).repartition(8, col(key))
          .write.mode("overwrite")
          .bucketBy(8, key).sortBy(key)
          .option("path", s"$base/$table").saveAsTable(name)
      // The customer write runs on a pool thread under the caller's
      // job description (pool threads carry whatever they inherited,
      // and the description is what charges the jobs to their payer);
      // the orders write runs here. Both have finished before the
      // build returns or rethrows — a failing write never leaves its
      // sibling running against the same table names.
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      import scala.concurrent.ExecutionContext.Implicits.global
      val sc = s.sparkContext
      val desc = sc.getLocalProperty("spark.job.description")
      val customer = Future {
        val inherited = sc.getLocalProperty("spark.job.description")
        sc.setLocalProperty("spark.job.description", desc)
        try writeBucketed("customer", "c_custkey", tc)
        finally sc.setLocalProperty("spark.job.description", inherited)
      }
      try writeBucketed("orders", "o_custkey", to)
      finally Await.ready(customer, Duration.Inf)
      Await.result(customer, Duration.Zero)
      (to, tc)
    }(_ => Nil)

  /** An ORC copy of `part` (MemoPool entry), reused across repeated
    * runs in a harness (Bench repeats; TimeQuery loops). */
  private[queries] def orcCopyOfPart(s: SparkSession, dir: String): String =
    graft.scale.MemoPool.getOrBuild(s, dir, "orcPart") {
      val out = graft.io.TempDirs.create("graft_orc_part_")
      Tables(s, dir, "part").write.mode("overwrite").orc(out)
      out
    }(_ => Nil)

  override def oracleSql: Map[String, String] = Map(
    // the unpartitioned original: the partitioned copy must lose
    // nothing and reconstruct the partition column exactly
    "ly_partitioned_roundtrip" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(sum(event_id) AS BIGINT) AS id_sum,
        |  round(sum(value), 2) AS sum_value
        |FROM events WHERE event_type IN ('click', 'view')
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // the oracle joins the ORIGINAL parquet tables — equality proves
    // the bucketed write→read cycle loses nothing the join touches
    "ly_bucketed_join" ->
      """SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS cents,
        |  CAST(count(DISTINCT c_custkey) AS BIGINT) AS n_custs
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // the oracle reads the ORIGINAL parquet — equality proves the ORC
    // round-trip preserved every value the aggregate touches
    "ly_orc_roundtrip" ->
      """SELECT p_brand, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(round(p_retailprice * 100) AS BIGINT)) AS BIGINT)
        |    AS cents,
        |  CAST(sum(p_size) AS BIGINT) AS sz,
        |  min(p_name) AS first_name
        |FROM part WHERE p_size > 25 GROUP BY 1 ORDER BY 1""".stripMargin,

    "ly_linear_sort" ->
      """WITH b AS (
        |  SELECT l_partkey % 1024 AS x, l_suppkey % 1024 AS y FROM lineitem)
        |SELECT x // 16 AS bucket, count(*) AS n,
        |  min(x) AS x_min, max(x) AS x_max,
        |  min(y) AS y_min, max(y) AS y_max
        |FROM b GROUP BY 1 ORDER BY 1""".stripMargin,

    "ly_zorder" ->
      s"""WITH b AS (
         |  SELECT l_partkey % 1024 AS x, l_suppkey % 1024 AS y FROM lineitem),
         |z AS (SELECT x, y, $zTerms AS z FROM b)
         |SELECT z // 16384 AS bucket, count(*) AS n,
         |  min(x) AS x_min, max(x) AS x_max,
         |  min(y) AS y_min, max(y) AS y_max
         |FROM z GROUP BY 1 ORDER BY 1""".stripMargin,

    "ly_hilbert" ->
      s"""WITH h0 AS (
         |  SELECT l_partkey % 1024 AS x, l_suppkey % 1024 AS y,
         |    l_partkey % 1024 AS hx, l_suppkey % 1024 AS hy,
         |    CAST(0 AS BIGINT) AS d
         |  FROM lineitem),
         |$hilbertSteps
         |SELECT CAST(d // 16384 AS BIGINT) AS bucket,
         |  count(*) AS n,
         |  min(x) AS x_min, max(x) AS x_max,
         |  min(y) AS y_min, max(y) AS y_max
         |FROM h$Bits GROUP BY 1 ORDER BY 1""".stripMargin,

    "ly_compaction" ->
      """WITH f AS (
        |  SELECT source, doc_id, n_chars,
        |    coalesce(sum(n_chars) OVER (PARTITION BY source
        |      ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND 1 PRECEDING), 0) AS off
        |  FROM documents)
        |SELECT source, CAST(off // 4000 AS BIGINT) AS bin,
        |  CAST(count(*) AS BIGINT) AS n_files,
        |  CAST(sum(n_chars) AS BIGINT) AS bin_bytes,
        |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
        |FROM f GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "ly_stats_prune" ->
      """WITH s AS (
        |  SELECT doc_id // 50 AS file_id, count(*) AS n_rows,
        |    min(n_chars) AS lo, max(n_chars) AS hi,
        |    sum(CASE WHEN n_chars >= 900 THEN 1 ELSE 0 END) AS n_match
        |  FROM documents GROUP BY 1)
        |SELECT CAST(count(*) AS BIGINT) AS n_files,
        |  CAST(sum(CASE WHEN hi < 900 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_pruned,
        |  CAST(sum(CASE WHEN hi >= 900 THEN n_rows ELSE 0 END) AS BIGINT)
        |    AS rows_scanned,
        |  CAST(sum(n_match) AS BIGINT) AS rows_matched
        |FROM s""".stripMargin
  )
}
