package graft.scale

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact global row ranking without a single-partition sort.
  *
  * `Window.orderBy(...)` with no partition spec funnels the whole
  * dataset through ONE task (WindowExec's "No Partition Defined"
  * path) — fine for a 5-row vocabulary, fatal for a fact table at
  * cluster scale. This helper computes the identical 1-based
  * `row_number()` with the classic two-level scheme every distributed
  * sort uses internally:
  *
  *  1. sample cheap approximate splitters for the sort key
  *     (`approx_percentile`, one scan, mergeable sketch);
  *  2. assign each row a chunk id by comparing against the collected
  *     splitter literals (pure codegen expression, no shuffle);
  *  3. `row_number()` over a window PARTITIONED by chunk (parallel,
  *     one hash exchange on the chunk id);
  *  4. count rows per chunk (tiny map-side-combined aggregate,
  *     <= nChunks rows collected — a bounded driver step, same class
  *     as Bench warmup) and turn the counts into per-chunk offsets;
  *  5. global rank = chunk offset + local row number.
  *
  * The result is EXACT and deterministic regardless of what splitters
  * the sketch happened to produce — splitters only balance work, they
  * never affect the output (ties all land in one chunk via the
  * strict `v >= s` rule, so no tie is ever split across chunks with
  * different offsets... every row's rank is its true rank in the
  * total order). Known limit: a single value owning a huge fraction
  * of rows makes its chunk hot; callers with adversarial key
  * distributions should pre-salt WITHIN the tie-break column the way
  * scale/SkewJoin does.
  *
  * Determinism note: `approx_percentile`'s merge order can vary
  * across runs, but both consumers of the chunk id (the count job and
  * the rank job) see the same collected literals within a run, and
  * the final rank is splitter-independent, so the OUTPUT is stable.
  */
object GlobalRank {

  /** Adds `rankCol` = exact 1-based global row number of the total
    * order (orderCol ASC, tieBreak ASC) to `df`. `tieBreak` must make
    * the order total (unique per row) for the rank to be well-defined.
    */
  def withGlobalRank(df: DataFrame, orderCol: Column, tieBreak: Column,
                     rankCol: String, nChunks: Int = 32): DataFrame = {
    val keyed = key(df, orderCol, tieBreak)
    ranked(keyed, splittersAndCount(keyed, nChunks)._1, rankCol)
  }

  /** The keyed frame is PERSISTED (r14 optimization round, guide §5
    * caching rule: reused AND expensive to recompute): the two-level
    * scheme reads it three times — splitter+count scan, per-chunk
    * count job, rank window — and un-persisted each read re-executed
    * the caller's whole upstream (for t_vocab that is the full
    * tokenize+aggregate pipeline, three times). Narrow (source cols +
    * 16 B of key), released by the harness CacheRegistry drain; at
    * the gated scale tiers the largest such input is sf1's
    * g_histogram (1.5M rows), far inside MEMORY_AND_DISK headroom. */
  private def key(df: DataFrame, orderCol: Column, tieBreak: Column) =
    CacheRegistry.pin(
      df.withColumn("__gr_v", orderCol).withColumn("__gr_k", tieBreak))

  /** One scan: the splitter sketch (mergeable, load-balance only) and
    * the exact row count ntile arithmetic needs. */
  private def splittersAndCount(keyed: DataFrame,
                                nChunks: Int): (Seq[Any], Long) = {
    val fracs = (1 until nChunks).map(i => i.toDouble / nChunks)
    val row = keyed
      .agg(approx_percentile(col("__gr_v"), lit(fracs.toArray), lit(10000)),
        count(lit(1)))
      .head()
    val splitters = // null on an empty input -> everything in chunk 0
      if (row.isNullAt(0)) Seq.empty[Any] else row.getSeq[Any](0).distinct
    (splitters, row.getLong(1))
  }

  private def ranked(keyed: DataFrame, splitters: Seq[Any],
                     rankCol: String): DataFrame = {
    // 2. chunk id: number of splitters at or below this value. Ties on
    // a splitter value all share one chunk, so offsets stay exact.
    val chunkExpr = splitters
      .map(sv => when(col("__gr_v") >= lit(sv), 1).otherwise(0))
      .reduceOption(_ + _).getOrElse(lit(0))
    val chunked = keyed.withColumn("__gr_chunk", chunkExpr)

    // 4. (before 3 — independent jobs) per-chunk counts -> offsets
    val counts = chunked.groupBy(col("__gr_chunk")).count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    val offsets: Map[Int, Long] = {
      var acc = 0L
      counts.map { case (c, n) => val o = c -> acc; acc += n; o }.toMap
    }
    val offsetExpr = offsets.foldLeft(lit(0L)) { case (e, (c, o)) =>
      when(col("__gr_chunk") === c, o).otherwise(e)
    }

    // 3 + 5. partitioned window rank + broadcast offsets
    val w = Window.partitionBy(col("__gr_chunk"))
      .orderBy(col("__gr_v"), col("__gr_k"))
    chunked
      .withColumn(rankCol, row_number().over(w).cast("long") + offsetExpr)
      .drop("__gr_v", "__gr_k", "__gr_chunk")
  }

  /** Exact `ntile(n)` bucket (1-based, SQL semantics: first `N mod n`
    * buckets get the extra row) over the total order (orderCol,
    * tieBreak), computed from the two-level global rank — no
    * unpartitioned window. The exact row count the bucket boundaries
    * need is computed in the SAME aggregate as the splitter sketch
    * (one scan), so callers cannot pass a stale or mismatched N.
    */
  def withNtile(df: DataFrame, orderCol: Column, tieBreak: Column,
                bucketCol: String, n: Int, nChunks: Int = 32): DataFrame = {
    require(n > 0, s"ntile bucket count must be positive, got $n")
    val keyed = key(df, orderCol, tieBreak)
    val (splitters, totalRows) = splittersAndCount(keyed, nChunks)
    val base = totalRows / n
    val rem = totalRows % n
    // last global rank belonging to bucket b (1-based)
    val boundary = (b: Long) => b * base + math.min(b, rem)
    val bucketExpr = (1L until n.toLong).foldLeft(lit(1L)) { (e, b) =>
      e + when(col("__gr_rank") > boundary(b), 1L).otherwise(0L)
    }
    ranked(keyed, splitters, "__gr_rank")
      .withColumn(bucketCol, bucketExpr).drop("__gr_rank")
  }
}
