package graft.queries

import graft.QueryPack
import graft.io.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multi-dimensional aggregation built-ins the reference never uses but
  * any analytics engine must expose (SURVEY.md §2.5 note: "our engine
  * exposes them anyway via built-ins"): rollup, cube, grouping sets,
  * distinct projection, approximate distinct counting.
  */
object AnalyticsPack extends QueryPack {

  /** Basket co-occurrence counts (pa < pb, co_n = #orders containing
    * both) — the shared base of the three heaviest analytics queries:
    * a10_copurchase (support filter), a11_item_cf (cosine
    * normalization), g_triangle_count (its distinct pair set IS the
    * co-occurrence edge list). Memoized + persisted per (session,
    * dir) exactly like DedupPack's signature base: each query paid the
    * same lineitem scan + basket build + pair-count shuffle (~2 s each
    * at sf0.1) for byte-identical intermediate state. Bounded:
    * one 24-byte row per co-purchased part pair. Session-lifetime by
    * design (NOT CacheRegistry-tracked): a cross-query memo released
    * after one query's action would just recompute for the next —
    * LRU evicts it under pressure, the same documented trade as the
    * dedup bases. */
  private def coPairs(s: SparkSession, dir: String): DataFrame =
    // MemoPool (r15): same memoization, now byte-capped + payer-logged
    graft.scale.MemoPool.getOrBuild(s, dir, "coPairs") {
      val baskets = Tables(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(sort_array(collect_set(col("l_partkey"))).as("ps"))
      val pairs = flatten(transform(col("ps"), (x, i) =>
        transform(slice(col("ps"), i + lit(2), size(col("ps"))),
          y => struct(x.as("pa"), y.as("pb")))))
      baskets.select(explode(pairs).as("p"))
        .select(col("p.pa").as("pa"), col("p.pb").as("pb"))
        .groupBy(col("pa"), col("pb"))
        .agg(count(lit(1)).as("co_n"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }(Seq(_))

  /** Shared degree-oriented adjacency of the co-purchase graph
    * (scale/Triangles.orient over the memoized coPairs base), keyed
    * additionally by the co_n support threshold: the triangle census
    * family runs on the full graph (minCoN = 1), the clustering
    * family on the co_n >= 2 one — two distinct graphs, two memo
    * entries. VERDICT r9 item 7: the r9 attribution proved the census
    * CONSTRUCTION-bound, yet count/approx/clustering each rebuilt the
    * identical degree-orientation + collect_list adjacency; one
    * session-lifetime build (the coPairs/signature-base trade: LRU
    * evicts under pressure, never CacheRegistry-drained) now serves
    * them all. */
  /** Memoized distinct (customer, supplier) purchase-pair base of the
    * graph trio — g_pagerank, g_ppr, and g_sssp_hops each derived the
    * IDENTICAL orders⋈lineitem→distinct frame (edges, seeds, node set
    * all project from it), so each query re-paid the fact-table join +
    * distinct exchange for byte-identical state (r14 optimization
    * round; the coPairs/signature-base trade, guide §2.4's
    * share-one-exchange rule applied across the family). Bounded: one
    * 16-byte row per distinct (cust, supp) pair — dimension-sized, the
    * same cardinality class as coPairs. Session-lifetime by design
    * (NOT CacheRegistry-tracked): LRU evicts under pressure, exactly
    * as documented for the other memo bases. */
  private def purchasePairs(s: SparkSession, dir: String): DataFrame =
    graft.scale.MemoPool.getOrBuild(s, dir, "purchasePairs") {
      Tables(s, dir, "orders")
        .join(Tables(s, dir, "lineitem"),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("c"), col("l_suppkey").as("sp"))
        .distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }(Seq(_))

  /** Memoized symmetrized purchase-graph edge list WITH out-degrees —
    * the per-round join frame of the rank recurrences. g_pagerank and
    * g_ppr both built the identical frame (explode of purchasePairs +
    * one src-keyed window) and each pinned its own copy per query;
    * one session-lifetime build now serves both, and g_sssp_hops
    * reads its (src, dst) columns (r14, same trade as purchasePairs).
    * The memo owns the frame, so the operators never pin a copy. */
  private def purchaseEo(s: SparkSession, dir: String): DataFrame =
    graft.scale.MemoPool.getOrBuild(s, dir, "purchaseEo") {
      val pairs = purchasePairs(s, dir)
      // parity encoding for the shared node space: customer c -> 2c,
      // supplier s -> 2s+1 — collision-free at EVERY scale factor
      // (a fixed offset collides once custkeys outgrow it)
      val cNode = col("c") * 2L
      val sNode = col("sp") * 2L + 1L
      // both directions in ONE pass over the distinct pairs: the
      // union-of-two-projections form does not canonicalize to a
      // reused exchange, so the scan+join+distinct pipeline ran twice.
      // The two directions also make the graph symmetric, the rank
      // recurrences' input contract.
      val edges = pairs.select(explode(array(
          struct(cNode.as("src"), sNode.as("dst")),
          struct(sNode.as("src"), cNode.as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
      // The window form (edgesWithOutdeg), NOT a broadcast-deg join:
      // a tiny-agg + broadcast-join build was tried in the r14
      // optimization round (the od values are identical and the
      // exchange looks redundant since AQE-planned caches don't
      // propagate partitioning) and MEASURED SLOWER — trio A/B
      // 20.2 → 22.7 s — because the window's exchange+sort leaves the
      // CACHED frame clustered by src, which the ~15 per-round
      // broadcast-hash probes and scans of the loop read faster than
      // the unsorted layout; the one-time build exchange amortizes
      // across every round. Measured rejection recorded in
      // OPTIMIZATION_r14.md.
      // distinct pairs x 2 disjoint directions = already-distinct edges
      graft.scale.PageRank.edgesWithOutdeg(edges)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }(Seq(_))

  /** Memoized distinct (l_orderkey, l_partkey) frame — the basket
    * MEMBERSHIP relation. a11_item_cf built it once (itemN) and
    * a12_basket_rules TWICE in one plan (its `items` and `n_baskets`
    * aggregate subtrees each re-ran the scan + distinct exchange:
    * Spark does not share unpersisted common subtrees), so the same
    * lineitem pass + exchange ran 3× per bench (r15, guide §2.4).
    * Bounded: one 16-byte row per distinct (order, part) membership —
    * strictly smaller than lineitem itself, same cardinality class as
    * the pair bases. Session-lifetime MemoPool entry like the rest. */
  private def itemOrders(s: SparkSession, dir: String): DataFrame =
    graft.scale.MemoPool.getOrBuild(s, dir, "itemOrders") {
      Tables(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey")).distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }(Seq(_))

  private def orientedCo(s: SparkSession, dir: String, minCoN: Int)
      : graft.scale.Triangles.OrientedGraph =
    graft.scale.MemoPool.getOrBuild(s, dir, s"orientedCo_$minCoN") {
      graft.scale.Triangles.orient(
        coPairs(s, dir).filter(col("co_n") >= minCoN)
          .select(col("pa").as("a"), col("pb").as("b")))
    }(g => Seq(g.e, g.oriented, g.adj))

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ROLLUP with grouping_id to disambiguate subtotal rows from
    // genuine nulls. Partial-agg friendly: one shuffle.
    "g_rollup" -> ((s, dir) => {
      // the ROLLUP's grand-total row sums the WHOLE orders table — a
      // corpus-scaling group, so the q1_agg doctrine applies: 2-dp
      // prices accumulate in DECIMAL (lossless cast), double only in
      // the final projection (ExactSumSpec; sf100 caught the double
      // partial-sum-tree divergence at ~150M rows/group)
      Tables(s, dir, "orders")
        .rollup(year(col("o_orderdate")).as("y"), col("o_orderpriority").as("prio"))
        .agg(count(lit(1)).as("cnt"),
          round(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double"),
            2).as("total"),
          grouping_id().as("gid"))
        .orderBy(col("gid"), col("y"), col("prio"))
    }),

    "g_cube" -> ((s, dir) => {
      // decimal-doctrine EXEMPT: l_quantity is INTEGER-valued (audited
      // on the corpus), and integer-valued doubles sum exactly under
      // any association until 2^53 ≈ 9e15 — the sf100 grand total is
      // ~1.5e10, five decades inside the lattice
      Tables(s, dir, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("cnt"),
          round(sum(col("l_quantity")), 2).as("qty"),
          grouping_id().as("gid"))
        .orderBy(col("gid"), col("l_returnflag"), col("l_linestatus"))
    }),

    // GROUPING SETS via SQL — arbitrary set lists, not just the
    // rollup/cube lattices.
    "g_grouping_sets" -> ((s, dir) => {
      Tables(s, dir, "orders").createOrReplaceTempView("orders_gs")
      s.sql(
        """SELECT year(o_orderdate) AS y, o_orderstatus AS st,
          |  grouping_id() AS gid, count(*) AS cnt
          |FROM orders_gs
          |GROUP BY GROUPING SETS ((year(o_orderdate)), (o_orderstatus), ())
          |ORDER BY gid, y, st""".stripMargin)
    }),

    // DISTINCT projection (the deterministic face of dropDuplicates).
    "g_distinct" -> ((s, dir) =>
      Tables(s, dir, "orders")
        .select(col("o_orderpriority"), col("o_orderstatus"))
        .distinct()
        .orderBy(col("o_orderpriority"), col("o_orderstatus"))),

    // Exact order statistics: percentile (linear interpolation) and
    // median — single-pass sort-based aggregate; both engines use the
    // same interpolation definition.
    "g_percentiles" -> ((s, dir) =>
      Tables(s, dir, "orders").agg(
        round(expr("percentile(o_totalprice, 0.25)"), 4).as("p25"),
        round(expr("percentile(o_totalprice, 0.5)"), 4).as("p50"),
        round(expr("percentile(o_totalprice, 0.75)"), 4).as("p75"),
        round(median(col("o_totalprice")), 4).as("med"))),

    // Grouped exact quantiles — the per-cohort latency/price
    // distribution shape every analytics consumer asks for. Exact
    // `percentile` (interpolating, matching DuckDB quantile_cont)
    // keeps the oracle tight; the 100 TB path swaps in
    // percentile_approx (t-digest, mergeable partial aggs) — the
    // trade is spec-visible, not silent, because this exact twin
    // pins the target values.
    //
    // round(..., 4), NOT 2: interpolating between 2-decimal money
    // values at fractions that are multiples of 0.05 yields values
    // with up to 4 exact decimals — a .xx5 median sits ON the
    // 2-decimal half-boundary where the engines' rounding modes
    // disagree (caught at sf0.1: one nation's p50 came back 4692.99
    // vs 4692.98). At 4 decimals the round is a no-op cleaner and
    // boundary-free for any group size.
    "g_grouped_quantiles" -> ((s, dir) =>
      Tables(s, dir, "supplier")
        .groupBy(col("s_nationkey"))
        .agg(round(expr("percentile(s_acctbal, 0.5)"), 4).as("p50"),
          round(expr("percentile(s_acctbal, 0.95)"), 4).as("p95"),
          count(lit(1)).as("n"))
        .orderBy(col("s_nationkey"))),

    // approx_count_distinct (HLL++): sketches differ across engines,
    // so the CHECK is emitted, not the estimate: both engines assert
    // their own estimate lands within 5% of their exact count.
    "g_approx_distinct" -> ((s, dir) =>
      Tables(s, dir, "lineitem")
        .agg(approx_count_distinct(col("l_partkey"), 0.05).as("apx"),
          countDistinct(col("l_partkey")).as("exact"))
        .select((abs(col("apx") - col("exact")) / col("exact") <= 0.05)
          .as("within_5pct"))),

    // Approximate-quantile sketch with a self-verifying error bound —
    // the MERGEABLE sketch that replaces exact `percentile` at 100 TB
    // (g_percentiles / dq_skew document the swap; this row makes the
    // sketch path itself gate-checked). percentile_approx is
    // rank-error bounded: with accuracy a the returned value's rank is
    // within n/a of the target rank — a contract on RANKS, not
    // values, so the check converts it: the sketch value must sit
    // between the exact quantiles at q +- 2/a (slack 2x the bound for
    // interpolation at small n). Both engines run their OWN sketch
    // (Spark KLL-style, DuckDB t-digest) against their own exact
    // ranks, emitting the same booleans — the invariant, like
    // g_approx_distinct, is what ships, so the gate survives any
    // sketch implementation change.
    "g_quantile_sketch" -> ((s, dir) => {
      val a = 1000 // rank error <= n/1000 = 0.1% of ranks
      Tables(s, dir, "orders").agg(
        count(lit(1)).as("n"),
        expr(s"approx_percentile(o_totalprice, 0.5, $a)").as("a50"),
        expr(s"approx_percentile(o_totalprice, 0.95, $a)").as("a95"),
        expr("percentile(o_totalprice, 0.498)").as("lo50"),
        expr("percentile(o_totalprice, 0.502)").as("hi50"),
        expr("percentile(o_totalprice, 0.948)").as("lo95"),
        expr("percentile(o_totalprice, 0.952)").as("hi95"))
        .select(col("n"),
          (col("a50") >= col("lo50") && col("a50") <= col("hi50"))
            .as("p50_in_bound"),
          (col("a95") >= col("lo95") && col("a95") <= col("hi95"))
            .as("p95_in_bound"))
    }),

    // MERGEABLE distinct-count sketches (Apache DataSketches HLL,
    // built into Spark 4): per-year partial sketches union into one
    // global sketch whose estimate is checked against the exact
    // distinct count. Mergeability is THE distributed-sketch contract
    // at 100 TB — partials build map-side per partition/day/tenant,
    // union cheaply at any granularity, and never rescan history;
    // the exact countDistinct it replaces is a full shuffle of every
    // distinct value. Sketch bytes differ across engines, so (like
    // g_approx_distinct) the CHECK is emitted, not the estimate.
    "g_hll_merge" -> ((s, dir) => {
      val perYear = Tables(s, dir, "orders")
        .groupBy(year(col("o_orderdate")).as("y"))
        .agg(hll_sketch_agg(col("o_custkey"), lit(12)).as("sk"))
      perYear
        .agg(hll_sketch_estimate(hll_union_agg(col("sk"), lit(false))).as("est"),
          count(lit(1)).as("n_years"))
        .crossJoin(Tables(s, dir, "orders")
          .agg(countDistinct(col("o_custkey")).as("exact")))
        .select(col("n_years"), col("exact"),
          (abs(col("est") - col("exact")) / col("exact") <= 0.05)
            .as("merged_within_5pct"))
    }),

    // EXACT heavy hitters via Misra-Gries pruning + verified recount
    // (scale/MisraGries): the k=63-counter sketch guarantees every
    // token with true frequency > n/64 survives as a candidate, so
    // filtering the exact recount at the stricter n/50 threshold
    // yields EXACTLY the >2%-of-token-mass tokens — the sketch only
    // bounds the shuffle (candidate tokens, <= k of them, instead of
    // the whole vocabulary), it never decides membership. Same
    // sketch-prunes/exact-verifies shape as the dedup and ANN packs;
    // the DuckDB oracle computes the plain exact answer.
    "g_heavy_hitters" -> ((s, dir) => {
      import s.implicits._
      val toks = Tables(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("token"))
        .filter(length(col("token")) > 0)
      // sketch AND stream length in ONE pass (two scans total, not
      // three); the 1-row result broadcasts candidates + n_total
      // together, and the inner join (candidate tokens are unique)
      // both filters to candidates and attaches the denominator
      val cands = toks.as[String]
        .select(graft.scale.MisraGries.sketch(63).toColumn.name("cands"),
          count(lit(1)).as[Long].name("n_total"))
        .toDF("cands", "n_total")
        .select(explode(col("cands")).as("token"), col("n_total"))
      toks.join(broadcast(cands), Seq("token"))
        .groupBy(col("token"), col("n_total"))
        .agg(count(lit(1)).as("freq"))
        .filter(col("freq") * 50 > col("n_total"))
        .select(col("token"), col("freq"), col("n_total"))
        .orderBy(desc("freq"), col("token"))
    }),

    // Table profiling — the ANALYZE-TABLE shape every warehouse runs
    // before planning: per-column null count, exact distinct count,
    // and min/max, followed by a stack() to rows. TWO aggregation
    // passes by design: the multi-countDistinct compiles to one
    // Expand-based aggregate whose buffer is all-bigint (stays in
    // HashAggregate), while min/max-over-strings carries var-length
    // buffers that force SortAggregate — fused into one pass they
    // drag the 7x-expanded stream through the sort path (measured
    // ~2x slower). The two 1-row results cross-join for free. min/max
    // are emitted only for types whose string form is
    // engine-identical (strings, integers); double/timestamp
    // formatting differs across engines and is profiled by
    // a5_summary_stats with rounding instead.
    "a7_profile" -> ((s, dir) => {
      import org.apache.spark.sql.types.{IntegerType, LongType, StringType}
      val df = Tables(s, dir, "orders")
      val fields = df.schema.fields
      val distinctAggs = fields.map(f =>
        countDistinct(col(f.name)).as(s"nd_${f.name}"))
      val statAggs = fields.flatMap { f =>
        val c = col(f.name)
        val (minS, maxS) = f.dataType match {
          case StringType => (min(c), max(c))
          case LongType | IntegerType =>
            (min(c).cast("string"), max(c).cast("string"))
          case _ => (lit(null).cast("string"), lit(null).cast("string"))
        }
        Seq(count(c).as(s"cnt_${f.name}"),
          minS.as(s"min_${f.name}"), maxS.as(s"max_${f.name}"))
      }
      val one = df.agg(distinctAggs.head, distinctAggs.tail.toSeq: _*)
        .crossJoin(df.agg(count(lit(1)).as("n_rows"), statAggs.toSeq: _*))
      val stackArgs = fields.map(f =>
        s"'${f.name}', n_rows - cnt_${f.name}, nd_${f.name}, " +
          s"min_${f.name}, max_${f.name}").mkString(", ")
      one.selectExpr(s"stack(${fields.length}, $stackArgs) AS " +
          "(col, n_null, n_distinct, min_s, max_s)")
        .orderBy(col("col"))
    }),

    // Equi-DEPTH histogram (ntile) — the complement of a6's
    // equi-width binning: deciles of the price distribution, each
    // bucket carrying its population and value span. ntile needs a
    // total order (tiebreak on o_orderkey makes bucket assignment
    // deterministic in both engines), but a bare ntile().over(
    // Window.orderBy(...)) funnels the whole table through ONE
    // partition — a scale-killer. scale/GlobalRank computes the
    // identical bucket via two-level ranking (approx splitters ->
    // chunk-partitioned row_number + broadcast chunk offsets). The
    // r12 ride exec was MEASURED here in r13 (an oracle-gated ntile
    // form over the ride, since deleted) and LOSES at every tested
    // tier — 98 s vs 36 s at sf10/15M orders — because the
    // ride's one advantage is riding the query's OUTPUT sort, and
    // this query's downstream is an aggregation: the ride pays a
    // range sort + row-copied persist + a separate count scan for an
    // order nobody consumes, while the two-level form never range-
    // sorts and fuses the count into its sketch pass. The two-level
    // default is the scale-correct choice for rank-into-aggregation
    // shapes; SCALE.md r13 records the measurement.
    "g_histogram_eqdepth" -> ((s, dir) => {
      val src = Tables(s, dir, "orders")
        .select(col("o_totalprice").as("v"), col("o_orderkey"))
      graft.scale.GlobalRank
        .withNtile(src, col("v"), col("o_orderkey"), "bucket", n = 10)
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"),
          round(min(col("v")), 2).as("lo"),
          round(max(col("v")), 2).as("hi"))
        .orderBy(col("bucket"))
    }),

    // PageRank over the customer<->supplier purchase graph (who bought
    // from whom, symmetrized), 5 rounds of the exact-integer update in
    // scale/PageRank.scala — parity-encoded shared node space
    // (customer c -> 2c, supplier s -> 2s+1, collision-free at any
    // SF). Integer micro-rank makes the result bit-identical
    // across engines (a double formulation differs in the last ulp
    // with partial-agg order); the DuckDB oracle unrolls the same 5
    // rounds as CTEs. Top-20 by authority, total-ordered.
    "g_pagerank" -> ((s, dir) =>
      // the symmetrized purchase graph's shared memoized edge frame
      graft.scale.PageRank.run(purchaseEo(s, dir), 5)
        .select(col("node"), col("rank"),
          (col("node") % 2 === 1).as("is_supplier"))
        .orderBy(desc("rank"), col("node")).limit(20)),

    // Market-basket co-occurrence — the support-counting core of
    // frequent-itemset mining (FPGrowth's first pass): part pairs
    // bought together in >= 3 orders. ONE order-keyed shuffle builds
    // sorted baskets; pair expansion is a per-basket HOF (bounded by
    // basket size, <= 13 here, <= 7-line orders in TPC-H generally) —
    // never a fact-table self-join, whose order-keyed join would
    // shuffle the lineitem table twice and blow up quadratically on a
    // hot order before the group-count could reduce it. The (pa, pb)
    // count shuffle is map-side combinable; the counted base itself
    // is the memoized `coPairs` shared with a11/g_triangle_count.
    "a10_copurchase" -> ((s, dir) => {
      coPairs(s, dir)
        .select(col("pa"), col("pb"), col("co_n").as("n_orders"))
        .filter(col("n_orders") >= 3)
        .orderBy(desc("n_orders"), col("pa"), col("pb"))
    }),

    // Exact triangle census of the part co-occurrence graph (parts
    // bought together in at least one order) — community density for
    // co-occurrence analytics. The edge list is the memoized `coPairs`
    // base's key set (grouped, so canonical a < b and distinct by
    // construction — never a fact self-join); the count itself is
    // scale/Triangles.scala's degree-oriented wedge closing, which
    // caps the wedge exchange at O(m^1.5) regardless of hub-part
    // skew. The DuckDB oracle counts by the canonical 3-way
    // id-ordered self-join — a DIFFERENT orientation (id, not degree)
    // proving the census is orientation-invariant, as any correct one
    // must be.
    "g_triangle_count" -> ((s, dir) =>
      graft.scale.Triangles.statsFromGraph(orientedCo(s, dir, 1))),

    // MODULARITY of the core/periphery partition — Newman's partition
    // quality Q for the 2-community split the 3-core induces (core
    // nodes vs the rest), computed EXACTLY: Q·4m² = Σ_c (4m·intra_c −
    // D_c²) is pure int64, emitted per community plus the global
    // Q in milli-units (div). The "is this split better than random"
    // check that community pipelines gate on; composes two existing
    // operators (KCore membership + one edge census) with zero new
    // iteration. All exchanges are node/edge-keyed hash aggs.
    // A/B EXPERIMENT READOUT — Welch's two-sample t from
    // integer-exact moments: ONE conditional-aggregation pass
    // computes both groups' (n, Σd, Σd²) as int64 (metric in whole
    // dollars so Σd² stays far inside int64 at this scale; a 1e9-row
    // deployment lifts the moments to DECIMAL(38) internally and
    // still emits the same row), then the t statistic is derived from
    // those six integers by an expression string SHARED VERBATIM with
    // the oracle — identical IEEE sequence, so even the float rounds
    // identically. The standard experimentation gate, one scan, no
    // shuffle beyond the global aggregate.
    "a13_abtest" -> ((s, dir) => {
      Tables(s, dir, "orders")
        .select((col("o_orderkey") % 2 === 0).as("grp"),
          round(col("o_totalprice")).cast("long").as("d"))
        .agg(
          count(when(col("grp"), 1)).as("n_a"),
          count(when(!col("grp"), 1)).as("n_b"),
          sum(when(col("grp"), col("d")).otherwise(0L)).as("sum_a"),
          sum(when(!col("grp"), col("d")).otherwise(0L)).as("sum_b"),
          sum(when(col("grp"), col("d") * col("d")).otherwise(0L)).as("ss_a"),
          sum(when(!col("grp"), col("d") * col("d")).otherwise(0L)).as("ss_b"))
        .withColumn("welch_t", expr(AbTestTExpr))
        .withColumn("significant", expr("abs(welch_t) > 1.96"))
    }),

    // LABEL-PROPAGATION communities — the linear-time community
    // detector (Raghavan et al. 2007), made deterministic for the
    // oracle gate: 3 SYNCHRONOUS rounds where every node adopts its
    // neighbors' most frequent label, ties broken by smallest label
    // (async/random-order LPA is irreproducible by design; the sync
    // variant is what a distributed engine runs anyway — one
    // node-keyed argmax per round). Labels start as node ids, so the
    // whole recurrence is integer-exact and the DuckDB oracle replays
    // the 3 rounds bit-identically. Per round: one edge-keyed join
    // (labels onto the shared co_n >= 2 adjacency) + one (node,
    // label) hash agg + one max_by argmax — 2 bounded exchanges, no
    // windows. Emitted per community: size and id-span, ordered by
    // size — the shape a curation pipeline consumes ("which clusters
    // to cap/sample").
    "g_label_prop" -> ((s, dir) => {
      val e = coPairs(s, dir).filter(col("co_n") >= 2)
        .select(col("pa").as("a"), col("pb").as("b"))
      val adj = e.select(col("a").as("v"), col("b").as("n"))
        .unionAll(e.select(col("b").as("v"), col("a").as("n")))
      var labels = adj.select(col("v").as("node"))
        .distinct().withColumn("lbl", col("node"))
      for (_ <- 1 to 3) {
        labels = adj
          .join(labels.withColumnRenamed("node", "n"), "n")
          .groupBy(col("v"), col("lbl"))
          .agg(count(lit(1)).as("cnt"))
          .groupBy(col("v").as("node"))
          .agg(max_by(col("lbl"),
            struct(col("cnt"), -col("lbl"))).as("lbl"))
      }
      labels.groupBy(col("lbl").as("community"))
        .agg(count(lit(1)).as("n_members"),
          min(col("node")).as("min_node"), max(col("node")).as("max_node"))
        .orderBy(desc("n_members"), col("community"))
    }),

    "g_modularity" -> ((s, dir) => {
      val e = coPairs(s, dir).filter(col("co_n") >= 2)
        .select(col("pa").as("a"), col("pb").as("b"))
      val core = graft.scale.KCore.edges(e, 3)
        .select(explode(array(col("a"), col("b"))).as("node"))
        .distinct()
      // community id: 1 = in the 3-core, 0 = periphery
      val label = e.select(explode(array(col("a"), col("b"))).as("node"))
        .distinct()
        .join(core.withColumn("inc", lit(1L)), Seq("node"), "left")
        .select(col("node"), coalesce(col("inc"), lit(0L)).as("comm"))
      val withC = e
        .join(label.select(col("node").as("a"), col("comm").as("ca")), "a")
        .join(label.select(col("node").as("b"), col("comm").as("cb")), "b")
      val m = e.agg(count(lit(1)).as("m"))
      // intra-community edge count and community degree sums
      val intra = withC.filter(col("ca") === col("cb"))
        .groupBy(col("ca").as("comm"))
        .agg(count(lit(1)).as("intra_edges"))
      val degSum = withC
        .select(explode(array(
          struct(col("ca").as("comm")), struct(col("cb").as("comm"))))
          .as("x"))
        .select(col("x.comm").as("comm"))
        .groupBy(col("comm")).agg(count(lit(1)).as("deg_sum"))
      val nNodes = label.groupBy(col("comm")).agg(count(lit(1)).as("n_nodes"))
      nNodes
        .join(intra, Seq("comm"), "left")
        .join(degSum, Seq("comm"), "left")
        .crossJoin(broadcast(m))
        .select(col("comm"), col("n_nodes"),
          coalesce(col("intra_edges"), lit(0L)).as("intra_edges"),
          coalesce(col("deg_sum"), lit(0L)).as("deg_sum"),
          expr("""(4 * m * coalesce(intra_edges, 0)
                  - coalesce(deg_sum, 0) * coalesce(deg_sum, 0))
                 * 1000 div (4 * m * m)""").as("q_contrib_milli"))
        .orderBy(col("comm"))
    }),

    // PERSONALIZED PageRank (scale/PageRank.runPersonalized):
    // teleport mass restricted to the low-id customer nodes — "which
    // suppliers matter to THESE customers", the seed-biased relevance
    // twin of g_pagerank's global authority. Same integer-exact
    // recurrence (base(v) = 150000·|V| div |S| on seeds), so the
    // oracle replays the 5 rounds bit-identically; top-20 via
    // TakeOrderedAndProject.
    "g_ppr" -> ((s, dir) => {
      // seeds: customer nodes (even parity) with custkey < 25 —
      // deterministic, present at every SF; read from the
      // session-lifetime purchasePairs memo the edge frame is built on
      val seeds = purchasePairs(s, dir).select((col("c") * 2L).as("node"))
        .filter(col("node") < 50)
      graft.scale.PageRank.runPersonalized(purchaseEo(s, dir), seeds, 5)
        .select(col("node"), col("rank"),
          (col("node") % 2 === 1).as("is_supplier"))
        .orderBy(desc("rank"), col("node")).limit(20)
    }),

    // ASSOCIATION RULES over the basket pairs — the step after a10's
    // support counting: confidence(a→b) = co(a,b)/cnt(a) and lift =
    // co·N/(cnt(a)·cnt(b)), emitted as exact integer basis points /
    // millis (div) so both engines rank on identical integers. Shape:
    // the shared memoized pair base + a broadcast item-count table +
    // a 1-row basket census cross — no new corpus-sized shuffle; the
    // top-20 is TakeOrderedAndProject. All quantities stay int64
    // (co·N·1000 ≲ 1e9 at sf0.1).
    "a12_basket_rules" -> ((s, dir) => {
      val li = itemOrders(s, dir)
      val items = li.groupBy(col("l_partkey").as("item"))
        .agg(count(lit(1)).as("cnt"))
      val n = li.select(col("l_orderkey")).distinct()
        .agg(count(lit(1)).as("n_baskets"))
      val pairs = coPairs(s, dir).filter(col("co_n") >= 2)
      val both = pairs
        .select(col("pa").as("ant"), col("pb").as("cons"), col("co_n"))
        .unionByName(pairs
          .select(col("pb").as("ant"), col("pa").as("cons"), col("co_n")))
      both
        .join(broadcast(items.select(col("item").as("ant"),
          col("cnt").as("cnt_a"))), "ant")
        .join(broadcast(items.select(col("item").as("cons"),
          col("cnt").as("cnt_c"))), "cons")
        .crossJoin(broadcast(n))
        .select(col("ant"), col("cons"), col("co_n"),
          col("cnt_a"), col("cnt_c"),
          expr("co_n * 10000 div cnt_a").as("conf_bp"),
          expr("co_n * n_baskets * 1000 div (cnt_a * cnt_c)")
            .as("lift_milli"))
        .orderBy(desc("lift_milli"), col("ant"), col("cons"))
        .limit(20)
    }),

    // Per-node LOCAL clustering coefficient — the node-level refinement
    // of g_triangle_count's global census (community-membership signal,
    // spam-node flagging: hubs with near-zero closure). Same degree
    // orientation + adjacency intersection as scale/Triangles, but
    // each edge's common-neighbor set is attributed to ALL THREE
    // corners (u and v get |W|, every w ∈ W gets 1 — one explode of
    // the already-computed intersection, no second census). Arrays are
    // O(√m)-bounded by orientation; coefficient in integer basis
    // points (20000·tri div d(d-1)) so the oracle hashes bit-stably.
    "g_local_clustering" -> ((s, dir) => {
      // shared construction (orientedCo at co_n >= 2): the per-node
      // census reuses the memoized degree orientation + adjacency of
      // the support-filtered graph instead of rebuilding both
      val g2 = orientedCo(s, dir, 2)
      val deg = g2.deg
      val oriented = g2.oriented
        .select(col("src").as("u"), col("dst").as("v"))
      val adj = g2.adj.select(col("src").as("u"), col("nb"))
      val perEdge = oriented
        .join(adj.select(col("u"), col("nb").as("na")), Seq("u"))
        .join(adj.select(col("u").as("v"), col("nb").as("nv")),
          Seq("v"), "left")
        .select(col("u"), col("v"),
          array_intersect(col("na"),
            coalesce(col("nv"), array())).as("ws"))
      val tri = perEdge.select(explode(concat(
          array(
            struct(col("u").as("node"),
              size(col("ws")).cast("long").as("t")),
            struct(col("v").as("node"),
              size(col("ws")).cast("long").as("t"))),
          expr("transform(ws, w -> struct(w AS node, 1L AS t))"))).as("c"))
        .select(col("c.node").as("node"), col("c.t").as("t"))
        .groupBy(col("node")).agg(sum(col("t")).as("tri"))
      deg.filter(col("d") >= 2)
        .join(tri, deg("v") === tri("node"), "left")
        .select(col("v").as("node"), col("d"),
          coalesce(col("tri"), lit(0L)).as("tri"))
        .withColumn("coeff_bp", expr("20000 * tri div (d * (d - 1))"))
        .orderBy(col("node"))
    }),

    // LINK PREDICTION by common neighbors + Jaccard — "parts likely
    // to be co-purchased next" on the same co_n >= 2 graph: for every
    // NON-edge (u, v) at distance 2, count shared neighbors and emit
    // the top 20 by (cn, u, v). Candidate generation is the standard
    // CN recipe: expand ordered pairs inside each node's neighbor
    // list (one HOF expansion per wedge center, the coPairs basket
    // shape — never an adjacency self-join), with wedge centers
    // capped at degree 64: hubs contribute O(deg²) wedges and only
    // noise candidates (everything is 2 hops via a hub), so
    // production CN/Adamic-Adar pipelines cap or downweight them —
    // here the cap is part of the operator's contract and the oracle
    // applies the identical rule. Jaccard in integer milli-units
    // (cn·1000 div (du + dv − cn)) so the row hashes bit-stably.
    // Scale: wedge work is Σ_{d(w)≤64} d(w)² ≤ 64m; candidate frame
    // exchanges 24-byte rows; final ranking is TakeOrderedAndProject.
    "g_linkpred" -> ((s, dir) => {
      val e = coPairs(s, dir).filter(col("co_n") >= 2)
        .select(col("pa").as("a"), col("pb").as("b"))
      val adj = e.select(col("a").as("w"), col("b").as("v"))
        .unionAll(e.select(col("b").as("w"), col("a").as("v")))
      val deg = adj.groupBy(col("w")).agg(count(lit(1)).as("d"))
      val neigh = adj.groupBy(col("w"))
        .agg(sort_array(collect_set(col("v"))).as("ns"))
        .filter(size(col("ns")) <= 64)
      val pairs = flatten(transform(col("ns"), (x, i) =>
        transform(slice(col("ns"), i + lit(2), size(col("ns"))),
          y => struct(x.as("u"), y.as("v")))))
      val cn = neigh.select(explode(pairs).as("p"))
        .select(col("p.u").as("u"), col("p.v").as("v"))
        .groupBy(col("u"), col("v")).agg(count(lit(1)).as("cn"))
      cn.join(e, cn("u") === e("a") && cn("v") === e("b"), "left_anti")
        .join(deg.select(col("w").as("u"), col("d").as("du")), Seq("u"))
        .join(deg.select(col("w").as("v"), col("d").as("dv")), Seq("v"))
        .select(col("u"), col("v"), col("cn"), col("du"), col("dv"))
        .withColumn("jac_milli", expr("cn * 1000 div (du + dv - cn)"))
        .orderBy(col("cn").desc, col("u"), col("v"))
        .limit(20)
    }),

    // k-CORE decomposition (scale/KCore.scala): peel the co_n >= 2
    // co-occurrence graph to its 3-core and emit every core node with
    // its within-core degree. The oracle replays the peel as a DuckDB
    // recursive CTE capped at 40 levels — far above the measured peel
    // depth (11 rounds at sf0.01, <= 3 elsewhere; peeling is
    // idempotent at fixpoint, so extra capped levels are no-ops) —
    // while the Spark side runs to TRUE fixpoint with an observe()-
    // fused convergence count. Exercises a different iterative shape
    // than CC/PageRank/BFS: monotone edge DELETION with a both-
    // endpoint predicate, not label propagation.
    "g_kcore" -> ((s, dir) => {
      val e = coPairs(s, dir).filter(col("co_n") >= 2)
        .select(col("pa").as("a"), col("pb").as("b"))
      graft.scale.KCore.nodeDegrees(e, 3).orderBy(col("node"))
    }),

    // APPROXIMATE triangle census — the budget twin SCALE.md's growth
    // table calls for (exact wedge-closing measured 8x at 10x edges;
    // its O(m^1.5) bound is the one super-linear grower). DOULION
    // (Tsourakakis et al., KDD'09): keep each edge independently with
    // p = 3/10, count triangles EXACTLY on the sample (same
    // degree-oriented operator), scale by 1/p^3 = 1000/27 — unbiased,
    // rel. std ~ 1/sqrt(p^3 T) (~1% on this fixture's 400k
    // triangles); wedge work drops by p^1.5. The sample is decided by
    // DETERMINISTIC integer arithmetic ((a*2654435761 + b*40503) mod
    // 10 < 3) that BOTH engines evaluate bit-identically in int64, so
    // unlike hash-seeded sketches this approximate row is fully
    // hash-gated, and the estimate is emitted as an exact integer
    // division (t * 1000 div 27). At 100 TB swap the multiplicative
    // mix for a shared 64-bit hash before ids approach overflow.
    // TrianglesSpec pins estimate-vs-exact accuracy (< 10% here).
    "g_triangle_approx" -> ((s, dir) => {
      // DOULION over the SHARED oriented graph: the sampled census
      // needs the sampled graph's exact triangle count, which is
      // orientation-invariant — so the full graph's (already-built,
      // memoized) degree orientation is reused and only the sampled
      // adjacency is rebuilt (Triangles.subgraphStats). The sampling
      // predicate is applied to the CANONICAL (a < b) endpoint pair,
      // reconstructed as (least, greatest) of the oriented edge —
      // bit-identical to sampling the canonical edge list.
      val g = orientedCo(s, dir, 1)
      val ca = least(col("src"), col("dst"))
      val cb = greatest(col("src"), col("dst"))
      val keep =
        pmod(ca * lit(2654435761L) + cb * lit(40503L), lit(10L)) < 3
      graft.scale.Triangles.subgraphStats(g, keep)
        .crossJoin(g.e.agg(count(lit(1)).as("n_edges_full")))
        .select(col("n_edges_full"),
          col("n_edges").as("n_sampled_edges"),
          col("n_triangles").as("t_sampled"),
          expr("n_triangles * 1000 div 27").as("t_est"))
    }),

    // Single-source BFS hop histogram over the symmetrized
    // customer<->supplier purchase graph (g_pagerank's parity-encoded
    // node space), seeded at the smallest customer node, 4 rounds;
    // nodes beyond the budget report hops = -1. The engine side is
    // scale/Bfs.scala's FRONTIER expansion (round i touches only
    // edges incident to newly-reached nodes); the DuckDB oracle
    // replays the same 4 rounds as unrolled full-relaxation CTEs —
    // equal outputs are the BFS frontier invariant, checked
    // cross-engine. The distinct pair base is persisted because
    // edges, seed, and node set all derive from it (one scan of
    // orders⋈lineitem, three cache reads — the same memoized-base
    // pattern as the dedup family's signature build).
    "g_sssp_hops" -> ((s, dir) => {
      // shared memoized pair base — see purchasePairs (r14)
      val pairs = purchasePairs(s, dir)
      val cNode = col("c") * 2L
      val sNode = col("sp") * 2L + 1L
      val source = pairs.agg(min(cNode).as("node"))
      val dist = graft.scale.Bfs.hops(
        purchaseEo(s, dir).select(col("src"), col("dst")), source, iters = 4)
      val nodes = pairs
        .select(explode(array(cNode, sNode)).as("node")).distinct()
      nodes.join(dist, Seq("node"), "left")
        .select(coalesce(col("dist"), lit(-1)).as("hops"))
        .groupBy(col("hops")).agg(count(lit(1)).as("n"))
        .orderBy(col("hops"))
    }),

    // Degree assortativity of the co-purchase graph — Newman's r: the
    // Pearson correlation of endpoint degrees across edges, THE
    // one-number summary of whether hubs attach to hubs (r > 0,
    // social-graph-like) or to leaves (r < 0, web/purchase-like).
    // Non-iterative, three bounded passes off the memoized coPairs
    // base: degree count (map-side combinable), two node-keyed joins
    // to attach endpoint degrees, one corr aggregate. Undirected
    // convention: each edge contributes BOTH (da, db) and (db, da) —
    // doubling makes the correlation symmetric (corr of the
    // symmetrized pairs equals Newman's formulation) and costs one
    // in-projection explode, not a second join. Rounded to 4dp: corr
    // partials are doubles and the last ulp is partial-agg-order
    // dependent (the a5_corr_skew precedent).
    "g_assortativity" -> ((s, dir) => {
      val e = coPairs(s, dir).select(col("pa").as("a"), col("pb").as("b"))
      val deg = e.select(explode(array(col("a"), col("b"))).as("v"))
        .groupBy(col("v")).agg(count(lit(1)).as("d"))
      e.join(deg.select(col("v").as("a"), col("d").as("da")), "a")
        .join(deg.select(col("v").as("b"), col("d").as("db")), "b")
        .select(explode(array(
          struct(col("da").as("x"), col("db").as("y")),
          struct(col("db").as("x"), col("da").as("y")))).as("p"))
        .agg(count(lit(1)).as("n_endpoints"),
          round(corr(col("p.x"), col("p.y")), 4).as("assortativity"))
    }),

    // Winsorization — the outlier-clipping featurization step: exact
    // p01/p99 cut points (one sort-based aggregate), broadcast back as
    // a 1-row frame, clip in a codegen'd projection, re-profile in one
    // pass. At 100 TB the exact percentile swaps for approx_percentile
    // (mergeable t-digest) with identical plumbing; the exact twin
    // pins the target here.
    "a8_winsorize" -> ((s, dir) => {
      val df = Tables(s, dir, "orders").select(col("o_totalprice").as("x"))
      val cuts = df.agg(
        expr("percentile(x, 0.01)").as("p01"),
        expr("percentile(x, 0.99)").as("p99"))
      df.crossJoin(broadcast(cuts))
        .select(col("x"), col("p01"), col("p99"),
          greatest(least(col("x"), col("p99")), col("p01")).as("w"))
        .agg(count(lit(1)).as("n"),
          count(when(col("x") > col("p99"), 1)).as("n_clip_hi"),
          count(when(col("x") < col("p01"), 1)).as("n_clip_lo"),
          round(avg(col("x")), 2).as("mean_raw"),
          round(avg(col("w")), 2).as("mean_wins"),
          round(max(col("w")), 2).as("max_wins"),
          round(min(col("w")), 2).as("min_wins"))
    }),

    // Per-group z-score standardization — the scale-then-normalize
    // featurization pass: group stats in one hash agg, broadcast back,
    // normalize in-projection, audit tails per group. Two passes total
    // regardless of group count; no window (a window would sort each
    // group for stats a hash agg computes without ordering).
    "a9_zscore" -> ((s, dir) => {
      val li = Tables(s, dir, "lineitem")
        .select(col("l_returnflag").as("rf"), col("l_extendedprice").as("x"))
      val stats = li.groupBy(col("rf"))
        .agg(avg(col("x")).as("mu"), stddev_samp(col("x")).as("sigma"))
      li.join(broadcast(stats), "rf")
        .select(col("rf"), ((col("x") - col("mu")) / col("sigma")).as("z"))
        .groupBy(col("rf"))
        .agg(count(lit(1)).as("n"),
          count(when(abs(col("z")) > 3, 1)).as("n_outliers"),
          round(max(col("z")), 3).as("max_z"),
          round(min(col("z")), 3).as("min_z"))
        .orderBy(col("rf"))
    }),

    // Data-quality audit — the Deequ-style constraint suite every
    // ingest gate runs: key uniqueness, completeness, value-range and
    // domain checks, and cross-table referential integrity, reported
    // long-format as (check_name, violations, total, pass). The scale
    // property: ALL single-table checks on a table fuse into ONE
    // aggregation pass (adding a constraint adds an aggregate
    // expression, not a scan), and the only cross-table check is one
    // anti join on the key — #passes stays O(#tables), never
    // O(#constraints).
    "dq_audit" -> ((s, dir) => {
      import graft.quality.Audit
      import graft.quality.Audit.{Complete, Satisfies, Unique}
      val cust = Tables(s, dir, "customer")
      val orders = Tables(s, dir, "orders")
      Audit.report(Seq(
        Audit.tableChecks(cust, Seq(
          Unique("customer.c_custkey unique", col("c_custkey")),
          Complete("customer.c_name complete", col("c_name")),
          Satisfies("customer.c_acctbal non_negative",
            col("c_acctbal") < 0),
          Satisfies("customer.c_mktsegment in_domain",
            !col("c_mktsegment").isin("AUTOMOBILE", "BUILDING",
              "FURNITURE", "MACHINERY", "HOUSEHOLD")))),
        Audit.tableChecks(orders, Seq(
          Unique("orders.o_orderkey unique", col("o_orderkey")),
          Satisfies("orders.o_totalprice positive",
            col("o_totalprice") <= 0),
          Satisfies("orders.o_orderstatus in_domain",
            !col("o_orderstatus").isin("O", "F", "P")),
          Satisfies("orders.o_orderdate in_range",
            col("o_orderdate") < lit("1992-01-01").cast("timestamp_ntz") ||
            col("o_orderdate") >= lit("1999-01-01").cast("timestamp_ntz")))),
        Audit.referentialIntegrity("orders.o_custkey references customer",
          orders, col("o_custkey"), cust, col("c_custkey"))))
    }),

    // Key-skew profiler — the diagnostic that decides WHETHER a join
    // needs salting/AQE skew handling before it runs (j9_salted_join
    // is the remedy; this is the measurement). Two-level shape: the
    // per-key count aggregate (map-side combinable, the only
    // fact-sized pass) feeds a key-cardinality-sized stats pass —
    // exact quantiles over #keys rows are fine at any fact scale
    // because keys, not rows, bound the second stage. top_share is
    // the single-task fraction a key-partitioned shuffle would hand
    // one reducer; p99/p50 is the standard skew ratio.
    "dq_skew" -> ((s, dir) => {
      val counts = Tables(s, dir, "lineitem")
        .groupBy(col("l_suppkey")).agg(count(lit(1)).as("cnt"))
      counts.agg(
        count(lit(1)).as("n_keys"),
        sum(col("cnt")).as("n_rows"),
        max(col("cnt")).as("max_cnt"),
        round(max(col("cnt")) / sum(col("cnt")), 6).as("top_share"),
        round(expr("percentile(cnt, 0.5)"), 4).as("p50"),
        round(expr("percentile(cnt, 0.99)"), 4).as("p99"),
        round(expr("percentile(cnt, 0.99) / percentile(cnt, 0.5)"), 4)
          .as("skew_ratio"))
    }),

    // Volume-anomaly detection over the event stream — the pipeline
    // health check every ingestion DAG runs before training data is
    // trusted: flag days whose event volume sits > 2 sigma from the
    // mean. Two bounded aggregates (daily counts = O(#days) rows,
    // global stats = 1 row broadcast back via cross join) — NO global
    // window, so the plan scales regardless of how many events a day
    // holds. stddev_pop (not _samp): the day set is the population
    // under test, and both engines define it identically.
    // Distribution DRIFT between two time halves of the stream — the
    // monitoring check behind model-retrain triggers and pipeline
    // regression alarms: per value-bin share of each half and the
    // share delta, all in integer basis points (a PSI-style score
    // would need ln(), whose last-ulp differs across libm builds — the
    // per-bin deltas carry the same signal hash-stably). The split
    // point is the integer-microsecond midpoint of the observed span:
    // deterministic at every SF, no percentile parity risk. Two
    // map-side-combinable censuses + a 1-row totals broadcast.
    "dq_drift" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .select(unix_micros(col("ts")).as("us"), col("value"))
      val half = ev.agg(expr("(min(us) + max(us)) div 2").as("mid"))
      val binned = ev.crossJoin(broadcast(half))
        .select(least(floor(col("value") / 50.0), lit(9.0))
            .cast("long").as("bin"),
          (col("us") < col("mid")).as("early"))
      val census = binned.groupBy(col("bin"))
        .agg(sum(when(col("early"), 1L).otherwise(0L)).as("n_early"),
          sum(when(col("early"), 0L).otherwise(1L)).as("n_late"))
      val tot = census.agg(sum(col("n_early")).as("te"),
        sum(col("n_late")).as("tl"))
      census.crossJoin(broadcast(tot))
        .select(col("bin"), col("n_early"), col("n_late"),
          expr("n_early * 10000 div te").as("early_bp"),
          expr("n_late * 10000 div tl").as("late_bp"),
          expr("n_late * 10000 div tl - n_early * 10000 div te")
            .as("delta_bp"))
        .orderBy(col("bin"))
    }),

    "dq_anomaly" -> ((s, dir) => {
      val daily = Tables.events(s, dir)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
      val stats = daily.agg(
        avg(col("n")).as("mu"), expr("stddev_pop(n)").as("sigma"))
      daily.crossJoin(broadcast(stats))
        .select(col("day"), col("n"),
          round((col("n") - col("mu")) / col("sigma"), 4).as("z"))
        .filter(abs(col("n") - col("mu")) > lit(2) * col("sigma"))
        .orderBy(col("day"))
    }),

    // Item-item collaborative filtering scores — the normalization
    // step that turns a10's raw co-occurrence counts into cosine
    // similarity (co_count / sqrt(cnt_a * cnt_b)), the classic
    // item-CF / "customers also bought" kernel. Same basket-HOF
    // expansion as a10 (never a fact self-join); the per-item totals
    // (one 16-byte row per distinct item) join back twice WITHOUT a
    // forced broadcast hint: under the threshold AQE broadcasts them
    // anyway, and at catalog scales where the item dimension outgrows
    // broadcast the plan degrades to a shuffled join instead of OOMing
    // the driver. Top-20 overall by score — TakeOrderedAndProject, no
    // global sort.
    "a11_item_cf" -> ((s, dir) => {
      val co = coPairs(s, dir).filter(col("co_n") >= 3)
      val itemN = itemOrders(s, dir)
        .groupBy(col("l_partkey")).agg(count(lit(1)).as("n"))
      co.join(itemN.select(col("l_partkey").as("pa"), col("n").as("na")), "pa")
        .join(itemN.select(col("l_partkey").as("pb"), col("n").as("nb")), "pb")
        .select(col("pa"), col("pb"), col("co_n"),
          round(col("co_n") / sqrt(col("na") * col("nb")), 6).as("cosine"))
        .orderBy(desc("cosine"), col("pa"), col("pb"))
        .limit(20)
    })
  )

  /** Welch's t from the six integer moments — ONE definition, spliced
    * verbatim into both the Spark plan and the DuckDB oracle so the
    * float arithmetic is the identical IEEE sequence (sums cast to
    * double BEFORE squaring: Σd is ~1e10 at sf0.1, and a bigint
    * square would overflow int64 — and DuckDB would silently promote
    * to HUGEINT, the round-5 decimal-hash lesson). */
  private val AbTestTExpr: String =
    """round((sum_a / n_a - sum_b / n_b) / sqrt(
      |  ((ss_a - CAST(sum_a AS DOUBLE) * sum_a / n_a) / (n_a - 1)) / n_a +
      |  ((ss_b - CAST(sum_b AS DOUBLE) * sum_b / n_b) / (n_b - 1)) / n_b),
      |  4)""".stripMargin

  /** The LPA oracle unrolls the same 3 synchronous rounds (generated,
    * not hand-typed — one definition of the argmax tie-break shared
    * with the Spark side's max_by(lbl, struct(cnt, -lbl))). */
  private val lpaRounds: String = (1 to 3).map { k =>
    s"""l$k AS (
       |  SELECT v AS node, lbl FROM (
       |    SELECT v, lbl,
       |      row_number() OVER (PARTITION BY v ORDER BY cnt DESC, lbl) AS rn
       |    FROM (SELECT adj.v, l.lbl, count(*) AS cnt
       |          FROM adj JOIN l${k - 1} l ON l.node = adj.n
       |          GROUP BY 1, 2) c)
       |  WHERE rn = 1)""".stripMargin
  }.mkString(",\n")

  /** g_modularity's k-core peel, unrolled as `k` MATERIALIZED CTE
    * rounds: e_{i+1} = edges of e_i whose endpoints both still have
    * degree >= 3 within e_i — exactly the old recursive peel's
    * per-iteration rule (it too always ran the full 40 iterations).
    * The recursive form re-aggregated degrees against the recursion's
    * working table and accumulated E×41 rows through UNION ALL; at
    * sf1 that blew the oracle probe's time cap (r10), while the
    * unrolled form is a flat O(k·E) chain the planner executes once. */
  private def peelRounds(k: Int): String =
    (1 to k).map { i =>
      val p = s"e${i - 1}"
      s"""d$i AS MATERIALIZED (
        |  SELECT n, count(*) AS c FROM
        |    (SELECT a AS n FROM $p UNION ALL SELECT b AS n FROM $p) t
        |  GROUP BY n),
        |e$i AS MATERIALIZED (
        |  SELECT pl.a, pl.b FROM $p pl
        |  JOIN d$i da ON da.n = pl.a
        |  JOIN d$i db ON db.n = pl.b
        |  WHERE da.c >= 3 AND db.c >= 3)""".stripMargin
    }.mkString(",\n")

  override def oracleSql: Map[String, String] = Map(
    "a13_abtest" ->
      s"""WITH m AS (
         |  SELECT
         |    count(*) FILTER (o_orderkey % 2 = 0) AS n_a,
         |    count(*) FILTER (o_orderkey % 2 <> 0) AS n_b,
         |    CAST(sum(CASE WHEN o_orderkey % 2 = 0
         |      THEN CAST(round(o_totalprice) AS BIGINT) ELSE 0 END)
         |      AS BIGINT) AS sum_a,
         |    CAST(sum(CASE WHEN o_orderkey % 2 <> 0
         |      THEN CAST(round(o_totalprice) AS BIGINT) ELSE 0 END)
         |      AS BIGINT) AS sum_b,
         |    CAST(sum(CASE WHEN o_orderkey % 2 = 0
         |      THEN CAST(round(o_totalprice) AS BIGINT)
         |           * CAST(round(o_totalprice) AS BIGINT) ELSE 0 END)
         |      AS BIGINT) AS ss_a,
         |    CAST(sum(CASE WHEN o_orderkey % 2 <> 0
         |      THEN CAST(round(o_totalprice) AS BIGINT)
         |           * CAST(round(o_totalprice) AS BIGINT) ELSE 0 END)
         |      AS BIGINT) AS ss_b
         |  FROM orders)
         |SELECT n_a, n_b, sum_a, sum_b, ss_a, ss_b,
         |  $AbTestTExpr AS welch_t,
         |  abs($AbTestTExpr) > 1.96 AS significant
         |FROM m""".stripMargin,

    "g_label_prop" ->
      s"""WITH bk AS MATERIALIZED (
         |  SELECT l_orderkey, list(DISTINCT l_partkey) AS ps
         |  FROM lineitem GROUP BY 1),
         |pr AS MATERIALIZED (SELECT unnest(ps) AS pa, l_orderkey FROM bk),
         |pp AS MATERIALIZED (SELECT x.pa AS a, y.pa AS b FROM pr x JOIN pr y
         |       ON x.l_orderkey = y.l_orderkey AND x.pa < y.pa),
         |e AS MATERIALIZED (SELECT a, b FROM
         |        (SELECT a, b, count(*) AS n FROM pp GROUP BY 1, 2)
         |      WHERE n >= 2),
         |adj AS MATERIALIZED (SELECT a AS v, b AS n FROM e
         |        UNION ALL SELECT b AS v, a AS n FROM e),
         |l0 AS MATERIALIZED (SELECT DISTINCT v AS node, v AS lbl FROM adj),
         |$lpaRounds
         |SELECT lbl AS community, CAST(count(*) AS BIGINT) AS n_members,
         |  min(node) AS min_node, max(node) AS max_node
         |FROM l3 GROUP BY 1
         |ORDER BY n_members DESC, community""".stripMargin,
    "g_rollup" ->
      """SELECT year(o_orderdate) AS y, o_orderpriority AS prio,
        |  count(*) AS cnt,
        |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2)
        |    AS total,
        |  GROUPING(year(o_orderdate), o_orderpriority) AS gid
        |FROM orders GROUP BY ROLLUP (year(o_orderdate), o_orderpriority)
        |ORDER BY gid, y, prio""".stripMargin,

    "g_cube" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS cnt,
        |  round(sum(l_quantity), 2) AS qty,
        |  GROUPING(l_returnflag, l_linestatus) AS gid
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY gid, l_returnflag, l_linestatus""".stripMargin,

    "g_grouping_sets" ->
      """SELECT year(o_orderdate) AS y, o_orderstatus AS st,
        |  GROUPING(year(o_orderdate), o_orderstatus) AS gid, count(*) AS cnt
        |FROM orders
        |GROUP BY GROUPING SETS ((year(o_orderdate)), (o_orderstatus), ())
        |ORDER BY gid, y, st""".stripMargin,

    "g_distinct" ->
      """SELECT DISTINCT o_orderpriority, o_orderstatus
        |FROM orders ORDER BY 1, 2""".stripMargin,

    "g_grouped_quantiles" ->
      """SELECT s_nationkey,
        |  round(quantile_cont(s_acctbal, 0.5), 4) AS p50,
        |  round(quantile_cont(s_acctbal, 0.95), 4) AS p95,
        |  count(*) AS n
        |FROM supplier GROUP BY 1 ORDER BY 1""".stripMargin,

    "g_percentiles" ->
      """SELECT round(quantile_cont(o_totalprice, 0.25), 4) AS p25,
        |  round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
        |  round(quantile_cont(o_totalprice, 0.75), 4) AS p75,
        |  round(median(o_totalprice), 4) AS med
        |FROM orders""".stripMargin,

    // Oracle-side band is ±0.01 rank (vs Spark's ±0.002): DuckDB's
    // approx_quantile is a t-digest with NO hard rank-error bound
    // (unlike Spark's GK at accuracy=1000, eps=0.001), so a tight band
    // can flake under parallel aggregation or regenerated testdata.
    // Each side checks its OWN sketch against its OWN exact quantiles
    // at a band its sketch can honor; both emit true.
    "g_quantile_sketch" ->
      """SELECT CAST(count(*) AS BIGINT) AS n,
        |  approx_quantile(o_totalprice, 0.5)
        |    BETWEEN quantile_cont(o_totalprice, 0.49)
        |        AND quantile_cont(o_totalprice, 0.51) AS p50_in_bound,
        |  approx_quantile(o_totalprice, 0.95)
        |    BETWEEN quantile_cont(o_totalprice, 0.94)
        |        AND quantile_cont(o_totalprice, 0.96) AS p95_in_bound
        |FROM orders""".stripMargin,

    "g_approx_distinct" ->
      """SELECT abs(approx_count_distinct(l_partkey) - count(DISTINCT l_partkey))
        |  * 1.0 / count(DISTINCT l_partkey) <= 0.05 AS within_5pct
        |FROM lineitem""".stripMargin,

    // the oracle pins the exact side and the invariant; the sketch
    // union itself is engine-internal
    "g_hll_merge" ->
      """SELECT count(DISTINCT year(o_orderdate)) AS n_years,
        |  count(DISTINCT o_custkey) AS exact,
        |  true AS merged_within_5pct
        |FROM orders""".stripMargin,

    "g_heavy_hitters" ->
      """WITH t AS (
        |  SELECT unnest(string_split(text, ' ')) AS token FROM documents),
        |tt AS (SELECT token FROM t WHERE len(token) > 0),
        |tot AS (SELECT count(*) AS n_total FROM tt),
        |c AS (SELECT token, count(*) AS freq FROM tt GROUP BY 1)
        |SELECT token, freq, n_total FROM c, tot
        |WHERE freq * 50 > n_total ORDER BY freq DESC, token""".stripMargin,

    "a7_profile" ->
      """SELECT col, CAST(n_null AS BIGINT) AS n_null,
        |  CAST(n_distinct AS BIGINT) AS n_distinct, min_s, max_s FROM (
        |  SELECT 'o_orderkey' AS col,
        |    count(*) - count(o_orderkey) AS n_null,
        |    count(DISTINCT o_orderkey) AS n_distinct,
        |    CAST(min(o_orderkey) AS VARCHAR) AS min_s,
        |    CAST(max(o_orderkey) AS VARCHAR) AS max_s FROM orders
        |  UNION ALL
        |  SELECT 'o_custkey', count(*) - count(o_custkey),
        |    count(DISTINCT o_custkey),
        |    CAST(min(o_custkey) AS VARCHAR), CAST(max(o_custkey) AS VARCHAR)
        |  FROM orders
        |  UNION ALL
        |  SELECT 'o_orderstatus', count(*) - count(o_orderstatus),
        |    count(DISTINCT o_orderstatus),
        |    min(o_orderstatus), max(o_orderstatus) FROM orders
        |  UNION ALL
        |  SELECT 'o_totalprice', count(*) - count(o_totalprice),
        |    count(DISTINCT o_totalprice), NULL, NULL FROM orders
        |  UNION ALL
        |  SELECT 'o_orderdate', count(*) - count(o_orderdate),
        |    count(DISTINCT o_orderdate), NULL, NULL FROM orders
        |  UNION ALL
        |  SELECT 'o_orderpriority', count(*) - count(o_orderpriority),
        |    count(DISTINCT o_orderpriority),
        |    min(o_orderpriority), max(o_orderpriority) FROM orders
        |) ORDER BY col""".stripMargin,

    "g_histogram_eqdepth" ->
      """SELECT bucket, CAST(count(*) AS BIGINT) AS n,
        |  round(min(v), 2) AS lo, round(max(v), 2) AS hi
        |FROM (
        |  SELECT o_totalprice AS v,
        |    ntile(10) OVER (ORDER BY o_totalprice, o_orderkey) AS bucket
        |  FROM orders)
        |GROUP BY bucket ORDER BY bucket""".stripMargin,

    "g_pagerank" ->
      """WITH pairs AS MATERIALIZED (
        |  SELECT DISTINCT o_custkey AS c, l_suppkey AS sp
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |ed AS MATERIALIZED (
        |  SELECT c * 2 AS src, sp * 2 + 1 AS dst FROM pairs
        |  UNION
        |  SELECT sp * 2 + 1 AS src, c * 2 AS dst FROM pairs),
        |od AS MATERIALIZED (SELECT src, count(*) AS od FROM ed GROUP BY 1),
        |e AS MATERIALIZED (SELECT ed.src, ed.dst, od.od FROM ed JOIN od ON od.src = ed.src),
        |r0 AS MATERIALIZED (SELECT DISTINCT src AS node, CAST(1000000 AS BIGINT) AS rank
        |       FROM ed),
        |r1 AS MATERIALIZED (
        |  SELECT e.dst AS node, 150000 + (850 * sum(r.rank // e.od)) // 1000 AS rank
        |  FROM e JOIN r0 r ON r.node = e.src GROUP BY e.dst),
        |r2 AS MATERIALIZED (
        |  SELECT e.dst AS node, 150000 + (850 * sum(r.rank // e.od)) // 1000 AS rank
        |  FROM e JOIN r1 r ON r.node = e.src GROUP BY e.dst),
        |r3 AS MATERIALIZED (
        |  SELECT e.dst AS node, 150000 + (850 * sum(r.rank // e.od)) // 1000 AS rank
        |  FROM e JOIN r2 r ON r.node = e.src GROUP BY e.dst),
        |r4 AS MATERIALIZED (
        |  SELECT e.dst AS node, 150000 + (850 * sum(r.rank // e.od)) // 1000 AS rank
        |  FROM e JOIN r3 r ON r.node = e.src GROUP BY e.dst),
        |r5 AS MATERIALIZED (
        |  SELECT e.dst AS node, 150000 + (850 * sum(r.rank // e.od)) // 1000 AS rank
        |  FROM e JOIN r4 r ON r.node = e.src GROUP BY e.dst)
        |SELECT node, CAST(rank AS BIGINT) AS rank,
        |  node % 2 = 1 AS is_supplier
        |FROM r5 ORDER BY rank DESC, node LIMIT 20""".stripMargin,

    "a10_copurchase" ->
      """WITH li AS (
        |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
        |SELECT a.l_partkey AS pa, b.l_partkey AS pb,
        |  CAST(count(*) AS BIGINT) AS n_orders
        |FROM li a JOIN li b USING (l_orderkey)
        |WHERE a.l_partkey < b.l_partkey
        |GROUP BY 1, 2 HAVING count(*) >= 3
        |ORDER BY n_orders DESC, pa, pb""".stripMargin,

    "g_assortativity" ->
      """WITH li AS (
        |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |e AS (
        |  SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
        |  FROM li a JOIN li b USING (l_orderkey)
        |  WHERE a.l_partkey < b.l_partkey),
        |deg AS (
        |  SELECT v, count(*) AS d FROM (
        |    SELECT a AS v FROM e UNION ALL SELECT b AS v FROM e)
        |  GROUP BY 1),
        |pairs AS (
        |  SELECT da.d AS x, db.d AS y
        |  FROM e JOIN deg da ON e.a = da.v JOIN deg db ON e.b = db.v
        |  UNION ALL
        |  SELECT db.d AS x, da.d AS y
        |  FROM e JOIN deg da ON e.a = da.v JOIN deg db ON e.b = db.v)
        |SELECT CAST(count(*) AS BIGINT) AS n_endpoints,
        |  round(corr(x, y), 4) AS assortativity
        |FROM pairs""".stripMargin,

    "dq_skew" ->
      """WITH c AS (
        |  SELECT l_suppkey, count(*) AS cnt FROM lineitem GROUP BY 1)
        |SELECT CAST(count(*) AS BIGINT) AS n_keys,
        |  CAST(sum(cnt) AS BIGINT) AS n_rows,
        |  CAST(max(cnt) AS BIGINT) AS max_cnt,
        |  round(max(cnt) / sum(cnt), 6) AS top_share,
        |  round(quantile_cont(cnt, 0.5), 4) AS p50,
        |  round(quantile_cont(cnt, 0.99), 4) AS p99,
        |  round(quantile_cont(cnt, 0.99) / quantile_cont(cnt, 0.5), 4)
        |    AS skew_ratio
        |FROM c""".stripMargin,

    // same integer-microsecond midpoint split, bins, and bp arithmetic
    "dq_drift" ->
      """WITH ev AS (
        |  SELECT epoch_us(ts) AS us, value FROM events),
        |half AS (SELECT (min(us) + max(us)) // 2 AS mid FROM ev),
        |b AS (
        |  SELECT CAST(least(floor(value / 50.0), 9.0) AS BIGINT) AS bin,
        |    us < (SELECT mid FROM half) AS early
        |  FROM ev),
        |c AS (
        |  SELECT bin,
        |    CAST(sum(CASE WHEN early THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_early,
        |    CAST(sum(CASE WHEN early THEN 0 ELSE 1 END) AS BIGINT)
        |      AS n_late
        |  FROM b GROUP BY 1),
        |t AS (SELECT CAST(sum(n_early) AS BIGINT) AS te,
        |             CAST(sum(n_late) AS BIGINT) AS tl FROM c)
        |SELECT bin, n_early, n_late,
        |  CAST(n_early * 10000 // te AS BIGINT) AS early_bp,
        |  CAST(n_late * 10000 // tl AS BIGINT) AS late_bp,
        |  CAST(n_late * 10000 // tl - n_early * 10000 // te AS BIGINT)
        |    AS delta_bp
        |FROM c, t ORDER BY bin""".stripMargin,

    "dq_anomaly" ->
      """WITH d AS (
        |  SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1),
        |s AS (SELECT avg(n) AS mu, stddev_pop(n) AS sigma FROM d)
        |SELECT day, n, round((n - mu) / sigma, 4) AS z
        |FROM d, s
        |WHERE abs(n - mu) > 2 * sigma
        |ORDER BY day""".stripMargin,

    "a11_item_cf" ->
      """WITH li AS (
        |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |co AS (
        |  SELECT a.l_partkey AS pa, b.l_partkey AS pb,
        |    CAST(count(*) AS BIGINT) AS co_n
        |  FROM li a JOIN li b USING (l_orderkey)
        |  WHERE a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 3),
        |n AS (
        |  SELECT l_partkey, CAST(count(*) AS BIGINT) AS n FROM li GROUP BY 1)
        |SELECT pa, pb, co_n,
        |  round(co_n / sqrt(na.n * nb.n), 6) AS cosine
        |FROM co JOIN n na ON co.pa = na.l_partkey
        |        JOIN n nb ON co.pb = nb.l_partkey
        |ORDER BY cosine DESC, pa, pb LIMIT 20""".stripMargin,

    "g_triangle_count" ->
      """WITH li AS MATERIALIZED (
        |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |e AS MATERIALIZED (
        |  SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
        |  FROM li a JOIN li b USING (l_orderkey)
        |  WHERE a.l_partkey < b.l_partkey),
        |deg AS MATERIALIZED (
        |  SELECT v, count(*) AS d
        |  FROM (SELECT a AS v FROM e UNION ALL SELECT b AS v FROM e)
        |  GROUP BY v),
        |tri AS MATERIALIZED (
        |  SELECT count(*) AS t
        |  FROM e e1
        |  JOIN e e2 ON e1.a = e2.a AND e1.b < e2.b
        |  JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b)
        |SELECT CAST((SELECT count(*) FROM deg) AS BIGINT) AS n_nodes,
        |  CAST((SELECT count(*) FROM e) AS BIGINT) AS n_edges,
        |  CAST((SELECT sum(d * (d - 1) // 2) FROM deg) AS BIGINT)
        |    AS n_wedges,
        |  CAST(t AS BIGINT) AS n_triangles,
        |  CASE WHEN (SELECT sum(d * (d - 1) // 2) FROM deg) > 0
        |    THEN round(3.0 * t / (SELECT sum(d * (d - 1) // 2) FROM deg), 6)
        |    ELSE 0.0 END AS clustering
        |FROM tri""".stripMargin,

    // same deterministic sample + 3-way count + exact integer scaling
    "g_triangle_approx" ->
      """WITH li AS (
        |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |e AS (
        |  SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
        |  FROM li a JOIN li b USING (l_orderkey)
        |  WHERE a.l_partkey < b.l_partkey),
        |s AS (
        |  SELECT a, b FROM e
        |  WHERE (a * 2654435761 + b * 40503) % 10 < 3),
        |tri AS (
        |  SELECT count(*) AS t
        |  FROM s e1
        |  JOIN s e2 ON e1.a = e2.a AND e1.b < e2.b
        |  JOIN s e3 ON e3.a = e1.b AND e3.b = e2.b)
        |SELECT CAST((SELECT count(*) FROM e) AS BIGINT) AS n_edges_full,
        |  CAST((SELECT count(*) FROM s) AS BIGINT) AS n_sampled_edges,
        |  CAST(t AS BIGINT) AS t_sampled,
        |  CAST(t * 1000 // 27 AS BIGINT) AS t_est
        |FROM tri""".stripMargin,

    // reuses the k-core peel (unrolled, see peelRounds) for the core
    // membership, then the same exact-integer Q arithmetic; comm CAST
    // to BIGINT to match Spark's long labels
    "g_modularity" ->
      s"""WITH bk AS MATERIALIZED (
        |  SELECT l_orderkey, list(DISTINCT l_partkey) AS ps
        |  FROM lineitem GROUP BY 1),
        |p AS MATERIALIZED (SELECT unnest(ps) AS pa, l_orderkey FROM bk),
        |pp AS (SELECT x.pa AS a, y.pa AS b FROM p x JOIN p y
        |       ON x.l_orderkey = y.l_orderkey AND x.pa < y.pa),
        |e0 AS MATERIALIZED (SELECT a, b FROM
        |        (SELECT a, b, count(*) AS n FROM pp GROUP BY 1, 2)
        |      WHERE n >= 2),
        |${peelRounds(40)},
        |core AS MATERIALIZED (SELECT DISTINCT n FROM
        |  (SELECT a AS n FROM e40
        |   UNION ALL SELECT b AS n FROM e40) t),
        |nodes AS MATERIALIZED (SELECT DISTINCT n FROM
        |  (SELECT a AS n FROM e0 UNION ALL SELECT b AS n FROM e0) t),
        |lab AS MATERIALIZED (
        |  SELECT nodes.n AS node,
        |    CAST(CASE WHEN core.n IS NOT NULL THEN 1 ELSE 0 END
        |      AS BIGINT) AS comm
        |  FROM nodes LEFT JOIN core ON nodes.n = core.n),
        |wc AS MATERIALIZED (
        |  SELECT la.comm AS ca, lb.comm AS cb
        |  FROM e0 JOIN lab la ON e0.a = la.node
        |         JOIN lab lb ON e0.b = lb.node),
        |mm AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS m FROM e0),
        |intra AS (SELECT ca AS comm, CAST(count(*) AS BIGINT)
        |            AS intra_edges FROM wc WHERE ca = cb GROUP BY 1),
        |ds AS (SELECT comm, CAST(count(*) AS BIGINT) AS deg_sum FROM
        |  (SELECT ca AS comm FROM wc UNION ALL SELECT cb FROM wc) t
        |  GROUP BY 1),
        |nn AS (SELECT comm, CAST(count(*) AS BIGINT) AS n_nodes
        |       FROM lab GROUP BY 1)
        |SELECT nn.comm, n_nodes,
        |  CAST(coalesce(intra_edges, 0) AS BIGINT) AS intra_edges,
        |  CAST(coalesce(ds.deg_sum, 0) AS BIGINT) AS deg_sum,
        |  CAST((4 * (SELECT m FROM mm) * coalesce(intra_edges, 0)
        |        - coalesce(ds.deg_sum, 0) * coalesce(ds.deg_sum, 0))
        |       * 1000 // (4 * (SELECT m FROM mm) * (SELECT m FROM mm))
        |    AS BIGINT) AS q_contrib_milli
        |FROM nn LEFT JOIN intra ON nn.comm = intra.comm
        |        LEFT JOIN ds ON nn.comm = ds.comm
        |ORDER BY nn.comm""".stripMargin,

    // the personalized recurrence unrolled: per round, every node's
    // rank = its seed base + damped inflow (coalesced to 0 — rank
    // concentrates near seeds); integer-exact like g_pagerank
    "g_ppr" ->
      """WITH pairs AS MATERIALIZED (
        |  SELECT DISTINCT o_custkey AS c, l_suppkey AS sp
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |ed AS MATERIALIZED (
        |  SELECT c * 2 AS src, sp * 2 + 1 AS dst FROM pairs
        |  UNION
        |  SELECT sp * 2 + 1 AS src, c * 2 AS dst FROM pairs),
        |od AS MATERIALIZED (SELECT src, count(*) AS od FROM ed GROUP BY 1),
        |e AS MATERIALIZED (SELECT ed.src, ed.dst, od.od FROM ed JOIN od ON od.src = ed.src),
        |nd AS MATERIALIZED (SELECT DISTINCT src AS node FROM ed),
        |seeds AS MATERIALIZED (SELECT node FROM nd WHERE node % 2 = 0 AND node < 50),
        |base AS MATERIALIZED (
        |  SELECT nd.node,
        |    CASE WHEN s.node IS NOT NULL THEN
        |      CAST(150000 * (SELECT count(*) FROM nd)
        |           // (SELECT count(*) FROM seeds) AS BIGINT)
        |    ELSE CAST(0 AS BIGINT) END AS b
        |  FROM nd LEFT JOIN seeds s ON nd.node = s.node),
        |r0 AS MATERIALIZED (SELECT node, CAST(1000000 AS BIGINT) AS rank FROM nd),
        |r1 AS MATERIALIZED (
        |  SELECT b.node, CAST(b.b + (850 * coalesce(f.fl, 0)) // 1000
        |    AS BIGINT) AS rank
        |  FROM base b LEFT JOIN (
        |    SELECT e.dst AS node, sum(r.rank // e.od) AS fl
        |    FROM e JOIN r0 r ON r.node = e.src GROUP BY 1) f
        |  ON b.node = f.node),
        |r2 AS MATERIALIZED (
        |  SELECT b.node, CAST(b.b + (850 * coalesce(f.fl, 0)) // 1000
        |    AS BIGINT) AS rank
        |  FROM base b LEFT JOIN (
        |    SELECT e.dst AS node, sum(r.rank // e.od) AS fl
        |    FROM e JOIN r1 r ON r.node = e.src GROUP BY 1) f
        |  ON b.node = f.node),
        |r3 AS MATERIALIZED (
        |  SELECT b.node, CAST(b.b + (850 * coalesce(f.fl, 0)) // 1000
        |    AS BIGINT) AS rank
        |  FROM base b LEFT JOIN (
        |    SELECT e.dst AS node, sum(r.rank // e.od) AS fl
        |    FROM e JOIN r2 r ON r.node = e.src GROUP BY 1) f
        |  ON b.node = f.node),
        |r4 AS MATERIALIZED (
        |  SELECT b.node, CAST(b.b + (850 * coalesce(f.fl, 0)) // 1000
        |    AS BIGINT) AS rank
        |  FROM base b LEFT JOIN (
        |    SELECT e.dst AS node, sum(r.rank // e.od) AS fl
        |    FROM e JOIN r3 r ON r.node = e.src GROUP BY 1) f
        |  ON b.node = f.node),
        |r5 AS MATERIALIZED (
        |  SELECT b.node, CAST(b.b + (850 * coalesce(f.fl, 0)) // 1000
        |    AS BIGINT) AS rank
        |  FROM base b LEFT JOIN (
        |    SELECT e.dst AS node, sum(r.rank // e.od) AS fl
        |    FROM e JOIN r4 r ON r.node = e.src GROUP BY 1) f
        |  ON b.node = f.node)
        |SELECT node, rank, node % 2 = 1 AS is_supplier
        |FROM r5 ORDER BY rank DESC, node LIMIT 20""".stripMargin,

    // same pair base, item census, and integer rule arithmetic; both
    // rule directions unioned before ranking
    "a12_basket_rules" ->
      """WITH li AS MATERIALIZED (
        |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |items AS MATERIALIZED (
        |  SELECT l_partkey AS item, CAST(count(*) AS BIGINT) AS cnt
        |  FROM li GROUP BY 1),
        |n AS MATERIALIZED (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT)
        |        AS n_baskets FROM li),
        |p AS MATERIALIZED (
        |  SELECT a.l_partkey AS pa, b.l_partkey AS pb,
        |    CAST(count(*) AS BIGINT) AS co_n
        |  FROM li a JOIN li b USING (l_orderkey)
        |  WHERE a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |bi AS (
        |  SELECT pa AS ant, pb AS cons, co_n FROM p
        |  UNION ALL
        |  SELECT pb AS ant, pa AS cons, co_n FROM p),
        |r AS (
        |  SELECT ant, cons, co_n, ia.cnt AS cnt_a, ic.cnt AS cnt_c,
        |    CAST(co_n * 10000 // ia.cnt AS BIGINT) AS conf_bp,
        |    CAST(co_n * (SELECT n_baskets FROM n) * 1000
        |         // (ia.cnt * ic.cnt) AS BIGINT) AS lift_milli
        |  FROM bi
        |  JOIN items ia ON bi.ant = ia.item
        |  JOIN items ic ON bi.cons = ic.item)
        |SELECT ant, cons, co_n, cnt_a, cnt_c, conf_bp, lift_milli
        |FROM r ORDER BY lift_milli DESC, ant, cons LIMIT 20""".stripMargin,

    // per-node triangle incidence via the canonical id-oriented 3-way
    // join (a DIFFERENT orientation than the Spark side's degree
    // orientation — the per-node census must be orientation-invariant),
    // each triangle credited to all three corners
    "g_local_clustering" ->
      """WITH bk AS (
        |  SELECT l_orderkey, list(DISTINCT l_partkey) AS ps
        |  FROM lineitem GROUP BY 1),
        |pr AS (SELECT unnest(ps) AS pa, l_orderkey FROM bk),
        |pp AS (SELECT x.pa AS a, y.pa AS b FROM pr x JOIN pr y
        |       ON x.l_orderkey = y.l_orderkey AND x.pa < y.pa),
        |e AS (SELECT a, b FROM
        |        (SELECT a, b, count(*) AS n FROM pp GROUP BY 1, 2)
        |      WHERE n >= 2),
        |deg AS (
        |  SELECT v, CAST(count(*) AS BIGINT) AS d FROM
        |    (SELECT a AS v FROM e UNION ALL SELECT b AS v FROM e) t
        |  GROUP BY 1),
        |tri3 AS (
        |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
        |  FROM e e1
        |  JOIN e e2 ON e1.a = e2.a AND e1.b < e2.b
        |  JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b),
        |tn AS (SELECT x AS n FROM tri3 UNION ALL SELECT y FROM tri3
        |       UNION ALL SELECT z FROM tri3),
        |tc AS (SELECT n, CAST(count(*) AS BIGINT) AS t FROM tn GROUP BY 1)
        |SELECT deg.v AS node, d, CAST(coalesce(t, 0) AS BIGINT) AS tri,
        |  CAST(20000 * coalesce(t, 0) // (d * (d - 1)) AS BIGINT)
        |    AS coeff_bp
        |FROM deg LEFT JOIN tc ON deg.v = tc.n
        |WHERE d >= 2 ORDER BY node""".stripMargin,

    // same graph, same degree-64 wedge-center cap, NOT EXISTS for the
    // non-edge filter; ordering (cn DESC, u, v) is total so LIMIT 20
    // is deterministic
    "g_linkpred" ->
      """WITH bk AS (
        |  SELECT l_orderkey, list(DISTINCT l_partkey) AS ps
        |  FROM lineitem GROUP BY 1),
        |pr AS (SELECT unnest(ps) AS pa, l_orderkey FROM bk),
        |pp AS (SELECT x.pa AS a, y.pa AS b FROM pr x JOIN pr y
        |       ON x.l_orderkey = y.l_orderkey AND x.pa < y.pa),
        |e AS (SELECT a, b FROM
        |        (SELECT a, b, count(*) AS n FROM pp GROUP BY 1, 2)
        |      WHERE n >= 2),
        |adj AS (SELECT a AS w, b AS v FROM e
        |        UNION ALL SELECT b AS w, a AS v FROM e),
        |deg AS (SELECT w, CAST(count(*) AS BIGINT) AS d
        |        FROM adj GROUP BY 1),
        |cn AS (
        |  SELECT x.v AS u, y.v AS v, CAST(count(*) AS BIGINT) AS cn
        |  FROM adj x
        |  JOIN adj y ON x.w = y.w AND x.v < y.v
        |  JOIN deg ON deg.w = x.w
        |  WHERE deg.d <= 64
        |  GROUP BY 1, 2),
        |cand AS (
        |  SELECT u, v, cn FROM cn
        |  WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.a = cn.u AND e.b = cn.v))
        |SELECT u, v, cn, du.d AS du, dv.d AS dv,
        |  CAST(cn * 1000 // (du.d + dv.d - cn) AS BIGINT) AS jac_milli
        |FROM cand
        |JOIN deg du ON du.w = cand.u
        |JOIN deg dv ON dv.w = cand.v
        |ORDER BY cn DESC, u, v LIMIT 20""".stripMargin,

    // the peel as a recursive CTE: each level keeps edges whose BOTH
    // endpoints have degree >= 3 in the PREVIOUS level's survivor set;
    // 40 capped levels >> the measured peel depth (11 at sf0.01), and
    // a stable level is a no-op, so level 40 IS the fixpoint (an empty
    // core just stops the recursion early — also the fixpoint)
    "g_kcore" ->
      """WITH RECURSIVE bk AS (
        |  SELECT l_orderkey, list(DISTINCT l_partkey) AS ps
        |  FROM lineitem GROUP BY 1),
        |p AS (SELECT unnest(ps) AS pa, l_orderkey FROM bk),
        |pp AS (SELECT x.pa AS a, y.pa AS b FROM p x JOIN p y
        |       ON x.l_orderkey = y.l_orderkey AND x.pa < y.pa),
        |e AS (SELECT a, b FROM
        |        (SELECT a, b, count(*) AS n FROM pp GROUP BY 1, 2)
        |      WHERE n >= 2),
        |peel(a, b, iter) AS (
        |  SELECT a, b, 0 FROM e
        |  UNION ALL
        |  SELECT pl.a, pl.b, pl.iter + 1
        |  FROM peel pl,
        |    (SELECT n, count(*) AS c FROM
        |      (SELECT a AS n FROM peel UNION ALL SELECT b AS n FROM peel) t
        |     GROUP BY n) da,
        |    (SELECT n, count(*) AS c FROM
        |      (SELECT a AS n FROM peel UNION ALL SELECT b AS n FROM peel) t
        |     GROUP BY n) db
        |  WHERE pl.iter < 40 AND da.n = pl.a AND db.n = pl.b
        |    AND da.c >= 3 AND db.c >= 3),
        |core AS (SELECT a, b FROM peel WHERE iter = 40)
        |SELECT n AS node, CAST(count(*) AS BIGINT) AS core_deg
        |FROM (SELECT a AS n FROM core UNION ALL SELECT b AS n FROM core) t
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "g_sssp_hops" ->
      """WITH pairs AS MATERIALIZED (
        |  SELECT DISTINCT o_custkey AS c, l_suppkey AS sp
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |e AS MATERIALIZED (
        |  SELECT c * 2 AS src, sp * 2 + 1 AS dst FROM pairs
        |  UNION
        |  SELECT sp * 2 + 1 AS src, c * 2 AS dst FROM pairs),
        |d0 AS MATERIALIZED (SELECT min(c) * 2 AS node, 0 AS dist FROM pairs),
        |d1 AS MATERIALIZED (SELECT node, min(dist) AS dist FROM (
        |  SELECT * FROM d0 UNION ALL
        |  SELECT e.dst, d0.dist + 1 FROM d0 JOIN e ON e.src = d0.node)
        |  GROUP BY node),
        |d2 AS MATERIALIZED (SELECT node, min(dist) AS dist FROM (
        |  SELECT * FROM d1 UNION ALL
        |  SELECT e.dst, d1.dist + 1 FROM d1 JOIN e ON e.src = d1.node)
        |  GROUP BY node),
        |d3 AS MATERIALIZED (SELECT node, min(dist) AS dist FROM (
        |  SELECT * FROM d2 UNION ALL
        |  SELECT e.dst, d2.dist + 1 FROM d2 JOIN e ON e.src = d2.node)
        |  GROUP BY node),
        |d4 AS MATERIALIZED (SELECT node, min(dist) AS dist FROM (
        |  SELECT * FROM d3 UNION ALL
        |  SELECT e.dst, d3.dist + 1 FROM d3 JOIN e ON e.src = d3.node)
        |  GROUP BY node),
        |nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM e)
        |SELECT CAST(coalesce(d4.dist, -1) AS INTEGER) AS hops,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM nodes LEFT JOIN d4 ON nodes.node = d4.node
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "a8_winsorize" ->
      """WITH cuts AS (
        |  SELECT quantile_cont(o_totalprice, 0.01) AS p01,
        |    quantile_cont(o_totalprice, 0.99) AS p99
        |  FROM orders)
        |SELECT CAST(count(*) AS BIGINT) AS n,
        |  CAST(count(*) FILTER (o_totalprice > p99) AS BIGINT) AS n_clip_hi,
        |  CAST(count(*) FILTER (o_totalprice < p01) AS BIGINT) AS n_clip_lo,
        |  round(avg(o_totalprice), 2) AS mean_raw,
        |  round(avg(greatest(least(o_totalprice, p99), p01)), 2) AS mean_wins,
        |  round(max(greatest(least(o_totalprice, p99), p01)), 2) AS max_wins,
        |  round(min(greatest(least(o_totalprice, p99), p01)), 2) AS min_wins
        |FROM orders, cuts""".stripMargin,

    "a9_zscore" ->
      """WITH s AS (
        |  SELECT l_returnflag AS rf, avg(l_extendedprice) AS mu,
        |    stddev_samp(l_extendedprice) AS sigma
        |  FROM lineitem GROUP BY 1)
        |SELECT rf, CAST(count(*) AS BIGINT) AS n,
        |  CAST(count(*) FILTER (abs((l_extendedprice - mu) / sigma) > 3)
        |    AS BIGINT) AS n_outliers,
        |  round(max((l_extendedprice - mu) / sigma), 3) AS max_z,
        |  round(min((l_extendedprice - mu) / sigma), 3) AS min_z
        |FROM lineitem JOIN s ON l_returnflag = s.rf
        |GROUP BY rf ORDER BY rf""".stripMargin,

    "dq_audit" ->
      """WITH c AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(count(*) - count(DISTINCT c_custkey) AS BIGINT) AS dup_key,
        |    CAST(count(*) - count(c_name) AS BIGINT) AS null_name,
        |    CAST(count(*) FILTER (c_acctbal < 0) AS BIGINT) AS neg_bal,
        |    CAST(count(*) FILTER (c_mktsegment NOT IN ('AUTOMOBILE',
        |      'BUILDING', 'FURNITURE', 'MACHINERY', 'HOUSEHOLD'))
        |      AS BIGINT) AS bad_seg
        |  FROM customer),
        |o AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT) AS dup_key,
        |    CAST(count(*) FILTER (o_totalprice <= 0) AS BIGINT) AS bad_price,
        |    CAST(count(*) FILTER (o_orderstatus NOT IN ('O', 'F', 'P'))
        |      AS BIGINT) AS bad_status,
        |    CAST(count(*) FILTER (o_orderdate < TIMESTAMP '1992-01-01'
        |      OR o_orderdate >= TIMESTAMP '1999-01-01') AS BIGINT) AS bad_date
        |  FROM orders),
        |ri AS (
        |  SELECT CAST(count(*) AS BIGINT) AS orphans FROM orders
        |  WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)),
        |rows_out AS (
        |  SELECT 'customer.c_custkey unique' AS check_name,
        |    dup_key AS violations, n AS total FROM c
        |  UNION ALL SELECT 'customer.c_name complete', null_name, n FROM c
        |  UNION ALL SELECT 'customer.c_acctbal non_negative', neg_bal, n FROM c
        |  UNION ALL SELECT 'customer.c_mktsegment in_domain', bad_seg, n FROM c
        |  UNION ALL SELECT 'orders.o_custkey references customer',
        |    ri.orphans, o.n FROM o, ri
        |  UNION ALL SELECT 'orders.o_orderdate in_range', bad_date, n FROM o
        |  UNION ALL SELECT 'orders.o_orderkey unique', dup_key, n FROM o
        |  UNION ALL SELECT 'orders.o_orderstatus in_domain', bad_status, n FROM o
        |  UNION ALL SELECT 'orders.o_totalprice positive', bad_price, n FROM o)
        |SELECT check_name, violations, total, violations = 0 AS pass
        |FROM rows_out ORDER BY check_name""".stripMargin
  )
}
