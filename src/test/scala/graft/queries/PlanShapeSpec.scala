package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}

/** Physical-plan regression tests for the properties the 100 TB design
  * rests on (SCALE.md): filters reach the parquet scan, projections
  * prune the read schema, dimension joins broadcast, top-k never sorts
  * globally, and the hashed-shingle rewrite keeps document text out of
  * every exchange. A regression in any of these stays invisible to the
  * value-level oracle (results stay right, plans go quadratic/wide) —
  * which is exactly why they are pinned here at the plan level. */
class PlanShapeSpec extends SparkSpec {

  private val dir = sf("sf0.001")

  private def df(name: String): DataFrame =
    graft.SparkEntry.queries(name)(spark, dir)

  /** Plan string of the initial physical plan — enough for scan-level
    * facts (pushdown, read schema), which AQE never changes. */
  private def plan(name: String): String =
    df(name).queryExecution.executedPlan.toString

  /** Execute, then return the FINAL adaptive plan (AQE re-plans at
    * runtime; pre-execution the interesting operators are hidden
    * inside unevaluated stages). */
  private def finalPlan(frame: DataFrame): SparkPlan = {
    frame.collect()
    frame.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
  }

  /** All shuffle exchanges in a plan, looking through AQE query
    * stages and reused exchanges (QueryStageExec is a leaf to the
    * default traversal). */
  private def shuffles(p: SparkPlan): Seq[ShuffleExchangeExec] = p match {
    case a: AdaptiveSparkPlanExec => shuffles(a.executedPlan)
    case q: QueryStageExec => shuffles(q.plan)
    case r: ReusedExchangeExec => shuffles(r.child)
    case e: ShuffleExchangeExec => e +: e.children.flatMap(shuffles)
    case other => other.children.flatMap(shuffles)
  }

  test("p4 numeric filter is pushed down to the parquet scan") {
    val p = plan("p4_filter_numeric")
    assert(p.contains("PushedFilters: ["), s"no pushdown section:\n$p")
    assert(p.matches("(?s).*PushedFilters: \\[[^\\]]*GreaterThan.*"),
      s"filter not pushed:\n$p")
  }

  test("p1 projection prunes the scan to the selected columns") {
    val p = plan("p1_project_rename")
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(read.contains("c_custkey"), s"ReadSchema missing key: $read")
    assert(!read.contains("c_mktsegment"),
      s"unprojected column still read: $read")
  }

  test("j1 dimension join broadcasts the small side") {
    val p = plan("j1_left_join")
    assert(p.contains("BroadcastHashJoin"), s"dim join not broadcast:\n$p")
  }

  test("o4 top-k plans as TakeOrderedAndProject, not a global sort") {
    val p = plan("o4_topk_orders")
    assert(p.contains("TakeOrderedAndProject"), s"no top-k operator:\n$p")
  }

  test("t_boilerplate shuffles hashes, never document text") {
    val ex = shuffles(finalPlan(df("t_boilerplate")))
    assert(ex.nonEmpty)
    ex.foreach { e =>
      val cols = e.child.output.map(_.name)
      assert(!cols.contains("text") && !cols.contains("sg"),
        s"document text reaches a shuffle: $cols")
    }
  }

  test("d_exact shuffles (hash, id) rows, not document bodies") {
    val ex = shuffles(finalPlan(df("d_exact")))
    assert(ex.nonEmpty)
    // the all-corpus grouping exchange must not carry `text`; only the
    // tiny verified-dup re-group (left-semi survivors) may
    val textCarrying = ex.count(_.child.output.exists(_.name == "text"))
    assert(textCarrying <= 1,
      s"full-text shuffle regressed: $textCarrying exchanges carry text")
  }

  test("t_decontam broadcasts the eval hash set; text stays out of exchanges") {
    val frame = df("t_decontam")
    val p = finalPlan(frame)
    // the contamination probe is a broadcast hash join against the
    // distinct eval trigram set (LEFT OUTER + flag-sum since the
    // one-pass decontamStats rewrite — one hash pass per train doc
    // instead of two; the eval set must never be the build side of a
    // SHUFFLED join)
    assert(p.toString.contains("BroadcastHashJoin") &&
      p.toString.contains("LeftOuter"),
      s"eval-set probe not a broadcast join:\n$p")
    shuffles(p).foreach { e =>
      val cols = e.child.output.map(_.name)
      assert(!cols.contains("text"),
        s"document text reaches a decontamination shuffle: $cols")
    }
  }

  test("t_bigram_lm top-k plans as TakeOrderedAndProject") {
    val p = plan("t_bigram_lm")
    assert(p.contains("TakeOrderedAndProject"), s"no top-k operator:\n$p")
  }

  test("sql_q6 pushes all three predicates into the lineitem scan") {
    val p = plan("sql_q6_forecast")
    // shipdate range, discount band, quantity bound — all stats-prunable.
    // Match within the PushedFilters line: the plan string elides long
    // filter lists with "...", so requiring the closing bracket fails.
    val pushed = p.linesIterator.filter(_.contains("PushedFilters: ["))
      .mkString("\n")
    assert(pushed.contains("l_shipdate"), s"shipdate not pushed:\n$p")
    assert(pushed.contains("l_quantity"), s"quantity not pushed:\n$p")
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!read.contains("l_orderkey"),
      s"scan reads columns the aggregate never uses: $read")
  }

  test("sql_q4 correlated EXISTS decorrelates to one semi join") {
    // the per-order subquery must become a left-semi hash join probed
    // once, not a per-row subquery execution
    val p = plan("sql_q4_late_orders")
    assert(p.contains("LeftSemi"), s"EXISTS not decorrelated:\n$p")
    assert(!p.contains("Subquery"), s"residual subquery execution:\n$p")
  }

  test("sql_q22 plans the NOT EXISTS as an anti join with pushed date filter") {
    val p = plan("sql_q22_dormant")
    assert(p.contains("LeftAnti"), s"NOT EXISTS not an anti join:\n$p")
    val pushed = p.linesIterator.filter(_.contains("PushedFilters: ["))
      .mkString("\n")
    assert(pushed.contains("o_orderdate"),
      s"date predicate not pushed into the orders scan:\n$p")
  }

  test("sql_q17 computes the per-part average once, not per probe row") {
    val p = plan("sql_q17_small_qty")
    // decorrelated scalar agg = aggregate feeding a join on l_partkey
    assert(p.contains("HashAggregate") &&
      (p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin")),
      s"correlated AVG not decorrelated to aggregate-then-join:\n$p")
  }

  test("j12_bloom_join evaluates the bitset test below the real join") {
    val p = finalPlan(df("j12_bloom_join")).toString
    // the 1-row bitset rides a broadcast nested-loop whose condition is
    // the codegen'd membership test — if this disappears, the prune
    // silently degenerated to a plain join (results stay identical)
    assert(p.contains("BroadcastNestedLoopJoin") &&
      p.contains("shiftrightunsigned"),
      s"bloom membership test missing from the plan:\n$p")
  }

  test("t_para_dedup shuffles carry no document text, only segments") {
    // the corpus-sized exchange keys on seg_text (bounded segments);
    // whole-document text must never reach an exchange
    shuffles(finalPlan(df("t_para_dedup"))).foreach { e =>
      val cols = e.child.output.map(_.name)
      assert(!cols.contains("text"),
        s"document text reaches a dedup shuffle: $cols")
    }
  }

  test("a10_copurchase never self-joins the fact table") {
    val p = finalPlan(df("a10_copurchase")).toString
    // basket formulation: generator expansion, no join operator at all
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"fact self-join crept into the basket plan:\n$p")
    assert(p.contains("Generate"), s"pair generator missing:\n$p")
  }

  test("relational queries keep whole-stage codegen in the hot path") {
    // codegen'd operators print as `*(id) Op` in the plan string
    val p = finalPlan(df("q1_agg")).toString
    assert(p.contains("*("), s"no whole-stage-codegen spans:\n$p")
  }

  /** File scans of `table` anywhere in the plan, including subquery
    * plans — the replay detector for decorrelated-subquery rewrites. */
  private def factScans(p: SparkPlan, table: String): Int = {
    import org.apache.spark.sql.execution.FileSourceScanExec
    def go(n: SparkPlan): Int = {
      val self = n match {
        case f: FileSourceScanExec
          if f.relation.location.rootPaths.exists(_.toString.contains(table)) => 1
        case _ => 0
      }
      val kids = n match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case r: ReusedExchangeExec => Seq(r.child)
        case other => other.children
      }
      self + kids.map(go).sum + n.subqueries.map(go).sum
    }
    go(p)
  }

  test("sql_q21 scans lineitem exactly once (no semi/anti replays)") {
    // the textbook EXISTS + NOT-EXISTS spelling decorrelates to three
    // lineitem scans; the aggregation rewrite must keep it at one
    val p = df("sql_q21_waiting").queryExecution.executedPlan
    assert(factScans(p, "lineitem") == 1,
      s"lineitem scanned ${factScans(p, "lineitem")} times:\n$p")
    assert(factScans(p, "orders") == 1)
  }

  test("sql_q2 builds the EU join tree once (single lineitem scan)") {
    val p = df("sql_q2_min_cost").queryExecution.executedPlan
    assert(factScans(p, "lineitem") == 1,
      s"correlated-MIN join tree duplicated:\n$p")
  }

  test("no query plans an unbounded nested-loop join outside the allowlist") {
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    // A join with no equi-key plans as BNLJ/CartesianProduct — O(n*m)
    // comparisons, the range-join scale killer RangeJoin.scala exists
    // to avoid. Value-invisible (results stay right), so it is pinned
    // at the plan level like the window invariant below. Allowlisted
    // sites are each bounded or deliberate:
    //  - s_knn_brute/s_knn_mips/s_knn_filtered/d_embed_cos/
    //    s_hybrid_rrf: the LABELED exact baselines — broadcast query
    //    side is ~10 rows by construction; their sketch twins are the
    //    scale path (s_hybrid_rrf fuses two exact rankers over the
    //    same bounded query set)
    //  - s_knn_lsh/ivf/pq: recall-invariant rows that RUN the brute
    //    baseline to score the ANN path against it
    //  - a8_winsorize/a9_zscore/dq_anomaly/sql_q11_important/
    //    sql_scalar_max_qty/d_pipeline/t_pipeline/t_decontam/t_budget/
    //    t_split/mm_*: a 1-row (or per-group stats) broadcast frame
    //    crossed back into the projection — O(n), not O(n*m)
    //  - j12_bloom_join: the 1-row bitset rides a BNLJ by design
    //    (plan pinned in its own test above)
    //  - a7_profile/dq_audit/g_hll_merge/g_triangle_count/
    //    g_triangle_approx/t_tfidf: crosses of 1-row aggregate frames
    //    (profile passes, check tallies, sketch-vs-exact, census
    //    stats, the full-edge count next to the sampled census, the
    //    IDF doc count) — 1 x 1 or n x 1 with a literal row, never
    //    n x m
    //  - d_fuzzy_names: the length-band non-equi join runs on the
    //    DISTINCT-name vocabulary (Heaps'-law bounded), not the corpus
    //  - a12_basket_rules: the 1-row basket-census frame crossed into
    //    the rule projection (n x 1) — same class as a7/dq_audit
    //  - dq_drift: two 1-row crosses (the midpoint scalar, the totals
    //    row) — same class
    //  - g_modularity: the 1-row edge-count frame crossed into the
    //    per-community Q projection — same class
    //  - s_kmeans: the k-row (k=4) broadcast centroid frame crossed
    //    against the corpus for assignment — n x k with k a small
    //    constant, the canonical Lloyd's broadcast shape
    val allow = Set(
      "a12_basket_rules", "s_kmeans", "dq_drift", "g_modularity",
      "s_knn_brute", "s_knn_mips", "s_knn_filtered", "d_embed_cos",
      "s_hybrid_rrf",
      "s_knn_lsh", "s_knn_ivf", "s_knn_pq", "s_quantize", "s_label_centroid",
      // s_decontam_semantic: the 50-row eval frame broadcast against
      // the train scan — the s_knn_brute bounded-query-side class
      "s_decontam_semantic",
      "a8_winsorize", "a9_zscore", "dq_anomaly", "j12_bloom_join",
      "sql_q11_important", "sql_scalar_max_qty", "d_pipeline", "t_pipeline",
      "t_decontam", "t_budget", "t_split", "d_semdedup", "d_cluster",
      "mm_decode", "mm_embed", "mm_frame_sample", "mm_resize",
      "a7_profile", "dq_audit", "g_hll_merge", "g_triangle_count",
      "g_triangle_approx",
      // t_bm25/t_dsir: the 1-row N and token-total frames crossed into
      // the scoring projection — the t_tfidf scalar-broadcast class
      "t_tfidf", "t_bm25", "t_dsir", "d_fuzzy_names")
    def loops(p: SparkPlan): Seq[SparkPlan] = graft.PlanWalk.collect(p) {
      case j: BroadcastNestedLoopJoinExec => j
      case c: CartesianProductExec => c
    }
    val offenders = graft.SparkEntry.queries.keys.toSeq.sorted
      .filterNot(allow)
      .flatMap { name =>
        val found = loops(graft.SparkEntry.queries(name)(spark, dir)
          .queryExecution.executedPlan)
        graft.scale.CacheRegistry.drain()
        found.map(j => s"$name -> ${j.nodeName}")
      }
    assert(offenders.isEmpty,
      s"nested-loop join outside the allowlist:\n${offenders.mkString("\n")}")
  }

  test("no query plans an unpartitioned WindowExec (single-partition funnel)") {
    import org.apache.spark.sql.execution.window.WindowExec
    // Window.orderBy with no partition spec moves the operator's whole
    // input through ONE task — invisible to the value oracle, fatal at
    // cluster scale. Every SparkEntry query plan is walked; the
    // allowlist is EMPTY since round 7 — the former members (t_vocab,
    // m1_freq_index) now rank through scale/GlobalRank's two-level
    // scheme, so no query funnels its window input through one task.
    val allow = Set.empty[String]
    def windows(p: SparkPlan): Seq[WindowExec] =
      graft.PlanWalk.collect(p) { case w: WindowExec => w }
    val offenders = graft.SparkEntry.queries.keys.toSeq.sorted
      .filterNot(allow)
      .flatMap { name =>
        val found = windows(graft.SparkEntry.queries(name)(spark, dir)
            .queryExecution.executedPlan)
          .filter(_.partitionSpec.isEmpty)
        graft.scale.CacheRegistry.drain()
        found.map(w => s"$name -> ${w.windowExpression.mkString(", ")}")
      }
    assert(offenders.isEmpty,
      s"unpartitioned WindowExec outside the allowlist:\n${offenders.mkString("\n")}")
  }
}
