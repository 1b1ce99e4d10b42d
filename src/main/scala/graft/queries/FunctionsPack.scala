package graft.queries

import graft.QueryPack
import graft.io.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}

/** Scalar/collection function surface beyond the reference's F1-F9
  * (SURVEY §2.9 notes the reference touches no date/array/map/JSON
  * column functions — an analytics engine needs them): date arithmetic,
  * array and map ops, JSON parsing to structs, pivot/unpivot, null-safe
  * equality joins, analytic window extras. All pure projections or
  * single-shuffle shapes; every query DuckDB-oracle-checked.
  */
object FunctionsPack extends QueryPack {

  /** fn_window_distinct's adaptive-form crossover: below this scan
    * size the DIRECT 3-task running window beats the ride operator's
    * fixed overhead (~2 s: two extra jobs + persist + broadcast);
    * above it the ride's one-shared-sort plan wins and keeps winning
    * (2.8x at 909 MB/sf10 on local[32], 3.6x at 3 real JVMs —
    * FwdProbe). 256 MB sits between the measured points (81 MB sf1:
    * direct fine; 909 MB sf10: ride 2.8x) with ~3x margin each way. */
  val RideThreshold: Long = 256L * 1024 * 1024

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Date/time arithmetic over o_orderdate.
    "fn_dates" -> ((s, dir) => {
      Tables(s, dir, "orders")
        .select(col("o_orderkey"),
          date_add(col("o_orderdate").cast("date"), 30).as("plus30"),
          last_day(col("o_orderdate")).as("month_end"),
          datediff(lit("1998-12-31").cast("date"),
            col("o_orderdate").cast("date")).as("days_to_end"),
          year(col("o_orderdate")).as("y"),
          month(col("o_orderdate")).as("m"),
          dayofmonth(col("o_orderdate")).as("d"),
          quarter(col("o_orderdate")).as("q"),
          // dayofweek: Spark 1=Sunday..7=Saturday; emit ISO-agnostic
          // 0=Sunday..6 to match DuckDB's dow
          (dayofweek(col("o_orderdate")) - 1).as("dow"))
        .orderBy(col("o_orderkey"))
    }),

    // Array functions over tokenized document text.
    "fn_arrays" -> ((s, dir) => {
      val toks = split(col("text"), " ")
      Tables(s, dir, "documents")
        .select(col("doc_id"),
          size(toks).as("n"),
          element_at(toks, 1).as("first_tok"),
          element_at(toks, -1).as("last_tok"),
          concat_ws("|", slice(toks, 1, 3)).as("first3"),
          concat_ws("|", array_sort(array_distinct(toks))).as("sorted_uniq"),
          array_position(toks, "data").as("data_pos"),
          size(array_remove(toks, "the")).as("n_no_the"))
        .orderBy(col("doc_id"))
    }),

    // Map construction + lookup: per-document token frequency map,
    // queried for two probe words. aggregate shape: explode -> count ->
    // map_from_entries.
    "fn_maps" -> ((s, dir) => {
      val tok = Tables(s, dir, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("c"))
      tok.groupBy(col("doc_id"))
        .agg(map_from_entries(array_sort(collect_list(struct(col("w"), col("c")))))
          .as("freq"))
        .select(col("doc_id"),
          size(col("freq")).as("n_keys"),
          coalesce(element_at(col("freq"), "data"), lit(0L)).as("data_cnt"),
          coalesce(element_at(col("freq"), "spark"), lit(0L)).as("spark_cnt"))
        .orderBy(col("doc_id"))
    }),

    // JSON -> typed struct via from_json (not just path extraction).
    "fn_from_json" -> ((s, dir) => {
      val schema = StructType(Seq(StructField("k", IntegerType)))
      Tables(s, dir, "events")
        .select(col("event_id"),
          from_json(col("props"), schema).getField("k").as("k"))
        .groupBy((col("k") % 10).as("k_mod"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("k_mod"))
    }),

    // VARIANT (Spark 4): parse semi-structured JSON once into the
    // binary variant encoding, then extract typed paths lazily —
    // the modern shredded-JSON path (one parse, many cheap typed
    // reads) vs from_json's schema-up-front contract above. The
    // oracle is the same JSON read in DuckDB; variant_get's typed
    // extraction must agree with schema'd parsing exactly.
    "fn_variant" -> ((s, dir) => {
      Tables(s, dir, "events")
        .select(col("event_id"), parse_json(col("props")).as("vr"))
        .select(col("event_id"),
          expr("variant_get(vr, '$.k', 'int')").as("k"),
          expr("variant_get(vr, '$.missing', 'string')").as("absent"))
        .groupBy((col("k") % 7).as("k_mod"))
        .agg(count(lit(1)).as("cnt"),
          count(col("absent")).as("n_absent"),
          max(col("k")).as("max_k"))
        .orderBy(col("k_mod"))
    }),

    // Pivot: order counts per year x priority, explicit value list for
    // deterministic columns.
    "fn_pivot" -> ((s, dir) => {
      Tables(s, dir, "orders")
        .groupBy(year(col("o_orderdate")).as("y"))
        .pivot("o_orderpriority",
          Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .withColumnsRenamed(Map(
          "1-URGENT" -> "urgent", "2-HIGH" -> "high", "3-MEDIUM" -> "medium",
          "4-NOT SPECIFIED" -> "unspec", "5-LOW" -> "low"))
        .orderBy(col("y"))
    }),

    // Unpivot (melt): wide numeric columns back to (key, value) rows.
    "fn_unpivot" -> ((s, dir) => {
      Tables(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          round(col("l_extendedprice"), 2).as("price"),
          round(col("l_discount"), 2).as("discount"),
          round(col("l_tax"), 2).as("tax"))
        .unpivot(Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("price"), col("discount"), col("tax")),
          "measure", "val")
        // val in the sort key: the synthetic lineitem has duplicate
        // (orderkey, linenumber) pairs, so without it the order is
        // engine-dependent at the ties
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("measure"), col("val"))
    }),

    // Null-safe equality join (<=>): rows with NULL keys match each
    // other instead of disappearing.
    "fn_nullsafe_join" -> ((s, dir) => {
      val o = Tables(s, dir, "orders")
        .select(col("o_orderkey"),
          when(col("o_orderpriority") === "4-NOT SPECIFIED", lit(null))
            .otherwise(col("o_orderpriority")).as("prio"))
      val ref = Tables(s, dir, "orders")
        .select(
          when(col("o_orderpriority") === "4-NOT SPECIFIED", lit(null))
            .otherwise(col("o_orderpriority")).as("prio"))
        .distinct()
        .withColumn("prio_label", coalesce(col("prio"), lit("missing")))
      o.join(ref, o("prio") <=> ref("prio"), "inner")
        .groupBy(col("prio_label"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("prio_label"))
    }),

    // Analytic window extras: ntile, percent_rank, cume_dist,
    // first/last value over explicit frames.
    // percent_rank / cume_dist in INTEGER BASIS POINTS, not rounded
    // floats (r10, caught by the sf10 spot-gate): k/n with n = 4·10⁴
    // lands on the .xxxx5 half-ulp boundary for hundreds of rows, and
    // Spark's round (shortest-decimal HALF_UP) disagrees with
    // DuckDB's (true-binary) exactly there. The order key
    // (s_acctbal, s_suppkey) is unique, so rank = row_number and
    // cume_dist = row_number/n — both re-expressed as floor divisions
    // of int64, identical on any engine at any tier.
    "fn_window_extras" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("s_nationkey"))
        .orderBy(col("s_acctbal").asc, col("s_suppkey").asc)
      val wFull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      Tables(s, dir, "supplier")
        .select(col("s_nationkey"), col("s_suppkey"),
          ntile(4).over(w).as("quartile"),
          row_number().over(w).cast("long").as("rn"),
          count(lit(1)).over(wFull).as("n"),
          first(col("s_suppkey")).over(wFull).as("poorest"),
          last(col("s_suppkey")).over(wFull).as("richest"))
        .select(col("s_nationkey"), col("s_suppkey"), col("quartile"),
          when(col("n") > 1, expr("(rn - 1) * 10000 div (n - 1)"))
            .otherwise(0L).cast("long").as("pr_bp"),
          expr("rn * 10000 div n").cast("long").as("cd_bp"),
          col("poorest"), col("richest"))
        .orderBy(col("s_nationkey"), col("s_suppkey"))
    }),

    // Value-RANGE window frame — the frame kind ROWS can't express:
    // "peers within +-100.0 of MY value", used for local-density and
    // neighborhood smoothing. Frame membership is decided by VALUE
    // comparison (IEEE-exact, identical across engines), so unlike a
    // ROWS frame there is no tie-order dependence to pin. Same
    // one-shuffle-on-partition-key plan shape as every other window.
    // RELATIVE-rank window family — percent_rank / cume_dist / ntile
    // over nation-partitioned suppliers: the normalized-position
    // functions (percentile features, equal-size fold assignment)
    // that complement the absolute ranks in w2/fn_window_distinct.
    // Both engines compute percent_rank as (rank-1)/(n-1) and
    // cume_dist as rows<=current / n — small-integer divisions, but
    // round(4) anyway per the float-stability rule. One partitioned
    // window, no global sort.
    "fn_window_pctrank" -> ((s, dir) => {
      Tables(s, dir, "supplier").createOrReplaceTempView("supplier_pr")
      // integer basis points, same boundary rationale as
      // fn_window_extras (unique order key -> rank = row_number)
      s.sql(
        """SELECT s_nationkey, s_suppkey,
          |  CASE WHEN count(*) OVER wp > 1
          |    THEN (CAST(row_number() OVER w AS BIGINT) - 1) * 10000
          |         div (count(*) OVER wp - 1)
          |    ELSE 0L END AS pct_rank_bp,
          |  CAST(row_number() OVER w AS BIGINT) * 10000
          |    div count(*) OVER wp AS cume_bp,
          |  ntile(4) OVER w AS quartile
          |FROM supplier_pr
          |WINDOW w AS (PARTITION BY s_nationkey
          |  ORDER BY s_acctbal, s_suppkey),
          |wp AS (PARTITION BY s_nationkey)
          |ORDER BY s_nationkey, s_suppkey""".stripMargin)
    }),

    "fn_window_range" -> ((s, dir) => {
      Tables(s, dir, "supplier").createOrReplaceTempView("supplier_wr")
      // the ±100 RANGE frame holds a fixed acctbal SLICE of the nation
      // partition, so frame size scales with the corpus — decimal
      // accumulation inside the window sum (q1_agg doctrine): engines
      // evaluate sliding frames with different association (Spark
      // re-aggregation vs DuckDB segment tree), exact only on decimal
      s.sql(
        """SELECT s_nationkey, s_suppkey, round(s_acctbal, 2) AS acctbal,
          |  count(*) OVER (PARTITION BY s_nationkey ORDER BY s_acctbal
          |    RANGE BETWEEN 100.0 PRECEDING AND 100.0 FOLLOWING) AS n_near,
          |  round(CAST(sum(CAST(s_acctbal AS DECIMAL(12,2)))
          |    OVER (PARTITION BY s_nationkey ORDER BY s_acctbal
          |    RANGE BETWEEN 100.0 PRECEDING AND 100.0 FOLLOWING)
          |    AS DOUBLE), 2) AS sum_near
          |FROM supplier_wr
          |ORDER BY s_nationkey, s_suppkey""".stripMargin)
    }),

    // Running DISTINCT count per partition — the cumulative-coverage
    // curve ("how many distinct parts seen so far") behind
    // dedup-progress and catalog-growth monitoring. Spark has no
    // count(DISTINCT) OVER; size(collect_set() OVER) is the
    // equivalent, computed incrementally for an UNBOUNDED
    // PRECEDING..CURRENT ROW frame. Determinism: the window order
    // ends in l_partkey, so frame-order ties share the element being
    // introduced and every row's running count is well-defined.
    // Scale note: state is the per-partition distinct set — this is a
    // small-dimension-partition operator by design (use HLL sketches
    // for high-cardinality running estimates).
    "fn_window_distinct" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      // RUNNING DISTINCT COUNT, linear: a row's key contributes iff
      // this is its FIRST occurrence in the partition's order, so
      // running-distinct = running SUM of a first-occurrence flag.
      // The size(collect_set().over(running)) formulation this
      // replaces materialized the growing set's array PER ROW —
      // O(n²/|partitions|) cells over only 3 l_returnflag partitions,
      // found hung at the sf1 gate (6M rows ⇒ ~2M-row partitions);
      // two linear partitioned windows compute the identical column.
      // (l_orderkey, l_linenumber) is the lineitem PK, so the window
      // order is total and "first occurrence" is well-defined.
      val order = Seq(col("l_orderkey"), col("l_linenumber"),
        col("l_partkey"))
      val firstSeen = Window
        .partitionBy(col("l_returnflag"), col("l_partkey"))
        .orderBy(order: _*)
      val flagged = Tables(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"),
          col("l_partkey"),
          // NULL keys never count: count(DISTINCT) ignores NULLs (and
          // so did the collect_set form) — without the isNotNull the
          // NULL partition's first row would contribute a phantom +1
          when(col("l_partkey").isNotNull &&
              row_number().over(firstSeen) === 1, 1L).otherwise(0L)
            .as("is_first"))
      // The running sum partitions by l_returnflag — THREE values, so
      // the DIRECT window is three whole-corpus tasks however large
      // the cluster. The r12 ride-the-output-sort operator
      // (plans/RunningSumPlan) fixes that: ONE range sort serves the
      // running sum AND the query's trailing ORDER BY (the direct
      // form sorts the corpus twice), parallelism = #shuffle
      // partitions regardless of |l_returnflag|. MEASURED (FwdProbe,
      // sf10, gated shape incl. output sort): ride 41.9 s vs direct
      // 116.3 s vs two-level 76.4 s on local[32]; 35.1 vs 126.6 vs
      // 62.2 s under real 3-JVM executors (local-cluster[3,8,8192]).
      // BUT the ride pays a fixed ~2 s (two extra jobs + a persist +
      // a broadcast) that the 3-task sort undercuts on small corpora
      // (sf0.1: 0.10 s direct vs 2.1 s ride — the r12 bench caught
      // it), so the DEFAULT picks by the scan's size STATISTIC (free,
      // no job): below RideThreshold the direct window wins, above it
      // the ride does — the same data-size-not-core-count rule as the
      // sf100 shuffle-partition catch. Both forms pass the same DuckDB
      // oracle at sf0.001-sf1 (bench/runningsum_gate_r12.txt); SCALE.md
      // "RunningSum act three" records the full measurement story.
      def directForm = {
        val running = Window.partitionBy(col("l_returnflag"))
          .orderBy(order: _*)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        flagged
          .select(col("l_returnflag"), col("l_orderkey"),
            col("l_linenumber"), col("l_partkey"),
            sum(col("is_first")).over(running).as("run_distinct"))
      }
      def rideForm =
        graft.plans.RunningSumRide.withRunningSumSorted(s, flagged,
          Seq(col("l_returnflag")),
          Seq(col("l_orderkey"), col("l_linenumber"), col("l_partkey")),
          col("is_first"), "run_distinct")
          .select(col("l_returnflag"), col("l_orderkey"),
            col("l_linenumber"), col("l_partkey"), col("run_distinct"))
      // The adaptive pick may only switch between forms whose NULL
      // semantics agree — direct is SQL window SUM (NULL until first
      // non-null), ride maps NULL to 0. is_first is non-nullable by
      // construction (when/otherwise both literal), so they coincide;
      // CHECK it so a future nullable value fails loudly at every tier
      // instead of returning tier-dependent results (the ride API
      // requires the same).
      require(!flagged.schema("is_first").nullable,
        "fn_window_distinct adaptive pick needs a non-nullable " +
          "value column: direct-window and ride-operator NULL " +
          "semantics differ")
      val scanBytes = Tables(s, dir, "lineitem")
        .queryExecution.optimizedPlan.stats.sizeInBytes
      val out = if (scanBytes < FunctionsPack.RideThreshold) directForm
        else rideForm
      out.orderBy(col("l_returnflag"), col("l_orderkey"),
        col("l_linenumber"), col("l_partkey"))
    }),

    // Deterministic string aggregation: collect_list has no intrinsic
    // order (partial-agg arrival order), so the SORT must be explicit
    // before the join — sort_array + array_join is the reproducible
    // form of GROUP_CONCAT/string_agg, and the only one an oracle (or
    // a retried stage) can pin.
    "fn_string_agg" -> ((s, dir) => {
      Tables(s, dir, "region")
        .join(Tables(s, dir, "nation"),
          col("r_regionkey") === col("n_regionkey"))
        .groupBy(col("r_name"))
        .agg(array_join(sort_array(collect_list(col("n_name"))), ",")
          .as("nations"), count(lit(1)).as("n"))
        .orderBy(col("r_name"))
    })
  )

  override def oracleSql: Map[String, String] = Map(
    // Scale-safe re-expression (sf100 tier, r11): the direct
    // count(DISTINCT) OVER form keeps per-frame distinct state that
    // DuckDB cannot spill — OOM-killed at 130 GB RSS on 200M-row
    // l_returnflag partitions. Linear twin of the Spark build: one row
    // per (flag, partkey) group is flagged first-in-total-order, and
    // the running SUM of flags IS the running distinct count (the
    // NULL guard mirrors count(DISTINCT)'s null-skipping). Proven
    // value-identical to the old oracle (symmetric EXCEPT ALL = 0) at
    // sf0.001/sf0.01/sf0.1 before landing; BIGINT cast keeps DuckDB's
    // HUGEINT window sum out of the decimal-free gate contract. NO
    // MATERIALIZED hint: the CTE has exactly one consumer, so the
    // hint's only effect is a full extra temp copy of the corpus —
    // the r10 hint class is for CTEs re-read by every unrolled round.
    "fn_window_distinct" ->
      """WITH flagged AS (
        |  SELECT l_returnflag, l_orderkey, l_linenumber, l_partkey,
        |    CASE WHEN l_partkey IS NOT NULL AND row_number() OVER (
        |      PARTITION BY l_returnflag, l_partkey
        |      ORDER BY l_orderkey, l_linenumber, l_partkey) = 1
        |    THEN 1 ELSE 0 END AS is_first
        |  FROM lineitem)
        |SELECT l_returnflag, l_orderkey, l_linenumber, l_partkey,
        |  CAST(sum(is_first) OVER (PARTITION BY l_returnflag
        |    ORDER BY l_orderkey, l_linenumber, l_partkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS run_distinct
        |FROM flagged
        |ORDER BY l_returnflag, l_orderkey, l_linenumber, l_partkey""".stripMargin,

    "fn_string_agg" ->
      """SELECT r_name,
        |  string_agg(n_name, ',' ORDER BY n_name) AS nations,
        |  count(*) AS n
        |FROM region JOIN nation ON r_regionkey = n_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin,

    "fn_dates" ->
      """SELECT o_orderkey,
        |  CAST(CAST(o_orderdate AS DATE) + INTERVAL 30 DAY AS DATE) AS plus30,
        |  last_day(CAST(o_orderdate AS DATE)) AS month_end,
        |  datediff('day', CAST(o_orderdate AS DATE), DATE '1998-12-31') AS days_to_end,
        |  year(o_orderdate) AS y, month(o_orderdate) AS m,
        |  dayofmonth(o_orderdate) AS d, quarter(o_orderdate) AS q,
        |  dayofweek(o_orderdate) % 7 AS dow
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "fn_arrays" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
        |SELECT doc_id, len(w) AS n,
        |  w[1] AS first_tok, w[-1] AS last_tok,
        |  array_to_string(w[1:3], '|') AS first3,
        |  array_to_string(list_sort(list_distinct(w)), '|') AS sorted_uniq,
        |  coalesce(list_position(w, 'data'), 0) AS data_pos,
        |  len(list_filter(w, x -> x <> 'the')) AS n_no_the
        |FROM t ORDER BY doc_id""".stripMargin,

    "fn_maps" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
        |cnt AS (SELECT doc_id, w, count(*) AS c FROM tok GROUP BY 1, 2)
        |SELECT doc_id, count(*) AS n_keys,
        |  coalesce(max(CASE WHEN w = 'data' THEN c END), 0) AS data_cnt,
        |  coalesce(max(CASE WHEN w = 'spark' THEN c END), 0) AS spark_cnt
        |FROM cnt GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "fn_from_json" ->
      """SELECT CAST(json_extract_string(props, '$.k') AS INT) % 10 AS k_mod,
        |  count(*) AS cnt
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "fn_variant" ->
      """SELECT CAST(json_extract(props, '$.k') AS INT) % 7 AS k_mod,
        |  count(*) AS cnt,
        |  CAST(0 AS BIGINT) AS n_absent,
        |  CAST(max(CAST(json_extract(props, '$.k') AS INT)) AS INT) AS max_k
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    // CAST AS BIGINT: DuckDB integer sum() yields HUGEINT (arrow
    // decimal128), Spark's pivot-count emits bigint.
    "fn_pivot" ->
      """SELECT year(o_orderdate) AS y,
        |  CAST(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS urgent,
        |  CAST(sum(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END) AS BIGINT) AS high,
        |  CAST(sum(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 ELSE 0 END) AS BIGINT) AS medium,
        |  CAST(sum(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 1 ELSE 0 END) AS BIGINT) AS unspec,
        |  CAST(sum(CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END) AS BIGINT) AS low
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    "fn_unpivot" ->
      """SELECT l_orderkey, l_linenumber, m.measure, m.val FROM (
        |  SELECT l_orderkey, l_linenumber,
        |    round(l_extendedprice, 2) AS price,
        |    round(l_discount, 2) AS discount,
        |    round(l_tax, 2) AS tax
        |  FROM lineitem) t,
        |  LATERAL (VALUES ('price', t.price), ('discount', t.discount),
        |           ('tax', t.tax)) AS m(measure, val)
        |ORDER BY l_orderkey, l_linenumber, m.measure, m.val""".stripMargin,

    "fn_nullsafe_join" ->
      """WITH o AS (
        |  SELECT o_orderkey, CASE WHEN o_orderpriority = '4-NOT SPECIFIED'
        |    THEN NULL ELSE o_orderpriority END AS prio FROM orders),
        |ref AS (
        |  SELECT prio, coalesce(prio, 'missing') AS prio_label
        |  FROM (SELECT DISTINCT prio FROM o))
        |SELECT ref.prio_label, count(*) AS cnt
        |FROM o JOIN ref ON o.prio IS NOT DISTINCT FROM ref.prio
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "fn_window_extras" ->
      """SELECT s_nationkey, s_suppkey,
        |  ntile(4) OVER w AS quartile,
        |  CAST(CASE WHEN count(*) OVER wp > 1
        |    THEN (row_number() OVER w - 1) * 10000 // (count(*) OVER wp - 1)
        |    ELSE 0 END AS BIGINT) AS pr_bp,
        |  CAST(row_number() OVER w * 10000 // count(*) OVER wp AS BIGINT)
        |    AS cd_bp,
        |  first_value(s_suppkey) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
        |    AND UNBOUNDED FOLLOWING) AS poorest,
        |  last_value(s_suppkey) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
        |    AND UNBOUNDED FOLLOWING) AS richest
        |FROM supplier
        |WINDOW w AS (PARTITION BY s_nationkey ORDER BY s_acctbal ASC, s_suppkey ASC),
        |wp AS (PARTITION BY s_nationkey)
        |ORDER BY s_nationkey, s_suppkey""".stripMargin,

    "fn_window_pctrank" ->
      """SELECT s_nationkey, s_suppkey,
        |  CAST(CASE WHEN count(*) OVER wp > 1
        |    THEN (row_number() OVER w - 1) * 10000 // (count(*) OVER wp - 1)
        |    ELSE 0 END AS BIGINT) AS pct_rank_bp,
        |  CAST(row_number() OVER w * 10000 // count(*) OVER wp AS BIGINT)
        |    AS cume_bp,
        |  CAST(ntile(4) OVER w AS INT) AS quartile
        |FROM supplier
        |WINDOW w AS (PARTITION BY s_nationkey
        |  ORDER BY s_acctbal, s_suppkey),
        |wp AS (PARTITION BY s_nationkey)
        |ORDER BY s_nationkey, s_suppkey""".stripMargin,

    "fn_window_range" ->
      """SELECT s_nationkey, s_suppkey, round(s_acctbal, 2) AS acctbal,
        |  count(*) OVER w AS n_near,
        |  round(CAST(sum(CAST(s_acctbal AS DECIMAL(12,2))) OVER w
        |    AS DOUBLE), 2) AS sum_near
        |FROM supplier
        |WINDOW w AS (PARTITION BY s_nationkey ORDER BY s_acctbal
        |  RANGE BETWEEN 100.0 PRECEDING AND 100.0 FOLLOWING)
        |ORDER BY s_nationkey, s_suppkey""".stripMargin
  )
}
