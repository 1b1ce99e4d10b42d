package graft.queries

import graft.QueryPack
import graft.io.Tables
import graft.streaming.EventStreams
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Batch executions of the unified batch/stream transforms
  * (EventStreams) — the finite, DuckDB-checkable side of the streaming
  * slice. StreamingSpec runs the SAME transforms through readStream +
  * watermark + memory sink and asserts stream == batch.
  */
object StreamingPack extends QueryPack {

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "st_tumbling_hourly" -> ((s, dir) =>
      EventStreams.hourlyTypeCounts(Tables.events(s, dir))
        .orderBy(col("window_start"), col("event_type"))),

    "st_sliding_daily" -> ((s, dir) =>
      EventStreams.slidingDailyCounts(Tables.events(s, dir))
        .orderBy(col("window_start"))),

    "st_user_sessions" -> ((s, dir) =>
      EventStreams.userSessions(Tables.events(s, dir))
        .orderBy(col("user_id"), col("session_start"))),

    // Spark's NATIVE session_window operator (the built-in that also
    // runs under readStream with identical semantics), checked
    // against the gaps-and-islands formulation the oracle spells:
    // both define a session as events of one user with < 30 min
    // between neighbors, so session start = island min(ts) and the
    // row counts match exactly. Gating the native operator proves the
    // two formulations interchangeable — the islands form is what
    // engines without session windows run, the native form is what a
    // migration to streaming keeps. One user-keyed exchange; session
    // assembly is partition-local.
    // decimal-doctrine EXEMPT (also st_rolling_window, st_user_sessions
    // family): groups/frames are per-user — bounded at any corpus scale
    // under the replication growth model (new replicas mint new users;
    // one user's session/hour never deepens with corpus size)
    "st_session_window_native" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy(col("user_id"),
          session_window(col("ts"), "30 minutes").as("w"))
        .agg(count(lit(1)).as("n_events"),
          round(sum(col("value")), 2).as("sum_value"))
        .select(col("user_id"), col("w.start").as("session_start"),
          col("n_events"), col("sum_value"))
        .orderBy(col("user_id"), col("session_start"))),

    // REAL StreamExecution rows (graft.streaming.StreamExec): the
    // Spark side runs through an actual micro-batch readStream loop —
    // file-source batches, state carried across them, watermark
    // timeouts flushed by sentinel batches — and the FINAL streamed
    // state is checked against the SAME oracle SQL as the batch twins
    // above. Closes the "streaming correctness is spec-only" gap.
    "st_tumbling_stream_exec" -> ((s, dir) =>
      graft.streaming.StreamExec.tumblingViaStream(s, dir)),

    // Checkpoint-RESTART leg (r14): the same aggregate run as TWO
    // StreamExecutions — the first stopped after its first committed
    // batch, the second resumed from the same checkpoint dir — so the
    // oracle equality proves restart continues state instead of
    // recounting or resetting.
    "st_restart_stream_exec" -> ((s, dir) =>
      graft.streaming.StreamExec.tumblingViaStreamRestart(s, dir)),

    "st_sessions_stream_exec" -> ((s, dir) =>
      graft.streaming.StreamExec.sessionsViaStream(s, dir)),

    "st_cdc_stream_exec" -> ((s, dir) =>
      graft.streaming.StreamExec.cdcViaStream(s, dir)),

    // Exactly-once dedup of an at-least-once stream: the staged input
    // carries injected re-sends and replays (StreamExec.dedupStagedDir)
    // and dropDuplicatesWithinWatermark must reconstruct the clean
    // corpus exactly — gated per type on count AND id-sum vs the
    // ORIGINAL table, so the faults are provably removed.
    "st_dedup_stream_exec" -> ((s, dir) =>
      graft.streaming.StreamExec.dedupViaStream(s, dir)),

    // CLICKSTREAM PATH MINING — the top session-opening event-type
    // sequences (first 3 events per session, '>'-joined): the
    // "common navigation paths" census product analytics runs after
    // sessionization. Sessions via the gaps-and-islands formulation
    // (full-precision (ts, event_id) ordering on BOTH sides so ties
    // cannot flap the path string); per-session assembly is a
    // user-partitioned window + one (user, sid) hash agg — the
    // session frame never exceeds a user's own events; path census
    // is a second tiny agg + TakeOrdered.
    "e_paths" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val wOrd = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      Tables.events(s, dir)
        .withColumn("prev", lag(col("ts"), 1).over(wOrd))
        .withColumn("new_s", when(col("prev").isNull ||
          unix_micros(col("ts")) - unix_micros(col("prev")) >
            30L * 60 * 1000000, 1L).otherwise(0L))
        .withColumn("sid", sum(col("new_s")).over(
          wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("user_id"), col("sid"))
        .agg(sort_array(collect_list(struct(
          col("ts"), col("event_id"), col("event_type")))).as("evs"))
        .select(concat_ws(">",
          expr("transform(slice(evs, 1, 3), e -> e.event_type)")).as("path"))
        .groupBy(col("path")).agg(count(lit(1)).as("n_sessions"))
        .orderBy(desc("n_sessions"), col("path"))
        .limit(20)
    }),

    // LOCF imputation (last observation carried forward) — the
    // time-series gap-repair twin of st_gap_fill's zero-fill:
    // readings are "missing" on sensor-dropout rows (event_type =
    // 'error', a deterministic rule both engines share) and each gap
    // inherits the user's latest earlier reading. One user-partitioned
    // running window (never global); leading gaps stay null — LOCF
    // must not invent data before the first observation.
    "st_locf" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, dir)
        .withColumn("reading",
          when(col("event_type") =!= "error", col("value")))
        .select(col("event_id"), col("user_id"),
          // the dropout rule itself, NOT reading.isNull — the oracle
          // spells event_type = 'error', and a non-error row with a
          // NULL value would flip isNull on one side only
          (col("event_type") === "error").as("was_missing"),
          round(last(col("reading"), ignoreNulls = true).over(w), 2)
            .as("filled"))
        .orderBy(col("event_id"))
    }),

    // Watermark late-data contract through a real StreamExecution:
    // append-mode hourly aggregate over staging that injects BOTH an
    // hours-stale replay (poisoned ids — must be dropped by the
    // watermark filter) and a within-delay out-of-order slice (must
    // be counted). Equality with the clean-corpus census gates both
    // directions at once (StreamExec.lateDropViaStream).
    "st_late_drop_stream_exec" -> ((s, dir) =>
      graft.streaming.StreamExec.lateDropViaStream(s, dir)),

    // Stream-STREAM join through a real StreamExecution: matches
    // across micro-batch boundaries come out of watermarked join
    // state; final match set must equal the batch self-join oracle.
    "st_join_stream_exec" -> ((s, dir) =>
      graft.streaming.StreamExec.joinViaStream(s, dir)),

    // AS-OF join via the custom LogicalPlan + SparkStrategy +
    // SparkPlan operator (graft.plans.AsOfJoin): each event joined to
    // the user's latest strictly-earlier event. Oracle: DuckDB's
    // native ASOF JOIN.
    "st_asof_prev_event" -> ((s, dir) => {
      val l = Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("ts"))
      val r = Tables.events(s, dir)
        .select(col("event_id").as("prior_id"), col("user_id").as("r_user"),
          col("ts").as("r_ts"))
      graft.plans.AsOf.join(s, l, r,
        l("user_id"), r("r_user"), l("ts"), r("r_ts"))
        .select(col("event_id"), col("user_id"), col("prior_id"),
          (unix_micros(col("ts")) - unix_micros(col("r_ts"))).as("gap_us"))
        .orderBy(col("event_id"))
    }),

    // Same operator with a bounded match gap (pandas merge_asof
    // `tolerance`): the previous event counts only if it happened
    // within the last 30 minutes — the session-aware variant of
    // "previous action" (an hours-stale prior is attribution noise).
    // Tolerance is an O(1) emission filter inside the same one-pass
    // merge, not a post-join filter over an unbounded join. DuckDB
    // ASOF has no tolerance, so the oracle is the explicit
    // join + QUALIFY row_number formulation.
    "st_asof_tolerance" -> ((s, dir) => {
      val l = Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("ts"))
      val r = Tables.events(s, dir)
        .select(col("event_id").as("prior_id"), col("user_id").as("r_user"),
          col("ts").as("r_ts"))
      graft.plans.AsOf.join(s, l, r,
        l("user_id"), r("r_user"), l("ts"), r("r_ts"),
        tolerance = 30L * 60 * 1000000) // 30 min in micros
        .select(col("event_id"), col("user_id"), col("prior_id"),
          (unix_micros(col("ts")) - unix_micros(col("r_ts"))).as("gap_us"))
        .orderBy(col("event_id"))
    }),

    // Same custom operator, forward direction: each event joined to
    // the user's NEXT strictly-later event — the "time to next action"
    // shape (churn/latency analyses). Exercises the direction flag of
    // AsOfJoinExec's merge; oracle is DuckDB ASOF with the inequality
    // flipped.
    "st_asof_next_event" -> ((s, dir) => {
      val l = Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("ts"))
      val r = Tables.events(s, dir)
        .select(col("event_id").as("next_id"), col("user_id").as("r_user"),
          col("ts").as("r_ts"))
      graft.plans.AsOf.join(s, l, r,
        l("user_id"), r("r_user"), l("ts"), r("r_ts"), forward = true)
        .select(col("event_id"), col("user_id"), col("next_id"),
          (unix_micros(col("r_ts")) - unix_micros(col("ts"))).as("wait_us"))
        .orderBy(col("event_id"))
    }),

    // pandas merge_asof direction='nearest' parity — composed from the
    // custom operator's two directions (each a one-pass sort-merge)
    // full-outer-merged on the event key: backward candidate wins ties,
    // matching pandas. A user's first event has only a forward match,
    // the last only a backward one — hence the full outer, not inner.
    "st_asof_nearest" -> ((s, dir) => {
      val l = Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("ts"))
      def side(fwd: Boolean, idName: String, gapName: String) = {
        val r = Tables.events(s, dir)
          .select(col("event_id").as(idName),
            col("user_id").as("r_user"), col("ts").as("r_ts"))
        graft.plans.AsOf.join(s, l, r,
          l("user_id"), r("r_user"), l("ts"), r("r_ts"), forward = fwd)
          .select(col("event_id"), col("user_id"), col(idName),
            abs(unix_micros(col("r_ts")) - unix_micros(col("ts")))
              .as(gapName))
      }
      val prev = side(fwd = false, "prev_id", "gap_prev")
      val nxt = side(fwd = true, "next_id", "gap_next")
      val takePrev = col("prev_id").isNotNull &&
        (col("next_id").isNull || col("gap_prev") <= col("gap_next"))
      prev.join(nxt, Seq("event_id", "user_id"), "full_outer")
        .select(col("event_id"), col("user_id"),
          when(takePrev, col("prev_id")).otherwise(col("next_id"))
            .as("nearest_id"),
          when(takePrev, col("gap_prev")).otherwise(col("gap_next"))
            .as("gap_us"))
        .orderBy(col("event_id"))
    }),

    // Session SPANS — the session-window shape with both bounds:
    // session_window's end is last-event + gap (Spark's definition),
    // which the oracle reproduces as max(ts) + INTERVAL. Together with
    // st_user_sessions (starts/counts) this pins the full session
    // geometry the flatMapGroupsWithState sessionizer emits in
    // streaming (StreamingSpec's close-once test).
    "st_session_spans" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy(session_window(col("ts"), "30 minutes").as("w"),
          col("user_id"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"), col("w.start").as("session_start"),
          col("w.end").as("session_end"), col("n_events"))
        .orderBy(col("user_id"), col("session_start"))),

    // Incremental aggregation — the materialized-view-maintenance
    // pattern: history is kept as ALGEBRAIC partials (sum, count per
    // key), a new batch aggregates alone, and the refreshed view is
    // partials MERGED BY KEY — never a rescan of history. avg is
    // reconstructed from merged sums/counts, which is exactly why the
    // stored shape must be (sum, count), not avg. The oracle computes
    // the same view from scratch over the full table — merge-equals-
    // recompute is the algebraic-aggregate contract that makes
    // incremental refresh sound at 100 TB.
    "st_incremental_agg" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val cutoff = expr("TIMESTAMP '1997-01-20 00:00:00'")
      // event_type has ~6 values over the whole corpus — corpus-scaling
      // groups, so the stored partials keep the 2-dp sum in DECIMAL
      // (q1_agg doctrine; ALSO what makes merge-equals-recompute exact
      // rather than association-dependent), double in the projection
      def partials(df: DataFrame) = df.groupBy(col("event_type"))
        .agg(count(lit(1)).as("cnt"),
          sum(col("value").cast("decimal(18,2)")).as("sv"))
      val history = partials(ev.filter(col("ts") < cutoff))
      val fresh = partials(ev.filter(col("ts") >= cutoff))
      history.unionByName(fresh)
        .groupBy(col("event_type"))
        .agg(sum(col("cnt")).as("n_events"),
          round(sum(col("sv")).cast("double"), 2).as("sum_value"),
          round((sum(col("sv")).cast("double") / sum(col("cnt"))), 4)
            .as("avg_value"))
        .orderBy(col("event_type"))
    }),

    // Calendar densification (gap fill): hourly error counts with
    // EVERY hour of the observed span present, empty hours as zero —
    // what any time-series consumer (anomaly detection, dashboarding)
    // needs before windowed math. The calendar is generated from a
    // 1-row bounds aggregate via sequence() + explode (a Generator,
    // S4's explode machinery reused for synthesis), then left-joined
    // to the hourly agg. Scale shape: the only corpus-sized work is
    // the hourly pre-aggregation (shuffle on the hour key); the
    // calendar side is O(span/step) rows and broadcastable, so gap
    // filling adds no second pass over the data.
    "st_gap_fill" -> ((s, dir) => {
      val err = Tables.events(s, dir).filter(col("event_type") === "error")
      val hourly = err.groupBy(date_trunc("hour", col("ts")).as("hour"))
        .agg(count(lit(1)).as("cnt"))
      val cal = err
        .agg(date_trunc("hour", min(col("ts"))).as("lo"),
          date_trunc("hour", max(col("ts"))).as("hi"))
        .select(explode(sequence(col("lo"), col("hi"),
          expr("INTERVAL 1 HOUR"))).as("hour"))
      cal.join(hourly, Seq("hour"), "left")
        .select(col("hour"), coalesce(col("cnt"), lit(0L)).as("cnt"))
        .orderBy(col("hour"))
    }),

    // Per-event trailing 1-hour rolling aggregate — the event-time
    // RANGE frame ("all MY user's events in the hour before me"), the
    // per-row twin of the sliding windowed agg and the batch shape of
    // a streaming feature like "requests in the last hour". The frame
    // is keyed on unix_micros(ts) (bigint, engine-portable bounds);
    // RANGE semantics include ts-peers symmetrically, so duplicate
    // timestamps cannot make the result order-dependent. One shuffle
    // on user_id; per-partition state is the frame's sliding buffer —
    // bounded by an hour of one user's events, the same bound the
    // streaming formulation's watermark state carries.
    "st_rolling_window" -> ((s, dir) => {
      Tables.events(s, dir).createOrReplaceTempView("events_rw")
      s.sql(
        """SELECT user_id, event_id,
          |  count(*) OVER w AS n_1h,
          |  round(sum(value) OVER w, 2) AS sum_1h
          |FROM events_rw
          |WINDOW w AS (PARTITION BY user_id ORDER BY unix_micros(ts)
          |  RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
          |ORDER BY user_id, event_id""".stripMargin)
    }),

    // Ordered conversion funnel (view -> click -> purchase): how many
    // users reach each stage, where a stage only counts if it happens
    // strictly AFTER the user's first event of the previous stage —
    // the event-analytics shape every product pipeline runs. Scale
    // shape: each stage is one keyed shuffle on user_id and the stage
    // frontier (one row per qualifying user) shrinks monotonically, so
    // stages 2..k join a corpus-sized filter against an already-tiny
    // aggregated side (AQE broadcasts it); no window over a global
    // ordering, no per-user event-list materialization.
    // First-order Markov transition census over the event stream: per
    // user, each consecutive (prev -> cur) event-type pair counted,
    // with row-normalized transition probability in integer basis
    // points — the user-behavior model every "what happens after X"
    // analysis starts from. One user-keyed exchange for the lag
    // window; the census is #types² rows. Ordering key is the full-
    // precision (ts, event_id) pair — ms truncation would misorder
    // sub-second neighbors (the r5 sessionizer lesson).
    "e_markov" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val pairs = Tables.events(s, dir)
        .withColumn("prev", lag(col("event_type"), 1).over(w))
        .filter(col("prev").isNotNull)
        .groupBy(col("prev"), col("event_type").as("cur"))
        .agg(count(lit(1)).as("n"))
      val tot = pairs.groupBy(col("prev"))
        .agg(sum(col("n")).as("tot"))
      pairs.join(tot, "prev")
        .select(col("prev"), col("cur"), col("n"),
          expr("n * 10000 div tot").as("prob_bp"))
        .orderBy(col("prev"), col("cur"))
    }),

    "e_funnel" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val v = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
      val c = ev.filter(col("event_type") === "click")
        .join(v, "user_id").filter(col("ts") > col("t1"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("t2"))
      val p = ev.filter(col("event_type") === "purchase")
        .join(c, "user_id").filter(col("ts") > col("t2"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("t3"))
      v.agg(count(lit(1)).as("n_users"))
        .select(lit("1_view").as("stage"), col("n_users"))
        .unionByName(c.agg(count(lit(1)).as("n_users"))
          .select(lit("2_click_after_view").as("stage"), col("n_users")))
        .unionByName(p.agg(count(lit(1)).as("n_users"))
          .select(lit("3_purchase_after_click").as("stage"), col("n_users")))
        .orderBy(col("stage"))
    }),

    // Last-touch attribution: every purchase credited to the user's
    // latest strictly-earlier click — the marketing-attribution shape,
    // and a composition proof for the custom as-of operator (the same
    // AsOfJoinExec that powers st_asof_* running over event-type-
    // filtered sides rather than the whole table). One sort-merge pass
    // with O(1) state per user partition; the type filters push into
    // both scans before the operator sees a row.
    "e_attribution" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val l = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      val r = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"),
          col("user_id").as("r_user"), col("ts").as("r_ts"))
      graft.plans.AsOf.join(s, l, r,
        l("user_id"), r("r_user"), l("ts"), r("r_ts"))
        .select(col("event_id").as("purchase_id"), col("user_id"),
          col("click_id"),
          (unix_micros(col("ts")) - unix_micros(col("r_ts")))
            .as("latency_us"),
          col("value").as("attributed_value"))
        .orderBy(col("purchase_id"))
    }),

    // Cohort retention matrix: users grouped by the day of their first
    // event (cohort), counted on each later day they were active —
    // (cohort_day, day_offset) -> distinct active users. Scale shape:
    // one keyed shuffle for the per-user first-event min, one
    // (user, day) distinct (map-side partials collapse the per-day
    // event fan-in), one user_id-keyed join against the tiny firsts
    // side, and a final hash agg on the calendar-sized
    // (cohort, offset) key. Nothing ever groups on an unbounded key
    // and no per-user history is collected.
    "e_retention" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val firsts = ev.groupBy(col("user_id"))
        .agg(min(col("ts")).cast("date").as("cohort_day"))
      val days = ev.select(col("user_id"), col("ts").cast("date").as("day"))
        .distinct()
      firsts.join(days, "user_id")
        .groupBy(col("cohort_day"),
          datediff(col("day"), col("cohort_day")).cast("long").as("day_offset"))
        .agg(count(lit(1)).as("n_users"))
        .orderBy(col("cohort_day"), col("day_offset"))
    }),

    // Exponentially-weighted moving average of each user's event
    // values in time order (alpha = 0.25) — the time-series smoothing
    // primitive (monitoring baselines, engagement trend scores). A
    // left fold is inherently sequential, so it runs as a higher-order
    // aggregate() over the user's time-sorted value array: one
    // user-keyed shuffle collects (ts, event_id, value) structs,
    // array_sort orders them (event_id breaks ts ties), and the fold
    // is a codegen'd expression — no UDF, no per-row state machine.
    // Per-user history is bounded (a user's event list), the same
    // bound every sessionization op here already carries. EXACT cross-
    // engine determinism: alpha = 0.25 and 0.75 are dyadic (exact
    // doubles), and both engines fold left-to-right over the same
    // order, so the IEEE op sequence — hence the result bits — is
    // identical; no rounding needed in the oracle compare.
    "e_ewma" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      ev.groupBy(col("user_id"))
        .agg(count(lit(1)).cast("long").as("n"),
          expr("array_sort(collect_list(struct(ts, event_id, value)))")
            .as("seq"))
        .select(col("user_id"), col("n"),
          expr("""aggregate(slice(transform(seq, x -> x.value), 2, size(seq) - 1),
                |          transform(seq, x -> x.value)[0],
                |          (acc, x) -> acc * 0.75d + x * 0.25d)""".stripMargin)
            .as("ewma"))
        .orderBy(col("user_id"))
    }),

    // Interval-point range join via the binned equi-join rewrite
    // (scale/RangeJoin): every purchase landing inside the 10-minute
    // window after an error. No equi-key exists, so the naive plan is
    // a nested loop over |errors| x |purchases| — the bucket id
    // manufactures one. RangeJoinSpec asserts the plan contains no
    // CartesianProduct / BroadcastNestedLoopJoin.
    "st_range_join" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val intervals = ev.filter(col("event_type") === "error")
        .select(col("event_id").as("interval_id"), col("ts").as("start_ts"),
          (col("ts") + expr("INTERVAL 10 MINUTES")).as("end_ts"))
      val points = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("point_id"), col("ts").as("p_ts"))
      graft.scale.RangeJoin
        .pointInInterval(intervals, points, "start_ts", "end_ts", "p_ts",
          bucketSeconds = 600)
        .select(col("interval_id"), col("point_id"),
          (unix_micros(col("p_ts")) - unix_micros(col("start_ts")))
            .as("delta_us"))
        .orderBy(col("interval_id"), col("point_id"))
    }),

    // Interval-INTERVAL overlap join (st_range_join's two-sided
    // sibling, scale/RangeJoin.intervalOverlap): which daily click
    // activity spans overlapped daily purchase spans in wall-clock.
    // The binned rewrite emits each true pair exactly once — only the
    // bucket containing max(a_start, b_start) keeps it — so no
    // distinct follows the join; the oracle is the plain quadratic
    // overlap predicate, safe in DuckDB at O(#days²). Emitted overlap
    // duration in micros is engine-portable bigint arithmetic.
    "st_interval_overlap" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      def spans(t: String, p: String) = ev.filter(col("event_type") === t)
        .groupBy(to_date(col("ts")).as(s"${p}_day"))
        .agg(min(col("ts")).as(s"${p}_start"),
          (max(col("ts")) + expr("INTERVAL 1 SECOND")).as(s"${p}_end"))
      graft.scale.RangeJoin.intervalOverlap(
          spans("click", "a"), spans("purchase", "b"),
          "a_start", "a_end", "b_start", "b_end", bucketSeconds = 6 * 3600)
        .select(col("a_day"), col("b_day"),
          (unix_micros(least(col("a_end"), col("b_end"))) -
            unix_micros(greatest(col("a_start"), col("b_start"))))
            .as("overlap_us"))
        .orderBy(col("a_day"), col("b_day"))
    })
  )

  override def oracleSql: Map[String, String] = Map(
    "st_tumbling_hourly" ->
      """SELECT date_trunc('hour', ts) AS window_start, event_type,
        |  count(*) AS cnt,
        |  round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2)
        |    AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // identical oracle as the batch twin — the point: the streamed
    // final state must equal the batch answer exactly
    "st_tumbling_stream_exec" ->
      """SELECT date_trunc('hour', ts) AS window_start, event_type,
        |  count(*) AS cnt,
        |  round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2)
        |    AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // restart twin: SAME oracle — stop-and-resume must be invisible
    // in the final state
    "st_restart_stream_exec" ->
      """SELECT date_trunc('hour', ts) AS window_start, event_type,
        |  count(*) AS cnt,
        |  round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2)
        |    AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // the j13_cdc_apply oracle verbatim: the streamed upsert sink's
    // final per-key rows must equal the batch CDC compaction
    "st_cdc_stream_exec" ->
      """WITH log AS (
        |  SELECT user_id,
        |    CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
        |    value, ts, event_id
        |  FROM events),
        |ranked AS (
        |  SELECT user_id, op, value,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts DESC, event_id DESC) AS rn,
        |    CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS n_ops
        |  FROM log)
        |SELECT user_id, n_ops, round(value, 2) AS last_value
        |FROM ranked WHERE rn = 1 AND op <> 'D'
        |ORDER BY user_id""".stripMargin,

    // the ORIGINAL (fault-free) census — the streamed dedup of the
    // fault-injected staging must land exactly back on it; id_sum
    // rules out a re-send surviving in place of its original
    "st_dedup_stream_exec" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(sum(event_id) AS BIGINT) AS id_sum
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    // same islands, same (ts, event_id) total order, same strict
    // 30-minute gap
    "e_paths" ->
      """WITH g AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    CASE WHEN ts - lag(ts) OVER w > INTERVAL 30 MINUTE
        |         OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (
        |  SELECT user_id, event_type, ts, event_id,
        |    sum(new_session) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM g),
        |p AS (
        |  SELECT array_to_string(
        |    list_slice(list(event_type ORDER BY ts, event_id), 1, 3), '>')
        |    AS path
        |  FROM s GROUP BY user_id, sid)
        |SELECT path, CAST(count(*) AS BIGINT) AS n_sessions
        |FROM p GROUP BY 1 ORDER BY n_sessions DESC, path LIMIT 20"""
        .stripMargin,

    // same LOCF semantics: IGNORE NULLS running last_value, identical
    // full-precision ordering, leading gaps null
    "st_locf" ->
      """SELECT event_id, user_id,
        |  (event_type = 'error') AS was_missing,
        |  round(last_value(CASE WHEN event_type <> 'error' THEN value END
        |    IGNORE NULLS) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
        |    AS filled
        |FROM events ORDER BY event_id""".stripMargin,

    // the clean-corpus hourly census: the staged replays (negated
    // ids) must be absent, the held-back in-delay rows present — any
    // watermark-contract violation corrupts cnt or id_sum
    "st_late_drop_stream_exec" ->
      """SELECT date_trunc('hour', ts) AS window_start, event_type,
        |  CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(sum(event_id) AS BIGINT) AS id_sum
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // the batch twin of correlatedPairs: same-user event pairs with r
    // inside [l.ts, l.ts + 10 min], inclusive BETWEEN on both ends
    "st_join_stream_exec" ->
      """SELECT l.user_id, l.event_id AS eid_a, r.event_id AS eid_b
        |FROM events l JOIN events r
        |  ON l.user_id = r.user_id
        | AND r.ts BETWEEN l.ts AND l.ts + INTERVAL 10 MINUTE
        | AND l.event_id < r.event_id
        |ORDER BY eid_a, eid_b""".stripMargin,

    "st_sessions_stream_exec" ->
      """WITH g AS (
        |  SELECT user_id, ts,
        |    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
        |              > INTERVAL 30 MINUTE
        |         OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM events),
        |s AS (
        |  SELECT user_id, ts,
        |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM g)
        |SELECT user_id, min(ts) AS session_start, count(*) AS n_events
        |FROM s GROUP BY user_id, sid ORDER BY user_id, session_start""".stripMargin,

    // each event belongs to the 2-day windows starting at its day and
    // the day before (epoch-aligned slide = plain date_trunc)
    "st_sliding_daily" ->
      """WITH w AS (
        |  SELECT date_trunc('day', ts) AS window_start FROM events
        |  UNION ALL
        |  SELECT date_trunc('day', ts) - INTERVAL 1 DAY FROM events)
        |SELECT window_start, count(*) AS cnt
        |FROM w GROUP BY 1 ORDER BY 1""".stripMargin,

    // gaps-and-islands sessionization: new session when the gap from
    // the previous event of the same user exceeds 30 minutes
    "st_user_sessions" ->
      """WITH g AS (
        |  SELECT user_id, ts,
        |    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
        |              > INTERVAL 30 MINUTE
        |         OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM events),
        |s AS (
        |  SELECT user_id, ts,
        |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM g)
        |SELECT user_id, min(ts) AS session_start, count(*) AS n_events
        |FROM s GROUP BY user_id, sid ORDER BY user_id, session_start""".stripMargin,

    // same islands shape, ONE deliberate difference: session_window's
    // [start, last + gap) window is end-EXCLUSIVE, so a successor at
    // exactly last + 30 min does NOT merge — the islands split is
    // `>=`, where st_user_sessions' definition is `>`
    "st_session_window_native" ->
      """WITH g AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
        |              >= INTERVAL 30 MINUTE
        |         OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM events),
        |s AS (
        |  SELECT user_id, ts, value,
        |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM g)
        |SELECT user_id, min(ts) AS session_start,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  round(sum(value), 2) AS sum_value
        |FROM s GROUP BY user_id, sid ORDER BY user_id, session_start""".stripMargin,

    "st_asof_prev_event" ->
      """SELECT l.event_id, l.user_id, r.event_id AS prior_id,
        |  epoch_us(l.ts) - epoch_us(r.ts) AS gap_us
        |FROM events l ASOF JOIN events r
        |  ON l.user_id = r.user_id AND r.ts < l.ts
        |ORDER BY l.event_id""".stripMargin,

    "st_asof_tolerance" ->
      """SELECT l.event_id, l.user_id, r.event_id AS prior_id,
        |  epoch_us(l.ts) - epoch_us(r.ts) AS gap_us
        |FROM events l JOIN events r
        |  ON l.user_id = r.user_id AND r.ts < l.ts
        |  AND l.ts - r.ts <= INTERVAL 30 MINUTE
        |QUALIFY row_number()
        |  OVER (PARTITION BY l.event_id ORDER BY r.ts DESC) = 1
        |ORDER BY l.event_id""".stripMargin,

    "st_session_spans" ->
      """WITH g AS (
        |  SELECT user_id, ts,
        |    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
        |              > INTERVAL 30 MINUTE
        |         OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM events),
        |s AS (
        |  SELECT user_id, ts,
        |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM g)
        |SELECT user_id, min(ts) AS session_start,
        |  max(ts) + INTERVAL 30 MINUTE AS session_end,
        |  count(*) AS n_events
        |FROM s GROUP BY user_id, sid ORDER BY user_id, session_start""".stripMargin,

    // full recompute — must equal the Spark side's partial merge
    "st_incremental_agg" ->
      """SELECT event_type, count(*) AS n_events,
        |  round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2)
        |    AS sum_value,
        |  round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
        |    / count(*), 4) AS avg_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "st_gap_fill" ->
      """WITH e AS (SELECT * FROM events WHERE event_type = 'error'),
        |h AS (
        |  SELECT date_trunc('hour', ts) AS hour, count(*) AS cnt
        |  FROM e GROUP BY 1),
        |b AS (
        |  SELECT date_trunc('hour', min(ts)) AS lo,
        |         date_trunc('hour', max(ts)) AS hi
        |  FROM e),
        |cal AS (
        |  SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour
        |  FROM b)
        |SELECT cal.hour, CAST(coalesce(h.cnt, 0) AS BIGINT) AS cnt
        |FROM cal LEFT JOIN h USING (hour)
        |ORDER BY hour""".stripMargin,

    "st_asof_next_event" ->
      """SELECT l.event_id, l.user_id, r.event_id AS next_id,
        |  epoch_us(r.ts) - epoch_us(l.ts) AS wait_us
        |FROM events l ASOF JOIN events r
        |  ON l.user_id = r.user_id AND r.ts > l.ts
        |ORDER BY l.event_id""".stripMargin,

    "st_asof_nearest" ->
      """WITH p AS (
        |  SELECT l.event_id, l.user_id, r.event_id AS prev_id,
        |    epoch_us(l.ts) - epoch_us(r.ts) AS gap_prev
        |  FROM events l ASOF JOIN events r
        |    ON l.user_id = r.user_id AND r.ts < l.ts),
        |n AS (
        |  SELECT l.event_id, l.user_id, r.event_id AS next_id,
        |    epoch_us(r.ts) - epoch_us(l.ts) AS gap_next
        |  FROM events l ASOF JOIN events r
        |    ON l.user_id = r.user_id AND r.ts > l.ts)
        |SELECT event_id, user_id,
        |  CASE WHEN prev_id IS NOT NULL
        |         AND (next_id IS NULL OR gap_prev <= gap_next)
        |       THEN prev_id ELSE next_id END AS nearest_id,
        |  CASE WHEN prev_id IS NOT NULL
        |         AND (next_id IS NULL OR gap_prev <= gap_next)
        |       THEN gap_prev ELSE gap_next END AS gap_us
        |FROM p FULL JOIN n USING (event_id, user_id)
        |ORDER BY event_id""".stripMargin,

    "st_rolling_window" ->
      """SELECT user_id, event_id,
        |  count(*) OVER w AS n_1h,
        |  round(sum(value) OVER w, 2) AS sum_1h
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
        |  RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, event_id""".stripMargin,

    // identical lag window (full-precision ordering) + row-normalized
    // integer probabilities
    "e_markov" ->
      """WITH p AS (
        |  SELECT lag(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS prev,
        |    event_type AS cur
        |  FROM events),
        |c AS (
        |  SELECT prev, cur, CAST(count(*) AS BIGINT) AS n
        |  FROM p WHERE prev IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT prev, CAST(sum(n) AS BIGINT) AS tot
        |      FROM c GROUP BY 1)
        |SELECT c.prev, c.cur, c.n,
        |  CAST(c.n * 10000 // t.tot AS BIGINT) AS prob_bp
        |FROM c JOIN t ON c.prev = t.prev
        |ORDER BY c.prev, c.cur""".stripMargin,

    "e_funnel" ->
      """WITH v AS (
        |  SELECT user_id, min(ts) AS t1 FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |c AS (
        |  SELECT e.user_id, min(e.ts) AS t2
        |  FROM events e JOIN v USING (user_id)
        |  WHERE e.event_type = 'click' AND e.ts > v.t1 GROUP BY 1),
        |p AS (
        |  SELECT e.user_id, min(e.ts) AS t3
        |  FROM events e JOIN c USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.ts > c.t2 GROUP BY 1)
        |SELECT '1_view' AS stage, count(*) AS n_users FROM v
        |UNION ALL
        |SELECT '2_click_after_view', count(*) FROM c
        |UNION ALL
        |SELECT '3_purchase_after_click', count(*) FROM p
        |ORDER BY stage""".stripMargin,

    "e_attribution" ->
      """WITH p AS (
        |  SELECT event_id, user_id, ts, value FROM events
        |  WHERE event_type = 'purchase'),
        |c AS (
        |  SELECT event_id AS click_id, user_id, ts AS c_ts FROM events
        |  WHERE event_type = 'click')
        |SELECT p.event_id AS purchase_id, p.user_id, c.click_id,
        |  epoch_us(p.ts) - epoch_us(c.c_ts) AS latency_us,
        |  p.value AS attributed_value
        |FROM p ASOF JOIN c
        |  ON p.user_id = c.user_id AND c.c_ts < p.ts
        |ORDER BY purchase_id""".stripMargin,

    "e_retention" ->
      """WITH f AS (
        |  SELECT user_id, CAST(min(ts) AS DATE) AS cohort_day
        |  FROM events GROUP BY 1),
        |d AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events)
        |SELECT f.cohort_day,
        |  date_diff('day', f.cohort_day, d.day) AS day_offset,
        |  count(*) AS n_users
        |FROM f JOIN d USING (user_id)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "e_ewma" ->
      """SELECT user_id, CAST(count(*) AS BIGINT) AS n,
        |  list_reduce(list(value ORDER BY ts, event_id),
        |              (acc, x) -> acc * 0.75 + x * 0.25) AS ewma
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    "st_range_join" ->
      """WITH i AS (
        |  SELECT event_id AS interval_id, ts AS start_ts,
        |    ts + INTERVAL 10 MINUTE AS end_ts
        |  FROM events WHERE event_type = 'error'),
        |p AS (
        |  SELECT event_id AS point_id, ts AS p_ts
        |  FROM events WHERE event_type = 'purchase')
        |SELECT i.interval_id, p.point_id,
        |  epoch_us(p.p_ts) - epoch_us(i.start_ts) AS delta_us
        |FROM i JOIN p ON p.p_ts >= i.start_ts AND p.p_ts < i.end_ts
        |ORDER BY interval_id, point_id""".stripMargin,

    "st_interval_overlap" ->
      """WITH a AS (
        |  SELECT CAST(ts AS DATE) AS a_day, min(ts) AS a_start,
        |    max(ts) + INTERVAL 1 SECOND AS a_end
        |  FROM events WHERE event_type = 'click' GROUP BY 1),
        |b AS (
        |  SELECT CAST(ts AS DATE) AS b_day, min(ts) AS b_start,
        |    max(ts) + INTERVAL 1 SECOND AS b_end
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1)
        |SELECT a_day, b_day,
        |  epoch_us(least(a_end, b_end)) - epoch_us(greatest(a_start, b_start))
        |    AS overlap_us
        |FROM a JOIN b ON a_start < b_end AND b_start < a_end
        |ORDER BY a_day, b_day""".stripMargin
  )
}
