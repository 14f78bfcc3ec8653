package graft
package queries

import graft.operators.{Incremental, RangeJoin}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import QueryCommon._

/** Clickstream analytics over `events`: sessions, DAU/WAU, retention,
  * funnels, sketches and their streamed twins.
  *
  * One [[QuerySpec]] per query: the Spark body beside its DuckDB oracle.
  */
object EventsQueries {

  /** The streamed (user, day) activity table for this dataset — built
    * once (two event-disjoint batches under the BatchMarker protocol) and
    * served by BOTH events_dau_streamed and events_retention_streamed:
    * one set-union accumulation, every distinct-user statistic.
    */
  private def activityPath(s: SparkSession, root: String, dir: String): String = {
    val ev = t(s, dir, "events")
    ensureIndex(s, root, ev, "evdaustream") { p =>
      graft.streaming.EventIngest.processActivityBatch(
        ev.filter(pmod(col("event_id"), lit(2)) === 0), 0L, p)
      graft.streaming.EventIngest.processActivityBatch(
        ev.filter(pmod(col("event_id"), lit(2)) === 1), 1L, p)
    }
  }

  /** The streamed SESSION-state accumulation: events cut into 4
    * EVENT-TIME range slices (boundaries from one 1-row min/max agg —
    * no global sort; the kafka/segment contract is time-ordered batch
    * arrival) and folded through `processSessionBatch`'s carried
    * open-session state.
    */
  private def sessionsStreamPath(s: SparkSession, root: String, dir: String): String = {
    val ev = t(s, dir, "events")
    ensureIndex(s, root, ev, "evsessstream") { p =>
      val mm = ev.agg(min(unix_micros(col("ts"))).as("lo"),
        max(unix_micros(col("ts"))).as("hi")).first()
      // empty events table: both aggregates are NULL — no slices to fold
      if (!mm.isNullAt(0)) {
        val (lo, hi) = (mm.getLong(0), mm.getLong(1))
        val step = (hi - lo) / 4 + 1
        val sliced = ev.withColumn("slice",
          expr(s"(unix_micros(ts) - ${lo}L) div ${step}L"))
        (0 until 4).foreach { i =>
          graft.streaming.EventIngest.processSessionBatch(
            sliced.filter(col("slice") === i).drop("slice"), i.toLong, p,
            gapMinutes = 30)
        }
      }
    }
  }

  /** The streamed per-day-HLL index, built once and shared by
    * `events_dau_sketch` and `events_wau_sketch` — one sketch table
    * serves every distinct-user estimate (the mergeability point), and
    * ONE build block means the batch split can never drift between its
    * consumers (the `activityPath` pattern).
    */
  private def sketchPath(s: SparkSession, root: String, dir: String): String = {
    val ev = t(s, dir, "events")
    ensureIndex(s, root, ev, "evsketchstream") { p =>
      graft.streaming.EventIngest.processSketchBatch(
        ev.filter(pmod(col("event_id"), lit(2)) === 0), 0L, p)
      graft.streaming.EventIngest.processSketchBatch(
        ev.filter(pmod(col("event_id"), lit(2)) === 1), 1L, p)
    }
  }

  /** The alternating-week CHURN cohort: keep a user's events only in
    * weeks matching the user's parity (user_id%2 == week-index%2, week
    * index anchored at Monday 1970-01-05 so both engines agree), so
    * every consecutive week pair has EXACTLY ZERO retained users while
    * the union stays corpus-sized — the degenerate case the retention
    * gate's union-scaled absolute floor exists for (on the natural
    * fixture union ≈ retained and the floor is never the binding term;
    * here relative-bound = 0 and the floor does ALL the work).
    */
  private def churnEvents(ev: DataFrame): DataFrame = {
    val wk = date_trunc("week", col("ts")).cast("date")
    // Monday-truncated dates are exact multiples of 7 days from the
    // Monday anchor, so the double division is exact and the cast safe
    val weekIdx = (datediff(wk, to_date(lit("1970-01-05"))) / 7).cast("long")
    ev.filter(pmod(col("user_id").cast("long"), lit(2)) === pmod(weekIdx, lit(2)))
  }

  /** The churn cohort's per-day-HLL index — same two-batch build as
    * [[sketchPath]] over [[churnEvents]], own kind so the two sketch
    * tables coexist.
    */
  private def churnSketchPath(s: SparkSession, root: String, dir: String): String = {
    val ev = churnEvents(t(s, dir, "events"))
    ensureIndex(s, root, ev, "evsketchchurn") { p =>
      graft.streaming.EventIngest.processSketchBatch(
        ev.filter(pmod(col("event_id"), lit(2)) === 0), 0L, p)
      graft.streaming.EventIngest.processSketchBatch(
        ev.filter(pmod(col("event_id"), lit(2)) === 1), 1L, p)
    }
  }

  /** Exact week-over-week retained + the inclusion–exclusion sketch
    * estimate gated by `greatest(relative, union-scaled floor)` — shared
    * by `events_retention_sketch` (natural activity) and its `_churn`
    * twin (planted zero-retention cohort) so the gate logic can never
    * drift between the case where the relative term binds and the case
    * where only the floor does.
    */
  private def retentionSketchShape(s: SparkSession, ev: DataFrame,
      sketchDir: String): DataFrame = {
    // the estimate reads the SAME per-day sketch table the DAU/WAU
    // estimates read (mergeability: one table, every stat)
    val est = graft.streaming.EventIngest.retainedEstimateFromSketches(
      s, sketchDir)
    // exact retained per consecutive observed week pair (left join: a
    // pair with zero retention still reports)
    val pairs = ev.select(col("user_id"),
      date_trunc("week", col("ts")).as("w")).distinct()
    val pairsB = pairs.select(col("user_id").as("uid_b"), col("w").as("w_b"))
    val exact = pairs.join(pairsB,
        col("uid_b") === col("user_id") &&
          col("w_b") === col("w") + expr("interval 7 days"))
      .groupBy(col("w")).agg(count(lit(1)).as("retained"))
    val wks = pairs.select("w").distinct()
    val obs = wks.join(
        wks.select((col("w") - expr("interval 7 days")).as("w")), Seq("w"), "left_semi")
    obs.join(exact, Seq("w"), "left")
      .select(col("w"), coalesce(col("retained"), lit(0L)).as("retained"))
      .join(est, Seq("w"))
      // the bound needs an ABSOLUTE floor scaled by the union estimate:
      // inclusion–exclusion error grows with the union, so a week pair
      // with small retention would otherwise demand near-zero estimator
      // error and turn benign sketch noise into a red row
      .select(unix_micros(col("w")).as("week_us"), col("retained"),
        (abs(col("retained_est") - col("retained")) <=
          greatest(col("retained") * 0.05, col("union_est") * 0.05))
          .as("est_ok"))
      .orderBy("week_us")
  }

  /** Trailing-7-day WAU derivation over a (user_id, day) frame — shared
    * by events_wau and events_wau_streamed under ONE oracle. Input rows
    * may carry duplicates; the distinct here is part of the contract.
    */
  private def wauShape(ev: DataFrame): DataFrame = {
    val d = ev.distinct()
    val support = d.select(col("user_id"),
      explode(sequence(col("day"),
        col("day") + expr("interval 6 days"),
        expr("interval 1 day"))).as("report_day"))
    val observed = d.select(col("day").as("report_day")).distinct()
    support.join(observed, Seq("report_day"))
      .groupBy(col("report_day"))
      .agg(countDistinct(col("user_id")).as("wau"))
      .select(unix_micros(col("report_day")).as("day_us"), col("wau"))
      .orderBy("day_us")
  }

  /** Cohort-retention derivation over a (user_id, day) frame — shared by
    * events_retention and events_retention_streamed under ONE oracle.
    * Week cohorts/activity are invariant to the day truncation
    * (date_trunc('week', min(day)) = date_trunc('week', min(ts))), so the
    * day-level activity set carries exactly the needed information.
    */
  private def retentionShape(pairs: DataFrame): DataFrame = {
    val cohort = pairs.groupBy(col("user_id")).agg(min(col("day")).as("first_day"))
      .select(col("user_id"), date_trunc("week", col("first_day")).as("cohort_w"))
    val active = pairs
      .select(col("user_id"), date_trunc("week", col("day")).as("act_w"))
      .distinct()
    active.join(cohort, Seq("user_id"))
      .groupBy(col("cohort_w"),
        ((unix_micros(col("act_w")) - unix_micros(col("cohort_w"))) /
          lit(604800000000L)).cast("bigint").as("week_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .select(unix_micros(col("cohort_w")).as("cohort_week_us"),
        col("week_offset"), col("n_users"))
      .orderBy("cohort_week_us", "week_offset")
  }

  /** Shared DAU derivation over a (user_id, day) frame — used by both
    * events_dau (straight off the events scan) and events_dau_streamed
    * (off the accumulated activity set), which run under ONE oracle
    * (green row = equivalence proof). Input rows may carry duplicates;
    * the distinct here is part of the contract.
    */
  private def dauShape(ev: DataFrame): DataFrame = {
    val pairs = ev.distinct()
    val dau = pairs.groupBy(col("day")).agg(count(lit(1)).as("dau"))
    val firsts = pairs.groupBy(col("user_id")).agg(min(col("day")).as("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("new_users"))
    val w = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    dau.join(firsts, Seq("day"), "left")
      .select(col("day"), col("dau"),
        coalesce(col("new_users"), lit(0L)).as("new_users"))
      .withColumn("cum_users", sum(col("new_users")).over(w))
      .select(unix_micros(col("day")).as("day_us"), col("dau"),
        col("new_users"), col("cum_users"))
      .orderBy("day_us")
  }

  /** Shared by `events_sessions` (one-pass window) and
    * `events_sessions_streamed` (carried cross-batch state) — the gap
    * rule in integral microseconds, so streamed ≡ batch is exact.
    */
  private lazy val eventsSessionsOracle: String =
    """WITH l AS (
      |  SELECT user_id, event_id, ts,
      |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
      |  FROM events),
      |b AS (
      |  SELECT user_id, event_id, ts,
      |    CASE WHEN prev IS NULL OR epoch_us(ts) - epoch_us(prev) > 1800000000
      |      THEN 1 ELSE 0 END AS brk
      |  FROM l),
      |s AS (
      |  SELECT user_id, sum(brk) OVER (
      |    PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS session_seq
      |  FROM b)
      |SELECT user_id, CAST(max(session_seq) AS BIGINT) AS n_sessions, count(*) AS n_events
      |FROM s GROUP BY user_id ORDER BY user_id""".stripMargin

  def specs(root: String): Seq[QuerySpec] = Seq(
    // Streaming-batch parity — tumbling 1h window counts over events
    // (SURVEY §2.9; the streaming twin lives in graft.streaming).
    QuerySpec("events_hourly", (s, dir) => {
      t(s, dir, "events")
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
        .select(fmt(col("w.start")).as("window_start"), col("event_type"),
          col("n"), col("total_value"))
        .orderBy("window_start", "event_type")
    }, eventsHourlyOracle),

    // The streamed twin of events_hourly: two event-disjoint micro-batches
    // append per-batch (window, type) PARTIALS under the BatchMarker
    // protocol (EventIngest), and the serving read merges them. Shares
    // events_hourly's oracle verbatim — green = the accumulated rollup is
    // row-identical to the batch aggregate (decimal partials merge exact).
    QuerySpec("events_hourly_streamed", (s, dir) => {
      val ev = t(s, dir, "events")
      val path = ensureIndex(s, root, ev, "evhourlystream") { p =>
        graft.streaming.EventIngest.processBatch(
          ev.filter(pmod(col("event_id"), lit(2)) === 0), 0L, p)
        graft.streaming.EventIngest.processBatch(
          ev.filter(pmod(col("event_id"), lit(2)) === 1), 1L, p)
      }
      graft.streaming.EventIngest.hourlyFromAccumulated(s, path)
        .select(fmt(col("window_start")).as("window_start"), col("event_type"),
          col("n"), col("total_value"))
        .orderBy("window_start", "event_type")
    },
      // the SAME oracle: the streamed accumulation must merge to exactly the
      // batch aggregate — a green row is the streamed ≡ batch proof
      eventsHourlyOracle),

    // Sliding-window counts (graft.streaming.EventStreams.slidingCounts,
    // batch twin of the streaming query — 1h window, 30m slide).
    QuerySpec("w_sliding_events", (s, dir) => {
      graft.streaming.EventStreams.slidingCounts(t(s, dir, "events"), "30 minutes")
        .select(fmt(col("window_start")).as("window_start"), col("event_type"), col("n"))
        .orderBy("window_start", "event_type")
    },
      """WITH b AS (SELECT time_bucket(INTERVAL '30 minutes', ts) AS b1, event_type FROM events),
        |w AS (SELECT b1 AS ws, event_type FROM b
        |      UNION ALL SELECT b1 - INTERVAL '30 minutes', event_type FROM b)
        |SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start, event_type, count(*) AS n
        |FROM w GROUP BY 1,2 ORDER BY 1,2""".stripMargin),

    // Approximate distinct (HLL++) beside the exact count. DuckDB can't
    // reproduce Spark's sketch value, but it CAN check the contract: the
    // exact count matches and the sketch lands within 5% of it (rsd=0.01,
    // so 5% is a wide, deterministic bound) — a sketch regression becomes
    // a hash mismatch instead of an unchecked rows-only pass.
    QuerySpec("approx_distinct_users", (s, dir) => {
      // The exact and HLL aggregates run as SEPARATE aggregations joined on
      // the 5-row key: in one agg, the distinct-rewrite plans
      // partial_approx_count_distinct grouped by (event_type, user_id) —
      // the 1641-long HLL buffer (rsd 0.01) per DISTINCT USER, ~850 MB of
      // aggregation state through the shuffle for 65k users. Split, the
      // exact arm shuffles (type, user) pairs with no payload and the HLL
      // arm keeps 5 sketches total: 2.2 s → 1.2 s at sf0.1.
      val ev = t(s, dir, "events")
      val exact = ev.groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("exact_users"))
      val approx = ev.groupBy(col("event_type"))
        .agg(approx_count_distinct(col("user_id"), 0.01).as("approx_users"))
      exact.join(approx, Seq("event_type"))
        .select(col("event_type"), col("exact_users"),
          (abs(col("approx_users") - col("exact_users")).cast("double") /
            col("exact_users") <= 0.05).as("approx_ok"))
        .orderBy("event_type")
    },
      """SELECT event_type, count(DISTINCT user_id) AS exact_users, TRUE AS approx_ok
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),

    // Incremental rebuild, sketch algebra: per-batch DataSketches HLL
    // states union losslessly (the same user in two batches lands in the
    // same buckets), so the merged estimate carries the single-pass error
    // bound — gated against the full-recompute exact count, same shape as
    // approx_distinct_users.
    QuerySpec("approx_distinct_incremental", (s, dir) => {
      val ev = t(s, dir, "events")
      val states = (0 until 4).map { i =>
        Incremental.distinctSketchState(
          ev.filter(pmod(xxhash64(col("event_id")), lit(4)) === i),
          "event_type", "user_id")
      }
      val merged = Incremental.mergeDistinctSketches(states, "event_type")
      val exact = ev.groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("exact_users"))
      exact.join(merged, Seq("event_type"))
        .select(col("event_type"), col("exact_users"),
          (abs(col("approx_distinct") - col("exact_users")).cast("double") /
            col("exact_users") <= 0.05).as("approx_ok"))
        .orderBy("event_type")
    },
      // Same exact column + bound flag: the merged-sketch estimate must sit
      // within 5% of the full-recompute distinct count.
      """SELECT event_type, count(DISTINCT user_id) AS exact_users, TRUE AS approx_ok
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),

    // Interval-join attribution (batch twin of the stream-stream join):
    // purchases attributed to preceding views of the same user within
    // 30 minutes; per-user counts + attributed value.
    QuerySpec("events_attribution", (s, dir) => {
      val ev = t(s, dir, "events")
      graft.streaming.EventStreams.viewPurchaseAttribution(
          ev.filter(col("event_type") === "view"),
          ev.filter(col("event_type") === "purchase"), windowMinutes = 30)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_attributed"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("attributed_value"))
        .orderBy("user_id")
    },
      // Interval bounds compared at MICROsecond precision on both sides:
      // Spark's loaded timestamps ARE the ns-truncated micros, and DuckDB's
      // epoch_us truncates identically — so the boundary cases agree exactly.
      """WITH v AS (SELECT user_id, ts AS view_ts FROM events WHERE event_type = 'view'),
        |p AS (SELECT user_id, ts AS purchase_ts, value FROM events WHERE event_type = 'purchase')
        |SELECT user_id, count(*) AS n_attributed,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS attributed_value
        |FROM v JOIN p USING (user_id)
        |WHERE epoch_us(purchase_ts) >= epoch_us(view_ts)
        |  AND epoch_us(purchase_ts) <= epoch_us(view_ts) + 1800000000
        |GROUP BY user_id ORDER BY user_id""".stripMargin),

    // Daily + cumulative active users: DAU per day, first-seen new users,
    // and the running total of known users (cumulative DISTINCT expressed
    // as a running SUM over first-seen counts — no re-scan per day). The
    // running window is 30 rows (days), not the event stream.
    QuerySpec("events_dau", (s, dir) => {
      dauShape(t(s, dir, "events")
        .select(col("user_id"), date_trunc("day", col("ts")).as("day")))
    }, eventsDauOracle),

    // The streamed twin: each micro-batch appends its DISTINCT
    // (user_id, day) pairs (set-union accumulation — the idempotent merge
    // class, vs events_hourly_streamed's additive partials); the serving
    // read unions the set and runs the SAME dauShape derivation. Shares
    // events_dau's oracle verbatim — distinct-user stats computed exactly
    // from accumulated pairs, no sketches.
    QuerySpec("events_dau_streamed", (s, dir) => {
      dauShape(graft.streaming.EventIngest.activityFromAccumulated(
        s, activityPath(s, root, dir),
        t(s, dir, "events").schema("user_id").dataType))
    },
      // the SAME oracle: the accumulated distinct (user, day) set must
      // yield exactly the batch DAU/new/cumulative numbers
      eventsDauOracle),

    // Per-user activity deciles: ntile(10) over per-user event counts —
    // the power-user segmentation cut. The window ranks one row per USER
    // (not the event stream); deterministic order (count desc, user asc).
    QuerySpec("events_user_deciles", (s, dir) => {
      val counts = t(s, dir, "events")
        .groupBy(col("user_id")).agg(count(lit(1)).as("n_events"))
      counts
        .withColumn("decile",
          ntile(10).over(Window.orderBy(col("n_events").desc, col("user_id")))
            .cast("bigint"))
        .groupBy(col("decile"))
        .agg(count(lit(1)).as("n_users"),
          sum(col("n_events")).as("total_events"),
          min(col("n_events")).as("min_events"),
          max(col("n_events")).as("max_events"))
        .orderBy("decile")
    },
      // DuckDB's native ASOF LEFT JOIN is the oracle for the composed
      // union+window implementation (ties impossible: view side is deduped
      // per (user, ts) in both formulations).
      // Same ntile over the same deterministic order; remainder-to-early-
      // buckets semantics are standard SQL in both engines.
      """WITH c AS (SELECT user_id, count(*) AS n_events FROM events GROUP BY 1),
        |d AS (SELECT user_id, n_events,
        |        ntile(10) OVER (ORDER BY n_events DESC, user_id) AS decile
        |      FROM c)
        |SELECT CAST(decile AS BIGINT) AS decile, count(*) AS n_users,
        |  CAST(sum(n_events) AS BIGINT) AS total_events,
        |  min(n_events) AS min_events, max(n_events) AS max_events
        |FROM d GROUP BY 1 ORDER BY 1""".stripMargin),

    // Rolling 7-day active users: each (user, active-day) pair is exploded
    // to the 7 report-days it supports, then one distinct-count per
    // report-day — the scale idiom for sliding DISTINCT windows (explode
    // ×7 then ONE keyed agg, never a re-scan per day); report days
    // restricted to observed days.
    QuerySpec("events_wau", (s, dir) => {
      wauShape(t(s, dir, "events")
        .select(col("user_id"), date_trunc("day", col("ts")).as("day")))
    }, eventsWauOracle),

    // THIRD serving view off the streamed activity set (after DAU and
    // retention) — the accumulation's whole point: every distinct-user
    // statistic, one table. Shares events_wau's oracle verbatim.
    QuerySpec("events_wau_streamed", (s, dir) => {
      wauShape(graft.streaming.EventIngest.activityFromAccumulated(
        s, activityPath(s, root, dir),
        t(s, dir, "events").schema("user_id").dataType))
    },
      // the SAME oracle: third serving view off the streamed activity set
      eventsWauOracle),

    // Event-rate anomaly detection: hourly counts per type, z-score from
    // EXACT integer sums (s1, s2 as bigints — both engines derive
    // mean/var/z through the identical IEEE operation chain, so the
    // compare is exact without tolerance). Two aggs + a broadcast join;
    // the hourly frame feeds both, so persist + count.
    QuerySpec("events_anomaly", (s, dir) => {
      val hourly = t(s, dir, "events")
        .groupBy(date_trunc("hour", col("ts")).as("h"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .persist()
      hourly.count()
      val stats = hourly.groupBy(col("event_type"))
        .agg(count(lit(1)).as("nh"), sum(col("n")).as("s1"),
          sum(col("n") * col("n")).as("s2"))
      hourly.join(broadcast(stats), Seq("event_type"))
        .withColumn("vr",
          (col("s2").cast("double") - col("s1").cast("double") * col("s1") / col("nh")) /
            (col("nh") - 1))
        .withColumn("z",
          when(col("vr") > 0,
            round((col("n").cast("double") - col("s1").cast("double") / col("nh")) /
              sqrt(col("vr")), 6))
            .otherwise(lit(0.0)))
        .select(col("event_type"), unix_micros(col("h")).as("hour_us"),
          col("n"), col("z"), (abs(col("z")) > 2.5).as("is_anomaly"))
        // ORACLE-DETERMINISM SORT, NOT THE PRODUCTION CONTRACT: the tail
        // orderBy exists so the oracle's hash compare sees one row order;
        // the operator itself is the unordered frame above it. At 100 TB
        // ship the unordered form — a global sort of per-hour rows would
        // be a pure artifact of the test harness. (COVERAGE.md "Ordered
        // outputs" note.)
        .orderBy("event_type", "hour_us")
    },
      // Same integer sums (s1, s2 bigint-exact), same IEEE chain for
      // mean/var/z — the compare is exact; round(,6) guards the last ulp.
      """WITH hourly AS (
        |  SELECT event_type, date_trunc('hour', ts) AS h, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |st AS (
        |  SELECT event_type, count(*) AS nh, sum(n) AS s1, sum(n * n) AS s2
        |  FROM hourly GROUP BY 1),
        |j AS (
        |  SELECT hourly.event_type, h, n,
        |    (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / nh) / (nh - 1) AS vr,
        |    CAST(s1 AS DOUBLE) / nh AS mean
        |  FROM hourly JOIN st ON hourly.event_type = st.event_type),
        |z AS (
        |  SELECT event_type, h, n,
        |    CASE WHEN vr > 0 THEN round((CAST(n AS DOUBLE) - mean) / sqrt(vr), 6)
        |         ELSE 0.0 END AS z
        |  FROM j)
        |SELECT event_type, epoch_us(h) AS hour_us, n, z,
        |  abs(z) > 2.5 AS is_anomaly
        |FROM z ORDER BY event_type, hour_us""".stripMargin),

    // Ordered funnel conversion: per user, earliest view, earliest click
    // STRICTLY AFTER it, earliest purchase strictly after that — the
    // classic product-analytics sequence query as three keyed
    // aggregate-then-join stages (no window over the full event stream).
    // Times emitted as unix micros (-1 = stage not reached).
    QuerySpec("events_funnel", (s, dir) => {
      val ev = t(s, dir, "events").select(col("user_id"), col("event_type"), col("ts"))
      val v = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts")).as("t_view"))
      val c = ev.filter(col("event_type") === "click")
        .join(v, Seq("user_id"))
        .filter(col("ts") > col("t_view"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("t_click"))
      val p = ev.filter(col("event_type") === "purchase")
        .join(c, Seq("user_id"))
        .filter(col("ts") > col("t_click"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("t_purchase"))
      v.join(c, Seq("user_id"), "left")
        .join(p, Seq("user_id"), "left")
        .select(col("user_id"),
          unix_micros(col("t_view")).as("view_us"),
          coalesce(unix_micros(col("t_click")), lit(-1L)).as("click_us"),
          coalesce(unix_micros(col("t_purchase")), lit(-1L)).as("purchase_us"))
        // ORACLE-DETERMINISM SORT, NOT THE PRODUCTION CONTRACT: a global
        // sort of per-USER rows is the single worst tail to ship at
        // 100 TB — the operator ends at the unordered join above; this
        // orderBy exists solely for the oracle's hash compare.
        // (COVERAGE.md "Ordered outputs" note.)
        .orderBy("user_id")
    },
      // Strict-order comparisons run at MICROsecond precision on both sides
      // (epoch_us) — the parquet carries nanos, Spark's loader truncates to
      // micros, and min() commutes with the monotone truncation.
      """WITH e AS (SELECT user_id, event_type, ts FROM events),
        |v AS (SELECT user_id, min(ts) AS t_view FROM e
        |      WHERE event_type = 'view' GROUP BY 1),
        |c AS (SELECT e.user_id, min(e.ts) AS t_click
        |      FROM e JOIN v ON e.user_id = v.user_id
        |      WHERE e.event_type = 'click' AND epoch_us(e.ts) > epoch_us(v.t_view)
        |      GROUP BY 1),
        |p AS (SELECT e.user_id, min(e.ts) AS t_purchase
        |      FROM e JOIN c ON e.user_id = c.user_id
        |      WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > epoch_us(c.t_click)
        |      GROUP BY 1)
        |SELECT v.user_id, epoch_us(v.t_view) AS view_us,
        |  coalesce(epoch_us(c.t_click), -1) AS click_us,
        |  coalesce(epoch_us(p.t_purchase), -1) AS purchase_us
        |FROM v
        |LEFT JOIN c ON c.user_id = v.user_id
        |LEFT JOIN p ON p.user_id = v.user_id
        |ORDER BY v.user_id""".stripMargin),

    // Cohort retention: users grouped by the week of their first event;
    // for each cohort, distinct active users at each whole-week offset.
    // Two aggregations + one keyed join; offsets are exact bigint
    // arithmetic on aligned week boundaries (UTC, no DST).
    QuerySpec("events_retention", (s, dir) => {
      retentionShape(t(s, dir, "events")
        .select(col("user_id"), date_trunc("day", col("ts")).as("day")))
    }, eventsRetentionOracle),

    // The SKETCH tier of streamed DAU — per-batch per-day HLL binaries,
    // O(days) rows per batch, CONSTANT in users: the 100 TB shape where
    // even the distinct (user, day) set is too big to keep. Accuracy is
    // gated the recall-gate way: Spark emits the exact DAU (which the
    // oracle replays) plus a pinned-TRUE bound that the sketch estimate
    // lands within 5% of it — a sketch regression becomes a hash mismatch.
    QuerySpec("events_dau_sketch", (s, dir) => {
      val ev = t(s, dir, "events")
      val est = graft.streaming.EventIngest.dauEstimateFromSketches(
        s, sketchPath(s, root, dir))
      val exact = ev.select(col("user_id"), date_trunc("day", col("ts")).as("day"))
        .distinct().groupBy(col("day")).agg(count(lit(1)).as("dau"))
      exact.join(est, Seq("day"))
        .select(unix_micros(col("day")).as("day_us"), col("dau"),
          (abs(col("dau_est") - col("dau")) <= col("dau") * 0.05).as("est_ok"))
        .orderBy("day_us")
    },
      // recall-gate convention: exact DAU replayed, sketch-accuracy bound
      // pinned TRUE — a sketch regression becomes a hash mismatch
      """SELECT epoch_us(day) AS day_us, count(*) AS dau, TRUE AS est_ok
        |FROM (SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events)
        |GROUP BY day ORDER BY day_us""".stripMargin),

    // WAU off the SKETCH tier — completing the three-tier story (raw →
    // activity set → sketch) for BOTH distinct-user statistics: the
    // trailing-7-day union is just seven more HLL merges over the same
    // per-day sketches events_dau_sketch reads, O(days·7) sketch rows
    // per report, constant in users. Same recall-gate convention: exact
    // WAU replayed by the oracle, estimate pinned within 5%.
    QuerySpec("events_wau_sketch", (s, dir) => {
      val ev = t(s, dir, "events")
      val est = graft.streaming.EventIngest.wauEstimateFromSketches(
          s, sketchPath(s, root, dir))
        .select(unix_micros(col("report_day")).as("day_us"), col("wau_est"))
      wauShape(ev.select(col("user_id"), date_trunc("day", col("ts")).as("day")))
        .join(est, Seq("day_us"))
        .select(col("day_us"), col("wau"),
          (abs(col("wau_est") - col("wau")) <= col("wau") * 0.05).as("est_ok"))
        .orderBy("day_us")
    },
      // recall-gate convention over the exact WAU replay (the eventsWauOracle
      // derivation + the pinned-TRUE sketch-accuracy bound)
      """WITH d AS (SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events),
        |s AS (
        |  SELECT user_id,
        |    unnest(generate_series(day, day + INTERVAL 6 DAY, INTERVAL 1 DAY))
        |      AS report_day
        |  FROM d),
        |o AS (SELECT DISTINCT day AS report_day FROM d)
        |SELECT epoch_us(s.report_day) AS day_us,
        |  count(DISTINCT s.user_id) AS wau, TRUE AS est_ok
        |FROM s JOIN o ON s.report_day = o.report_day
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // SLIDING RETENTION off the SKETCH tier — the intersection estimate
    // the union-only HLL algebra doesn't give directly: retained(w) =
    // |active(w) ∩ active(w+1)| via INCLUSION–EXCLUSION on the same
    // per-day sketches (est(w) + est(w+1) − est(w ∪ w+1), the w∪w+1
    // sketch being one more pairwise merge). O(weeks) sketch rows,
    // constant in users — closing the last distinct-user statistic still
    // priced exact at window scale. Estimate error compounds across the
    // three terms, so the gate is the same 5% recall-gate convention:
    // the oracle replays the EXACT retained count; the pinned-TRUE bound
    // turns estimator drift into a hash mismatch.
    QuerySpec("events_retention_sketch", (s, dir) =>
      retentionSketchShape(s, t(s, dir, "events"), sketchPath(s, root, dir)),
      // exact week-over-week retained users per consecutive observed week
      // pair; the inclusion–exclusion sketch estimate is Spark-side and
      // gated by the pinned-TRUE bound
      """WITH pairs AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS w FROM events),
        |wks AS (SELECT DISTINCT w FROM pairs),
        |nxt AS (SELECT a.w FROM wks a JOIN wks b ON b.w = a.w + INTERVAL 7 DAY),
        |r AS (SELECT a.w, count(*) AS retained
        |      FROM pairs a JOIN pairs b ON a.user_id = b.user_id
        |                               AND b.w = a.w + INTERVAL 7 DAY
        |      GROUP BY a.w)
        |SELECT epoch_us(n.w) AS week_us,
        |  CAST(COALESCE(r.retained, 0) AS BIGINT) AS retained, TRUE AS est_ok
        |FROM nxt n LEFT JOIN r ON r.w = n.w ORDER BY week_us""".stripMargin),

    // The CHURN cohort through the same gate — the degenerate case the
    // union-scaled floor exists for: alternating-week activity makes
    // every consecutive pair's EXACT retained 0 (the parities are
    // disjoint), so the relative bound term is 0 and the floor is the
    // ONLY thing between benign inclusion–exclusion noise and a red row.
    // Both terms per pair at both SFs were measured with the former
    // `tools/RetentionProbe` before the floor was pinned.
    QuerySpec("events_retention_sketch_churn", (s, dir) =>
      retentionSketchShape(s, churnEvents(t(s, dir, "events")),
        churnSketchPath(s, root, dir)),
      // the churn cohort replays the alternating-week filter (week index
      // anchored at Monday 1970-01-05, same arithmetic both engines) and
      // the SAME retained derivation — every pair's exact retained is 0 by
      // construction (disjoint parities), so the pinned-TRUE gate is
      // carried entirely by the union-scaled floor
      """WITH act AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS w
        |  FROM events
        |  WHERE user_id % 2 =
        |    (date_diff('day', DATE '1970-01-05',
        |       CAST(date_trunc('week', ts) AS DATE)) // 7) % 2),
        |wks AS (SELECT DISTINCT w FROM act),
        |nxt AS (SELECT a.w FROM wks a JOIN wks b ON b.w = a.w + INTERVAL 7 DAY),
        |r AS (SELECT a.w, count(*) AS retained
        |      FROM act a JOIN act b ON a.user_id = b.user_id
        |                            AND b.w = a.w + INTERVAL 7 DAY
        |      GROUP BY a.w)
        |SELECT epoch_us(n.w) AS week_us,
        |  CAST(COALESCE(r.retained, 0) AS BIGINT) AS retained, TRUE AS est_ok
        |FROM nxt n LEFT JOIN r ON r.w = n.w ORDER BY week_us""".stripMargin),

    // SECOND serving view off the SAME accumulated activity table as
    // events_dau_streamed — the point of set-union accumulation: one
    // streamed (user, day) set serves every distinct-user statistic.
    // Week cohorts are invariant to the day truncation (week(min(day)) =
    // week(min(ts))), so this shares events_retention's oracle verbatim.
    QuerySpec("events_retention_streamed", (s, dir) => {
      retentionShape(graft.streaming.EventIngest.activityFromAccumulated(
        s, activityPath(s, root, dir),
        t(s, dir, "events").schema("user_id").dataType))
    },
      // the SAME oracle: the accumulated activity set serves retention too
      eventsRetentionOracle),

    QuerySpec("events_sessions", (s, dir) => {
      graft.streaming.EventStreams.sessionize(t(s, dir, "events"), gapMinutes = 30)
        .groupBy(col("user_id"))
        .agg(max(col("session_seq")).cast("bigint").as("n_sessions"),
          count(lit(1)).as("n_events"))
        .orderBy("user_id")
    },
      // Gap compare in integral microseconds (epoch_us truncates ns→us the
      // same way Spark's `ts DIV 1000` load conversion does).
      eventsSessionsOracle),

    // STREAMED sessionization (EventIngest.processSessionBatch): the
    // ORDER-DEPENDENT state class — open sessions span micro-batch
    // cuts, so each batch carries (last event time, counters) per user
    // and appends delta state rows only. 4 event-time-sliced batches;
    // SHARES events_sessions' oracle, so green proves the carried
    // state reproduces the one-pass batch window exactly, including
    // sessions straddling every batch boundary.
    QuerySpec("events_sessions_streamed", (s, dir) => {
      val path = sessionsStreamPath(s, root, dir)
      graft.streaming.EventIngest.sessionStateFromAccumulated(s, path)
        .select(col("user_id"), col("n_sessions"), col("n_events"))
        .orderBy("user_id")
    },
      // the SAME oracle: 4 event-time-sliced batches with carried open-
      // session state must reproduce the one-pass batch window exactly —
      // including sessions spanning batch cuts (equivalence twin)
      eventsSessionsOracle),

    // As-of join: each purchase matched to the user's most recent view
    // at-or-before it (graft.operators.AsOf — tagged union + carry-forward
    // window, one shuffle, no join node). View side deduped per (user, ts)
    // so the carried winner is deterministic; the oracle is DuckDB's
    // native ASOF LEFT JOIN.
    QuerySpec("events_asof", (s, dir) => {
      val ev = t(s, dir, "events")
      val views = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id"), col("ts").as("view_ts"))
        .agg(max(col("event_id")).as("view_id"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"),
          col("ts").as("purchase_ts"))
      graft.operators.AsOf.asofJoin(purchases, views,
          key = "user_id", leftTs = "purchase_ts", rightTs = "view_ts")
        .select(col("purchase_id"), col("user_id"),
          unix_micros(col("purchase_ts")).as("purchase_us"), col("view_id"),
          (unix_micros(col("purchase_ts")) - unix_micros(col("view_ts"))).as("lag_us"))
        .orderBy("purchase_id")
    },
      """WITH v AS (SELECT user_id, ts AS view_ts, max(event_id) AS view_id
        |           FROM events WHERE event_type = 'view' GROUP BY 1, 2),
        |p AS (SELECT event_id AS purchase_id, user_id, ts AS purchase_ts
        |      FROM events WHERE event_type = 'purchase')
        |SELECT p.purchase_id, p.user_id, epoch_us(p.purchase_ts) AS purchase_us, v.view_id,
        |  epoch_us(p.purchase_ts) - epoch_us(v.view_ts) AS lag_us
        |FROM p ASOF LEFT JOIN v
        |  ON p.user_id = v.user_id AND p.purchase_ts >= v.view_ts
        |ORDER BY purchase_id""".stripMargin),

    // OHLC downsampling: per (type, hour) the first/last values in event
    // order plus the extremes — the time-series compaction a metrics
    // store applies before retention. One exchange (the per-bucket
    // window); first/last are exact row values picked by (ts, event_id)
    // order, so no float arithmetic is introduced at all.
    QuerySpec("events_ohlc", (s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("event_type"), date_trunc("hour", col("ts")).as("h"),
          col("ts"), col("event_id"), col("value"))
      val wAsc = Window.partitionBy(col("event_type"), col("h"))
        .orderBy(col("ts"), col("event_id"))
      val wDesc = Window.partitionBy(col("event_type"), col("h"))
        .orderBy(col("ts").desc, col("event_id").desc)
      ev.withColumn("rn_a", row_number().over(wAsc))
        .withColumn("rn_d", row_number().over(wDesc))
        .groupBy(col("event_type"), col("h"))
        .agg(max(when(col("rn_a") === 1, col("value"))).as("open"),
          max(col("value")).as("high"),
          min(col("value")).as("low"),
          max(when(col("rn_d") === 1, col("value"))).as("close"),
          count(lit(1)).as("n"))
        .select(col("event_type"), fmt(col("h")).as("hour"), col("open"),
          col("high"), col("low"), col("close"), col("n"))
        .orderBy("event_type", "hour")
    },
      """WITH e AS (
        |  SELECT event_type, date_trunc('hour', ts) AS h, ts, event_id, value,
        |    row_number() OVER (PARTITION BY event_type, date_trunc('hour', ts)
        |      ORDER BY ts, event_id) AS rn_a,
        |    row_number() OVER (PARTITION BY event_type, date_trunc('hour', ts)
        |      ORDER BY ts DESC, event_id DESC) AS rn_d
        |  FROM events)
        |SELECT event_type, strftime(h, '%Y-%m-%d %H:%M:%S') AS hour,
        |  max(CASE WHEN rn_a = 1 THEN value END) AS open,
        |  max(value) AS high, min(value) AS low,
        |  max(CASE WHEN rn_d = 1 THEN value END) AS close,
        |  count(*) AS n
        |FROM e GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // Multi-granularity reporting in ONE pass: rollup(event_type, day)
    // yields per-(type, day), per-type and grand-total rows from a single
    // aggregation (Expand), not three scans. grouping_id disambiguates
    // the null-key levels.
    QuerySpec("events_rollup", (s, dir) => {
      t(s, dir, "events")
        .select(col("event_type"), to_date(col("ts")).as("day"),
          col("value"))
        .rollup(col("event_type"), col("day"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"),
          grouping_id().cast("bigint").as("gid"))
        .select(coalesce(col("event_type"), lit("ALL")).as("event_type"),
          coalesce(date_format(col("day"), "yyyy-MM-dd"), lit("ALL")).as("day"),
          col("n"), col("total_value"), col("gid"))
        .orderBy("gid", "event_type", "day")
    },
      // DuckDB's ROLLUP + GROUPING() replays the Expand-based one-pass
      // multi-granularity aggregation level-for-level.
      """SELECT coalesce(event_type, 'ALL') AS event_type,
        |  coalesce(strftime(date_trunc('day', ts), '%Y-%m-%d'), 'ALL') AS day,
        |  count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
        |  CAST(GROUPING(event_type) * 2 + GROUPING(date_trunc('day', ts)) AS BIGINT) AS gid
        |FROM events
        |GROUP BY ROLLUP (event_type, date_trunc('day', ts))
        |ORDER BY gid, event_type, day""".stripMargin),

    // Bucketized range join: events against keyed campaign windows (per
    // event_type, 5 weekly windows of 3 days). The bin equi-join replaces
    // the quadratic per-key pairing a raw BETWEEN join plans; the oracle
    // is DuckDB's plain BETWEEN join — green row = the binning dropped
    // and duplicated nothing.
    QuerySpec("events_range_join", (s, dir) => {
      val base = lit(java.time.LocalDate.parse("2024-01-01")
        .atStartOfDay(java.time.ZoneOffset.UTC).toInstant.toEpochMilli * 1000L)
      val day = 86400000000L
      val pts = t(s, dir, "events")
        .select(col("event_id"), col("event_type"),
          unix_micros(col("ts")).as("tsu"), col("value"))
      val iv = t(s, dir, "events").select(col("event_type")).distinct()
        .withColumn("week", explode(sequence(lit(0L), lit(4L))))
        .select(col("event_type"), col("week"),
          (base + col("week") * lit(7L * day)).as("w_start"))
        .withColumn("w_end", col("w_start") + lit(3L * day))
      RangeJoin.binnedRangeJoin(pts, iv, "tsu", "w_start", "w_end",
          binWidth = day, keys = Seq("event_type"))
        .groupBy(col("event_type"), col("week"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
        .orderBy("event_type", "week")
    },
      // The range join's oracle is the PLAIN containment join — DuckDB never
      // sees the bins, so a green row proves the binning neither dropped nor
      // duplicated a match.
      """WITH iv AS (
        |  SELECT et.event_type, w.week,
        |    epoch_us(TIMESTAMP '2024-01-01') + w.week * 604800000000 AS ws
        |  FROM (SELECT DISTINCT event_type FROM events) et,
        |       (SELECT unnest(generate_series(0, 4)) AS week) w),
        |e AS (SELECT event_type, epoch_us(ts) AS tsu, value FROM events)
        |SELECT iv.event_type, iv.week, count(*) AS n,
        |  CAST(sum(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM e JOIN iv ON e.event_type = iv.event_type
        |  AND e.tsu >= iv.ws AND e.tsu <= iv.ws + 259200000000
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)
  )

  // shared by events_wau AND events_wau_streamed: trailing-7-day WAU from
  // the same distinct (user, day) set the activity table accumulates
  private val eventsWauOracle: String =
    """WITH d AS (SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events),
      |s AS (
      |  SELECT user_id,
      |    unnest(generate_series(day, day + INTERVAL 6 DAY, INTERVAL 1 DAY))
      |      AS report_day
      |  FROM d),
      |o AS (SELECT DISTINCT day AS report_day FROM d)
      |SELECT epoch_us(s.report_day) AS day_us,
      |  count(DISTINCT s.user_id) AS wau
      |FROM s JOIN o ON s.report_day = o.report_day
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // shared by events_retention AND events_retention_streamed: week
  // cohorts are invariant to day truncation, so the activity-set replay
  // must land on these exact numbers
  private val eventsRetentionOracle: String =
    """WITH f AS (SELECT user_id, min(ts) AS first_ts FROM events GROUP BY 1),
      |co AS (SELECT user_id, date_trunc('week', first_ts) AS cw FROM f),
      |a AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS aw FROM events)
      |SELECT epoch_us(co.cw) AS cohort_week_us,
      |  (epoch_us(a.aw) - epoch_us(co.cw)) // 604800000000 AS week_offset,
      |  count(DISTINCT a.user_id) AS n_users
      |FROM a JOIN co ON a.user_id = co.user_id
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // shared by events_dau AND events_dau_streamed: the streamed activity
  // set (distinct user-day pairs) must reproduce these numbers exactly
  private val eventsDauOracle: String =
    """WITH d AS (SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events),
      |dau AS (SELECT day, count(*) AS dau FROM d GROUP BY 1),
      |f AS (SELECT user_id, min(day) AS day FROM d GROUP BY 1),
      |nu AS (SELECT day, count(*) AS new_users FROM f GROUP BY 1)
      |SELECT epoch_us(dau.day) AS day_us, dau.dau,
      |  coalesce(nu.new_users, 0) AS new_users,
      |  CAST(sum(coalesce(nu.new_users, 0)) OVER (ORDER BY dau.day
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_users
      |FROM dau LEFT JOIN nu ON dau.day = nu.day
      |ORDER BY day_us""".stripMargin

  // shared by events_hourly AND events_hourly_streamed: the streamed
  // accumulation (EventIngest partials) must merge to exactly this
  private val eventsHourlyOracle: String =
    """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
      |  event_type, count(*) AS n,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM events GROUP BY 1,2 ORDER BY 1,2""".stripMargin
}
