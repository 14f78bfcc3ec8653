package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streamed maintenance of a windowed event aggregate — the events-family
  * sibling of [[IndexIngest]]/[[VectorIngest]]: each micro-batch's rows
  * fold to per-(window, event_type) PARTIALS appended under
  * `agg/batch_id=<b>/`, and the serving read merges partials. This is the
  * append-only accumulation form of `events_hourly` (the watermarked
  * stateful-agg form lives in [[EventStreams]]): partial counts and
  * DECIMAL partial sums merge associatively, so the accumulated table is
  * row-identical to the batch aggregate over the union of all batches —
  * which is exactly what the shared driver oracle checks.
  *
  * Scale stance: a batch writes O(windows × types) partial rows, never
  * raw events; the merge read aggregates partials, not history — the "a
  * day of events lands on the rollup without recomputing the month"
  * shape. Each table is one sink of the [[BatchMarker.ingest]]
  * exactly-once core.
  */
object EventIngest {

  def start(events: DataFrame, aggPath: String, checkpoint: String,
      windowDur: String = "1 hour"): StreamingQuery =
    BatchMarker.stream(events, checkpoint)(
      processBatch(_, _, aggPath, windowDur))

  /** One single-sink micro-batch of the table `name` under `aggPath`,
    * through the [[BatchMarker.ingest]] core: `rows` of a non-empty batch
    * append under `<aggPath>/<name>/batch_id=<b>/`.
    */
  private def ingest(batch: DataFrame, batchId: Long, aggPath: String,
      name: String)(rows: => DataFrame): Unit = {
    val sink = BatchMarker.Sink(aggPath, name, s"$aggPath/$name")
    BatchMarker.ingest(batch, batchId, Seq(sink), skipEmpty = true)(
      _.append(sink)(rows))
  }

  /** One micro-batch, callable from tests and backfills directly. */
  def processBatch(batch: DataFrame, batchId: Long, aggPath: String,
      windowDur: String = "1 hour"): Unit =
    ingest(batch, batchId, aggPath, "agg") {
      // decimal partials: exact under re-aggregation, so streamed ≡ batch
      // bit-for-bit after the final cast (the oracle-determinism rule the
      // batch query already follows)
      batch
        .groupBy(window(col("ts"), windowDur).as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).as("partial_value"))
        .select(col("w.start").as("window_start"), col("event_type"),
          col("n"), col("partial_value"))
    }

  /** Streamed maintenance of the (user, day) ACTIVITY table — set-union
    * accumulation, the other merge class next to [[processBatch]]'s
    * additive partials: each batch appends its DISTINCT (user_id, day)
    * pairs and the read unions them (distinct again — cross-batch
    * duplicates collapse, idempotent by construction). Rows per batch are
    * bounded by active-users × days-touched, never raw events, and every
    * distinct-user statistic (DAU, first-seen, cumulative users) computes
    * exactly from the accumulated set — no sketches, no approximation.
    */
  def processActivityBatch(batch: DataFrame, batchId: Long,
      aggPath: String): Unit =
    ingest(batch, batchId, aggPath, "activity") {
      batch.select(col("user_id"), date_trunc("day", col("ts")).as("day"))
        .distinct()
    }

  /** Streamed maintenance of per-day HLL SKETCHES — the third merge class
    * beside additive partials and set-union pairs: each batch appends one
    * Datasketches-HLL binary per day it touched
    * (`functions.hll_sketch_agg`), and the read unions sketches per day
    * (`hll_union_agg`) before estimating. Rows per batch are O(days
    * touched) — CONSTANT in users — which is the 100 TB tier where even
    * the distinct (user, day) activity set is too big to keep; the price
    * is the sketch's ~2% standard error, which the driver row gates
    * against the exact count (the recall-gate convention).
    */
  def processSketchBatch(batch: DataFrame, batchId: Long,
      aggPath: String): Unit =
    ingest(batch, batchId, aggPath, "sketches") {
      batch.select(date_trunc("day", col("ts")).as("day"), col("user_id"))
        .groupBy(col("day"))
        .agg(hll_sketch_agg(col("user_id")).as("sketch"))
    }

  /** Estimated DAU per day from the accumulated sketches: one union-agg
    * per day over O(batches) sketch rows, then the estimate.
    */
  def dauEstimateFromSketches(spark: SparkSession, aggPath: String): DataFrame =
    spark.read.parquet(s"$aggPath/sketches")
      .groupBy(col("day"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sketch"))).as("dau_est"))

  /** Estimated trailing-7-day WAU per observed day from the SAME
    * accumulated sketches — the mergeability payoff beyond per-day DAU:
    * a 7-day distinct-user count is just seven more sketch unions, so
    * the whole report costs O(observed days × 7) sketch-row merges and
    * stays CONSTANT in users. Shape mirrors the exact wauShape idiom
    * (explode each day's sketch to the 7 report days it supports, one
    * union-agg per report day, report days restricted to observed days)
    * — with `hll_union_agg` replacing `countDistinct` as the merge.
    */
  def wauEstimateFromSketches(spark: SparkSession, aggPath: String): DataFrame = {
    val daily = spark.read.parquet(s"$aggPath/sketches")
      .groupBy(col("day"))
      .agg(hll_union_agg(col("sketch")).as("sketch"))
    val support = daily.select(col("sketch"),
      explode(sequence(col("day"), col("day") + expr("interval 6 days"),
        expr("interval 1 day"))).as("report_day"))
    val observed = daily.select(col("day").as("report_day")).distinct()
    support.join(observed, Seq("report_day"))
      .groupBy(col("report_day"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sketch"))).as("wau_est"))
  }

  /** Estimated week-over-week RETAINED users off the SAME accumulated
    * sketches — the INTERSECTION estimate union-only HLL algebra doesn't
    * give directly: |A ∩ B| = est(A) + est(B) − est(A ∪ B)
    * (inclusion–exclusion), where A and B are consecutive weeks' union
    * sketches (per-day sketches merged per week, then one more pairwise
    * merge for A ∪ B). O(weeks) sketch rows, constant in users — the
    * sliding-retention stat at the scale tier where even the distinct
    * activity set is too big to keep. The error compounds across the
    * THREE estimates (and grows as the intersection shrinks relative to
    * the union — inclusion–exclusion's known weakness), so consumers
    * gate it against the exact count (the recall-gate convention, as
    * `events_retention_sketch` does).
    */
  def retainedEstimateFromSketches(spark: SparkSession,
      aggPath: String): DataFrame = {
    val wk = spark.read.parquet(s"$aggPath/sketches")
      .groupBy(date_trunc("week", col("day")).as("w"))
      .agg(hll_union_agg(col("sketch")).as("sk"))
    val nxt = wk.select((col("w") - expr("interval 7 days")).as("w"),
      col("sk").as("sk_next"))
    wk.join(nxt, Seq("w"))
      // union_est rides along because inclusion–exclusion ERROR scales
      // with the union size, not the retained count — the accuracy gate
      // needs it as an absolute floor (a week pair with near-zero overlap
      // would otherwise demand exactly-0 estimator error)
      .select(col("w"), hll_sketch_estimate(col("sk")).as("e_w"),
        hll_sketch_estimate(col("sk_next")).as("e_n"),
        hll_sketch_estimate(hll_union(col("sk"), col("sk_next"))).as("union_est"))
      .select(col("w"),
        (col("e_w") + col("e_n") - col("union_est")).as("retained_est"),
        col("union_est"))
  }

  /** The accumulated distinct (user_id, day) pairs — the exact input any
    * batch DAU/retention derivation expects.
    *
    * @param userIdType the id type of the EVENTS SOURCE, used only for
    *   the no-batches-landed-yet empty frame: hardcoding it would make
    *   the empty and non-empty reads disagree on schema whenever the
    *   source carries a non-bigint user_id, silently breaking downstream
    *   unions/joins. Pass `events.schema("user_id").dataType`.
    */
  def activityFromAccumulated(spark: SparkSession, aggPath: String,
      userIdType: org.apache.spark.sql.types.DataType =
        org.apache.spark.sql.types.LongType): DataFrame = {
    if (!BatchMarker.exists(spark, s"$aggPath/activity")) {
      import org.apache.spark.sql.types._
      return spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](),
        StructType(Seq(
          StructField("user_id", userIdType),
          StructField("day", TimestampType))))
    }
    spark.read.parquet(s"$aggPath/activity")
      .select(col("user_id"), col("day")).distinct()
  }

  /** Merge the accumulated partials into the serving aggregate — the same
    * (window_start, event_type, n, total_value) shape as the batch
    * `events_hourly`, with `total_value` cast to double only here, after
    * the exact decimal merge.
    */
  def hourlyFromAccumulated(spark: SparkSession, aggPath: String): DataFrame = {
    // a rollup whose every batch was empty has markers but no agg/ dir —
    // that is an EMPTY aggregate, not a read error (the batch twin over
    // zero events returns empty too)
    if (!BatchMarker.exists(spark, s"$aggPath/agg")) {
      import org.apache.spark.sql.types._
      return spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](),
        StructType(Seq(
          StructField("window_start", TimestampType),
          StructField("event_type", StringType),
          StructField("n", LongType),
          StructField("total_value", DoubleType))))
    }
    spark.read.parquet(s"$aggPath/agg")
      .groupBy(col("window_start"), col("event_type"))
      .agg(sum(col("n")).as("n"),
        sum(col("partial_value")).cast("double").as("total_value"))
  }

  /** Streamed SESSIONIZATION — the third state class beside additive
    * partials and set unions: genuinely ORDER-dependent per-key state.
    * A session is open until `gapMinutes` of silence, so a batch
    * boundary can fall MID-session; each batch therefore carries
    * forward, per user, the last event time plus the session/event
    * counters, and appends a DELTA state row (users touched this
    * batch only — never a full-state rewrite) under `batch_id=<b>/`.
    * The serving read takes each user's LATEST state row. Requires
    * batches to arrive in event-time order per user (the crawl-segment
    * / kafka-partition contract the other ingest twins already
    * assume); the shared `events_sessions` oracle is the proof the
    * carried state reproduces the batch window exactly — including
    * sessions that span batch cuts.
    *
    * Scale shape per batch: one window over the BATCH's events (state
    * join is a broadcast-or-shuffle hash join on user_id), output rows
    * bounded by users-touched-per-batch. The latest-state read is one
    * max_by per user over the accumulated deltas — compaction
    * (keep latest per user) bounds read amplification at crawl
    * cadence, same as [[LinkIngest]].
    */
  def processSessionBatch(batch: DataFrame, batchId: Long, aggPath: String,
      gapMinutes: Int): Unit =
    ingest(batch, batchId, aggPath, "sessions") {
      val prior = sessionStateFromAccumulated(batch.sparkSession, aggPath)
        .select(col("user_id"), col("last_us").as("carried_us"),
          col("n_sessions").as("carried_sessions"),
          col("n_events").as("carried_events"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val gapMicros = gapMinutes.toLong * 60L * 1000000L
      batch.select(col("user_id"), col("ts"), col("event_id"))
        .join(prior, Seq("user_id"), "left")
        // predecessor time: previous event in THIS batch, else the
        // carried last event of the open session (null = user's very
        // first event)
        .withColumn("prev_us",
          coalesce(lag(unix_micros(col("ts")), 1).over(w), col("carried_us")))
        .withColumn("brk",
          when(col("prev_us").isNull ||
            unix_micros(col("ts")) - col("prev_us") > gapMicros, 1L)
            .otherwise(0L))
        .groupBy(col("user_id"))
        .agg(max(unix_micros(col("ts"))).as("last_us"),
          (coalesce(max(col("carried_sessions")), lit(0L)) + sum(col("brk")))
            .as("n_sessions"),
          (coalesce(max(col("carried_events")), lit(0L)) + count(lit(1)))
            .as("n_events"))
    }

  /** Each user's latest carried session state over the accumulated
    * deltas: (user_id, last_us, n_sessions, n_events).
    */
  def sessionStateFromAccumulated(spark: SparkSession,
      aggPath: String): DataFrame = {
    if (!BatchMarker.exists(spark, s"$aggPath/sessions")) {
      import org.apache.spark.sql.types._
      return spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](),
        StructType(Seq(
          StructField("user_id", LongType),
          StructField("last_us", LongType),
          StructField("n_sessions", LongType),
          StructField("n_events", LongType))))
    }
    spark.read.parquet(s"$aggPath/sessions")
      .groupBy(col("user_id"))
      .agg(max_by(struct(col("last_us"), col("n_sessions"), col("n_events")),
        col("batch_id")).as("m"))
      .select(col("user_id"), col("m.last_us").as("last_us"),
        col("m.n_sessions").as("n_sessions"), col("m.n_events").as("n_events"))
  }
}
