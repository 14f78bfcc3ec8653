package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame

/** Structured Streaming over the events stream (SURVEY §2.9 — greenfield:
  * the reference has no streaming; the driver testdata ships `events`).
  *
  * The transformations are defined against a generic DataFrame so the SAME
  * code runs batch (events.parquet → the `events_hourly` registry query in
  * [[graft.queries.EventsQueries]]) and streaming (`readStream` source) —
  * Spark's unified model. Watermarks bound state; at 100 TB/day the
  * windowed aggregation state is O(windows × event types), not O(events).
  */
object EventStreams {

  /** Tumbling-window counts + value sums per event type, 10-minute
    * watermark for late data. OutputMode.Append-compatible once the
    * watermark passes a window's end.
    */
  def hourlyCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n"), col("total_value"))

  /** Sliding-window variant (1h window, configurable slide). */
  def slidingCounts(events: DataFrame, slide: String = "15 minutes"): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour", slide).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("window_start"), col("event_type"), col("n"))

  /** Stream-stream interval join: attribute each purchase to the view
    * events of the same user within the preceding `windowMinutes`. Both
    * sides carry watermarks, so the join state evicts once event time
    * passes the interval — the only stream-stream join shape that is
    * state-bounded on an unbounded stream. Works unchanged on batch
    * frames (the batch twin is oracled as `events_attribution`).
    */
  def viewPurchaseAttribution(
      views: DataFrame, purchases: DataFrame, windowMinutes: Int): DataFrame = {
    val v = views.withWatermark("ts", "10 minutes")
      .select(col("user_id"), col("event_id").as("view_id"), col("ts").as("view_ts"))
    val p = purchases.withWatermark("ts", "10 minutes")
      .select(col("user_id").as("p_user_id"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"), col("value"))
    v.join(p, expr(
      s"""user_id = p_user_id AND
         |purchase_ts >= view_ts AND
         |purchase_ts <= view_ts + INTERVAL $windowMinutes MINUTES""".stripMargin))
      .select(col("user_id"), col("view_id"), col("purchase_id"),
        col("view_ts"), col("purchase_ts"), col("value"))
  }

  /** Batch sessionization: a user's session breaks when the gap to the
    * previous event exceeds `gapMinutes`. One lag window + one running sum
    * over the same (user, time) ordering — a single shuffle on user_id,
    * both windows in one Window exec. Gaps compare in integral
    * MICROSECONDS (`unix_micros`) so the oracle comparison is exact — a
    * seconds-truncated diff disagrees across engines on sub-second
    * fractions.
    */
  def sessionize(events: DataFrame, gapMinutes: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val prev = lag(col("ts"), 1).over(w)
    val gapMicros = gapMinutes.toLong * 60L * 1000000L
    events
      .withColumn("brk",
        when(prev.isNull || unix_micros(col("ts")) - unix_micros(prev) > gapMicros, 1)
          .otherwise(0))
      .withColumn("session_seq", sum(col("brk")).over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)))
      .drop("brk")
  }
}
