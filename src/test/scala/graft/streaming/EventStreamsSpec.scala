package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import java.sql.Timestamp

class EventStreamsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("hourlyCounts over a MemoryStream: windowed counts with watermark (complete mode snapshot)") {
    implicit val sql = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, String, Double)]
    val events = input.toDF().toDF("event_id", "ts", "event_type", "value")

    val q = EventStreams.hourlyCounts(events)
      .writeStream.format("memory").queryName("hourly")
      .outputMode(OutputMode.Complete())
      .start()
    try {
      input.addData(
        (1L, ts("2024-01-01 10:05:00"), "click", 1.0),
        (2L, ts("2024-01-01 10:55:00"), "click", 2.0),
        (3L, ts("2024-01-01 11:10:00"), "view", 5.0))
      q.processAllAvailable()
      val rows = spark.table("hourly")
        .select(col("window_start").cast("string"), col("event_type"), col("n"), col("total_value"))
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
      assert(rows === Set(
        ("2024-01-01 10:00:00", "click", 2L, 3.0),
        ("2024-01-01 11:00:00", "view", 1L, 5.0)))
    } finally q.stop()
  }

  test("hourlyCounts is batch/stream unified: same code over a batch frame matches") {
    val batch = Seq(
      (1L, ts("2024-01-01 10:05:00"), "click", 1.0),
      (2L, ts("2024-01-01 10:55:00"), "click", 2.0))
      .toDF("event_id", "ts", "event_type", "value")
    val r = EventStreams.hourlyCounts(batch).collect()
    assert(r.length === 1 && r.head.getAs[Long]("n") === 2L)
  }

  test("viewPurchaseAttribution: stream-stream interval join, out-of-window purchase dropped") {
    implicit val sql = spark.sqlContext
    val views = MemoryStream[(Long, Timestamp, Long, Double)]
    val purchases = MemoryStream[(Long, Timestamp, Long, Double)]
    def df(m: MemoryStream[(Long, Timestamp, Long, Double)]) =
      m.toDF().toDF("event_id", "ts", "user_id", "value")
    val q = EventStreams.viewPurchaseAttribution(df(views), df(purchases), windowMinutes = 30)
      .writeStream.format("memory").queryName("attrib")
      .outputMode(OutputMode.Append())
      .start()
    try {
      views.addData((1L, ts("2024-01-01 10:00:00"), 7L, 0.0))
      purchases.addData(
        (2L, ts("2024-01-01 10:20:00"), 7L, 9.99),  // within 30 min → attributed
        (3L, ts("2024-01-01 11:30:00"), 7L, 5.00))  // 90 min later → dropped
      q.processAllAvailable()
      val rows = spark.table("attrib")
        .select("view_id", "purchase_id").collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(rows.toSeq === Seq((1L, 2L)))
    } finally q.stop()
  }

  test("sessionize: 30-minute gap splits sessions, running seq per user") {
    val events = Seq(
      (1L, ts("2024-01-01 10:00:00"), 7L),
      (2L, ts("2024-01-01 10:10:00"), 7L), // same session (10 min gap)
      (3L, ts("2024-01-01 11:00:00"), 7L), // 50 min gap → new session
      (4L, ts("2024-01-01 10:00:00"), 9L)) // other user: own session 1
      .toDF("event_id", "ts", "user_id")
    val r = EventStreams.sessionize(events, gapMinutes = 30)
      .select("event_id", "session_seq")
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r === Map(1L -> 1L, 2L -> 1L, 3L -> 2L, 4L -> 1L))
  }
}
