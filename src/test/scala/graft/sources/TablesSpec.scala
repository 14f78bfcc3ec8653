package graft.sources

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Locks `Tables.load`'s events timestamp contract: the fixture's `ts`
  * column has shipped as different parquet physical types across fixture
  * generations (TIMESTAMP(NANOS) → LongType under nanosAsLong;
  * TIMESTAMP(MICROS) without tz → TimestampNTZType; with tz →
  * TimestampType), and load must surface ONE stable TimestampType with the
  * same instant regardless of which generation is on disk. The r8 break —
  * an unconditional nanos DIV conversion that failed analysis on a
  * regenerated micros fixture and took down all 19 events queries — is the
  * regression this spec exists to prevent.
  */
class TablesSpec extends SparkSpec {
  import spark.implicits._

  // one instant, expressed in each generation's physical encoding
  private val micros = 1723500000123456L // 2024-08-12T22:00:00.123456Z

  private def loadTs(writeDir: String => Unit): (String, org.apache.spark.sql.DataFrame) = {
    val dir = Files.createTempDirectory("tables_events").toFile
    dir.deleteOnExit()
    writeDir(dir.getAbsolutePath)
    val df = Tables.load(spark, dir.getAbsolutePath, "events")
    (dir.getAbsolutePath, df)
  }

  test("nanos-as-long generation: LongType ts converts via integral DIV") {
    val (_, df) = loadTs { d =>
      Seq((1L, micros * 1000L + 789L)) // nanos, sub-micro digits dropped by DIV
        .toDF("event_id", "ts")
        .write.parquet(s"$d/events.parquet")
    }
    assert(df.schema("ts").dataType === TimestampType)
    val got = df.select(date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS"))
      .as[String].head()
    assert(got === "2024-08-12 22:00:00.123456")
  }

  test("micros-ntz generation: TimestampNTZType ts casts to TimestampType " +
      "preserving the value under the UTC session zone") {
    val (_, df) = loadTs { d =>
      Seq(Tuple2(1L, java.time.LocalDateTime.parse("2024-08-12T22:00:00.123456")))
        .toDF("event_id", "ts")
        .write.parquet(s"$d/events.parquet")
    }
    assert(df.schema("ts").dataType === TimestampType)
    val got = df.select(date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS"))
      .as[String].head()
    assert(got === "2024-08-12 22:00:00.123456")
  }

  test("timestamp-with-tz generation passes through unchanged") {
    val (_, df) = loadTs { d =>
      Seq(Tuple2(1L, java.sql.Timestamp.from(
          java.time.Instant.ofEpochSecond(micros / 1000000L, (micros % 1000000L) * 1000L))))
        .toDF("event_id", "ts")
        .write.parquet(s"$d/events.parquet")
    }
    assert(df.schema("ts").dataType === TimestampType)
    val got = df.select(date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS"))
      .as[String].head()
    assert(got === "2024-08-12 22:00:00.123456")
  }

  test("all three generations load to the SAME instant") {
    // the three dtypes above are the complete set Tables.load dispatches
    // on; equality of the formatted instant across them is the contract
    // the events oracles depend on when the driver regenerates fixtures
    val asNanos = loadTs { d =>
      Seq((1L, micros * 1000L)).toDF("event_id", "ts")
        .write.parquet(s"$d/events.parquet")
    }._2
    val asNtz = loadTs { d =>
      Seq(Tuple2(1L, java.time.LocalDateTime.parse("2024-08-12T22:00:00.123456")))
        .toDF("event_id", "ts")
        .write.parquet(s"$d/events.parquet")
    }._2
    val f = (df: org.apache.spark.sql.DataFrame) =>
      df.select(date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS")).as[String].head()
    assert(f(asNanos) === f(asNtz))
  }

  test("non-events tables are untouched by the ts dispatch") {
    val dir = Files.createTempDirectory("tables_other").toFile
    dir.deleteOnExit()
    Seq((1L, 42L)).toDF("k", "ts")
      .write.parquet(s"${dir.getAbsolutePath}/region.parquet")
    val df = Tables.load(spark, dir.getAbsolutePath, "region")
    assert(df.schema("ts").dataType === LongType)
  }

  /** Jobs started by `body` on this thread, counted with a listener. The
    * body runs under its own job group; a sentinel job in a second group
    * runs after it, and since one listener sees events in order, once the
    * sentinel's start arrives every job of the body has been counted.
    */
  private def jobsStartedBy(body: => Unit): Int = {
    val sc = spark.sparkContext
    val tag = s"tables-memo-${System.nanoTime()}"
    val groups = new java.util.concurrent.LinkedBlockingQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(tag, "body")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(s"$tag-sentinel", "sentinel")
      try spark.range(1).count() finally sc.clearJobGroup()
      var n = 0
      var g = groups.poll(60, java.util.concurrent.TimeUnit.SECONDS)
      while (g != null && g != s"$tag-sentinel") {
        if (g == tag) n += 1
        g = groups.poll(60, java.util.concurrent.TimeUnit.SECONDS)
      }
      assert(g != null, "the sentinel job never reached the listener")
      n
    } finally sc.removeSparkListener(listener)
  }

  test("schema memo: a second load of an unchanged table starts no Spark job") {
    val dir = Files.createTempDirectory("tables_memo").toFile
    dir.deleteOnExit()
    val d = dir.getAbsolutePath
    Seq((1L, "a"), (2L, "b")).toDF("k", "v").write.parquet(s"$d/region.parquet")
    // the first load infers from the footers: that is a job, which also
    // shows the listener counts what it should
    assert(jobsStartedBy(Tables.load(spark, d, "region")) >= 1)
    var again: org.apache.spark.sql.DataFrame = null
    assert(jobsStartedBy { again = Tables.load(spark, d, "region") } === 0)
    assert(again.schema === spark.read.parquet(s"$d/region.parquet").schema)
    assert(again.orderBy("k").as[(Long, String)].collect().toSeq === Seq((1L, "a"), (2L, "b")))
  }

  test("schema memo: rewriting events with ts as TimestampNTZ instead of " +
      "nanos-as-long is inferred again and still surfaces TimestampType") {
    val dir = Files.createTempDirectory("tables_memo_rewrite").toFile
    dir.deleteOnExit()
    val d = dir.getAbsolutePath
    val path = s"$d/events.parquet"
    Seq((1L, micros * 1000L)).toDF("event_id", "ts").write.parquet(path)
    val asNanos = Tables.load(spark, d, "events")
    assert(asNanos.schema("ts").dataType === TimestampType)
    assert(Tables.schemaMemo.get(path)._2("ts").dataType === LongType)
    val nanosKey = Tables.schemaMemo.get(path)._1
    // the memoized LongType reads the nanos column as the inferred one did
    val fmt = (df: org.apache.spark.sql.DataFrame) =>
      df.select(date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS")).as[String].head()
    assert(fmt(Tables.load(spark, d, "events")) === fmt(asNanos))

    Seq(Tuple2(1L, java.time.LocalDateTime.parse("2024-08-12T22:00:00.123456")))
      .toDF("event_id", "ts")
      .write.mode("overwrite").parquet(path)
    val asNtz = Tables.load(spark, d, "events")
    assert(Tables.schemaMemo.get(path)._1 !== nanosKey, "the rewrite kept its listing key")
    assert(Tables.schemaMemo.get(path)._2("ts").dataType === TimestampNTZType)
    assert(asNtz.schema("ts").dataType === TimestampType)
    assert(fmt(asNtz) === "2024-08-12 22:00:00.123456")
  }

  test("schema memo: a missing table fails as spark.read.parquet does and " +
      "memoizes nothing") {
    val dir = Files.createTempDirectory("tables_memo_missing").toFile
    dir.deleteOnExit()
    val d = dir.getAbsolutePath
    val path = s"$d/nation.parquet"
    val direct = intercept[AnalysisException](spark.read.parquet(path))
    val viaLoad = intercept[AnalysisException](Tables.load(spark, d, "nation"))
    assert(viaLoad.getCondition === "PATH_NOT_FOUND")
    assert(viaLoad.getCondition === direct.getCondition)
    assert(viaLoad.getMessage === direct.getMessage)
    assert(!Tables.schemaMemo.containsKey(path))
  }
}
