package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, Partitioning, RangePartitioning, SinglePartition}
import org.apache.spark.sql.execution.{CoalesceExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import java.nio.file.Files

/** The two small-input planning rules of [[SmallInputPlanning]]: what they
  * remove, and what they must leave alone. "Rules off" lowers their one
  * threshold (`minPartitionSize`) to one byte, which is the parent's plan:
  * no input is that small.
  */
class SmallInputPlanningSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private val minSize = SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE.key

  private def withConf[T](key: String, value: String)(body: => T): T = {
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  private def rulesOff[T](body: => T): T = withConf(minSize, "1")(body)

  /** A parquet table of `files` files under a fresh temp dir. */
  private def table(files: Int): String = {
    val d = Files.createTempDirectory("small_input").toFile
    d.deleteOnExit()
    val p = s"${d.getAbsolutePath}/t.parquet"
    (1 to 200).map(i => (i % 7, i, s"v$i")).toDF("k", "n", "s")
      .repartition(files).write.parquet(p)
    assert(new java.io.File(p).list().count(_.endsWith(".parquet")) === files)
    p
  }

  private lazy val oneFile = table(1)
  private lazy val twoFiles = table(2)

  /** Rows, final adaptive plan and the number of jobs of one collect. */
  private def run(df: DataFrame): (Seq[Row], SparkPlan, Int) = {
    val sc = spark.sparkContext
    val tag = s"small-input-${System.nanoTime()}"
    val groups = new java.util.concurrent.LinkedBlockingQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(tag, "body")
      val rows = try df.collect().toSeq finally sc.clearJobGroup()
      // a sentinel job in its own group: once its start arrives, every job
      // of the body has reached the listener
      sc.setJobGroup(s"$tag-sentinel", "sentinel")
      try spark.range(1).count() finally sc.clearJobGroup()
      var n = 0
      var g = groups.poll(60, java.util.concurrent.TimeUnit.SECONDS)
      while (g != null && g != s"$tag-sentinel") {
        if (g == tag) n += 1
        g = groups.poll(60, java.util.concurrent.TimeUnit.SECONDS)
      }
      assert(g != null, "the sentinel job never reached the listener")
      (rows, df.queryExecution.executedPlan, n)
    } finally sc.removeSparkListener(listener)
  }

  private def exchanges(p: SparkPlan): Seq[Partitioning] =
    collect(p) { case e: ShuffleExchangeExec => e.outputPartitioning }

  private def coalesces(p: SparkPlan): Int = collect(p) { case c: CoalesceExec => c }.size

  private def isRange(p: Partitioning) = p.isInstanceOf[RangePartitioning]
  private def isHash(p: Partitioning) = p.isInstanceOf[HashPartitioning]

  test("a global sort over one small file plans no exchange and runs as one job") {
    val q = () => spark.read.parquet(oneFile).orderBy($"n".desc)
    val (rows, plan, jobs) = run(q())
    assert(exchanges(plan).isEmpty && coalesces(plan) === 1, plan)
    assert(jobs === 1, plan)
    val (parentRows, parentPlan, parentJobs) = rulesOff(run(q()))
    assert(exchanges(parentPlan).exists(isRange) && coalesces(parentPlan) === 0, parentPlan)
    assert(parentJobs > 1)
    assert(rows === parentRows)
    assert(rows.map(_.getInt(1)) === (200 to 1 by -1))
  }

  test("an aggregate, a window and a sort-merge join over one small file each plan no exchange") {
    def t = spark.read.parquet(oneFile)
    val w = org.apache.spark.sql.expressions.Window.partitionBy("k").orderBy("n")
    // no broadcast: the join must be the one that needs both sides clustered
    withConf(SQLConf.AUTO_BROADCASTJOIN_THRESHOLD.key, "-1") {
      Seq[() => DataFrame](
        () => t.groupBy("k").agg(sum("n").as("n")),
        () => t.withColumn("r", row_number().over(w)),
        () => t.as("a").join(t.as("b"), Seq("k")).groupBy("k").count()
      ).foreach { q =>
        val (rows, plan, _) = run(q())
        assert(exchanges(plan).isEmpty && coalesces(plan) >= 1, plan)
        val (parentRows, parentPlan, _) = rulesOff(run(q()))
        assert(exchanges(parentPlan).exists(isHash), parentPlan)
        assert(rows.map(_.toString).sorted === parentRows.map(_.toString).sorted)
      }
    }
  }

  test("a sort after an aggregation over small input gets a SinglePartition shuffle") {
    // two files: the scan rule does not apply, so the aggregate shuffles,
    // and the range shuffle of the sort above it sees the stage's runtime size
    val q = () => spark.read.parquet(twoFiles).groupBy("k").agg(sum("n").as("n")).orderBy("k")
    val (rows, plan, _) = run(q())
    val ex = exchanges(plan)
    assert(ex.exists(isHash) && ex.contains(SinglePartition) && !ex.exists(isRange), plan)
    assert(coalesces(plan) === 0, plan)
    val (parentRows, parentPlan, _) = rulesOff(run(q()))
    assert(exchanges(parentPlan).exists(isRange) && !exchanges(parentPlan).contains(SinglePartition),
      parentPlan)
    assert(rows === parentRows)
    assert(rows.map(_.getInt(0)) === (0 to 6))
  }

  test("a multi-file scan keeps its exchanges") {
    Seq(false, true).foreach { off =>
      val df = spark.read.parquet(twoFiles).groupBy("k").count()
      val (_, plan, _) = if (off) rulesOff(run(df)) else run(df)
      assert(exchanges(plan).exists(isHash) && coalesces(plan) === 0, s"rules off: $off\n$plan")
    }
  }

  test("a bucketed scan keeps its exchanges") {
    // one bucket file: one small file, so only the bucketed guard keeps the
    // scan rule off (warehouse dir is a static conf — ./spark-warehouse,
    // gitignored — and the table is dropped below)
    spark.sql("DROP TABLE IF EXISTS small_input_bucketed")
    try {
      (1 to 200).map(i => (1, i % 5)).toDF("k", "v").coalesce(1)
        .write.bucketBy(4, "k").saveAsTable("small_input_bucketed")
      assert(spark.table("small_input_bucketed").inputFiles.length === 1)
      Seq(false, true).foreach { off =>
        // the query reads the bucket column, so the scan plans as bucketed
        val df = spark.table("small_input_bucketed").groupBy("v").agg(sum("k").as("k"))
        val (rows, plan, _) = if (off) rulesOff(run(df)) else run(df)
        assert(exchanges(plan).exists(isHash) && coalesces(plan) === 0, s"rules off: $off\n$plan")
        assert(rows.map(_.getLong(1)).sum === 200)
      }
    } finally spark.sql("DROP TABLE IF EXISTS small_input_bucketed")
  }

  test("repartitionByRange keeps its range shuffle") {
    Seq(false, true).foreach { off =>
      val df = spark.read.parquet(oneFile).repartitionByRange(3, $"n")
        .withColumn("p", spark_partition_id())
      val (rows, plan, _) = if (off) rulesOff(run(df)) else run(df)
      assert(exchanges(plan).count(isRange) === 1, s"rules off: $off\n$plan")
      assert(rows.map(_.getInt(3)).distinct.sorted === Seq(0, 1, 2), s"rules off: $off")
    }
  }

  test("the threshold is minPartitionSize: a file of that size is one partition, " +
      "a file one byte over it keeps its exchanges") {
    val size = new java.io.File(oneFile).listFiles().filter(_.getName.endsWith(".parquet"))
      .map(_.length).sum
    def plan(limit: Long): SparkPlan =
      withConf(minSize, limit.toString)(run(spark.read.parquet(oneFile).groupBy("k").count())._2)
    val at = plan(size)
    assert(coalesces(at) === 1 && exchanges(at).isEmpty, at)
    val over = plan(size - 1)
    assert(coalesces(over) === 0 && exchanges(over).exists(isHash), over)
  }

  test("the scan rule is idempotent: a plan it already wrapped comes back unchanged") {
    // a dynamic-pruning subquery's build side passes through it twice
    val planned = spark.read.parquet(oneFile).groupBy("k").count().queryExecution.sparkPlan
    val once = SmallInputPlanning.SingleFileScan(planned)
    assert(coalesces(once) === 1, once)
    assert(SmallInputPlanning.SingleFileScan(once) === once)
  }

  test("monotonically_increasing_id and spark_partition_id over a single-file scan are unchanged") {
    val q = () => spark.read.parquet(oneFile)
      .select($"n", monotonically_increasing_id().as("id"), spark_partition_id().as("p"))
      .orderBy("n")
    val (rows, plan, _) = run(q())
    assert(coalesces(plan) === 1, plan)
    val (parentRows, _, _) = rulesOff(run(q()))
    assert(rows === parentRows)
    assert(rows.map(_.getInt(2)).distinct === Seq(0))
  }
}
