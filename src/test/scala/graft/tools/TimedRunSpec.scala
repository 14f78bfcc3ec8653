package graft.tools

import graft.SparkSpec

class TimedRunSpec extends SparkSpec {
  test("one run drains both the SQL cache and checkpoint blocks") {
    val r = TimedRun.once(spark) {
      val cached = spark.range(1000).toDF("id").persist()
      cached.count()
      cached.selectExpr("id % 7 AS k").localCheckpoint()
    }
    assert(r.error.isEmpty && r.rows == 1000L && r.sec >= 0.0)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("a failing query reports -1 seconds and its error, still drained") {
    val r = TimedRun.once(spark) {
      spark.range(10).toDF("id").persist().count()
      spark.sql("SELECT no_such_column FROM range(1)")
    }
    assert(r.sec == -1.0 && r.rows == -1L && r.error.isDefined)
    assert(spark.sharedState.cacheManager.isEmpty)
    assert(intercept[Exception](r.orThrow) eq r.error.get)
  }

  test("numbers format with a dot under a comma-decimal default locale") {
    val saved = java.util.Locale.getDefault
    java.util.Locale.setDefault(java.util.Locale.GERMANY)
    try {
      assert(String.format("%.3f", Double.box(1.5)) == "1,500") // the hazard
      assert(TimedRun.num(1.5) == "1.500")
    } finally java.util.Locale.setDefault(saved)
    assert(java.util.Locale.getDefault == saved)
  }

  test("median of odd and even counts") {
    assert(TimedRun.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(TimedRun.median(Seq(4.0, 1.0)) == 2.5)
  }
}
