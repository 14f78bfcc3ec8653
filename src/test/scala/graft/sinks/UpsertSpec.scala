package graft.sinks

import graft.SparkSpec

class UpsertSpec extends SparkSpec {
  import spark.implicits._

  private val base = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
    .toDF("k", "v", "x")
  private val updates = Seq((2L, "B2", 99.0), (4L, "d", 40.0))
    .toDF("k", "v", "x")

  test("copy-on-write merge: updates replace, inserts add, others survive") {
    val m = Upsert.merged(base, updates, "k").collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getDouble(2)))).toMap
    assert(m === Map(1L -> (("a", 10.0)), 2L -> (("B2", 99.0)),
      3L -> (("c", 30.0)), 4L -> (("d", 40.0))))
  }
}
