package graft.sources

import graft.SparkSpec
import graft.etl.DuplicateUserGuidError
import org.apache.spark.sql.functions._

class UsersCsvSpec extends SparkSpec {
  import spark.implicits._

  private def usersDf(rows: (Long, String, String, String, String)*) =
    rows.toSeq.toDF("GUID", "SYNTH_1_ID", "SYNTH_2_ID", "SYNTH_1_AGE", "SYNTH_2_AGE")
      .withColumn("SYNTH_3_ID", lit(null).cast("string"))
      .withColumn("SYNTH_4_ID", lit(null).cast("string"))
      .withColumn("SYNTH_3_AGE", lit(null).cast("string"))
      .withColumn("SYNTH_4_AGE", lit(null).cast("string"))

  test("explodeGuids: comma-packed multi-ID cells → tall (round, user_id) table (resources.py:424-431)") {
    val tall = UsersCsv.explodeGuids(usersDf(
      (1001L, "1,2,3", "40", "25-34", "35-44"),
      (1002L, "7", "", "45-54", null)))
    val rows = tall.collect().map(r =>
      (r.getInt(0), r.getInt(1), r.getLong(2), Option(r.getString(3)))).toSet
    assert(rows === Set(
      (1, 1, 1001L, Some("25-34")), (1, 2, 1001L, Some("25-34")), (1, 3, 1001L, Some("25-34")),
      (2, 40, 1001L, Some("35-44")),
      (1, 7, 1002L, Some("45-54"))))
  }

  test("duplicate GUIDs fail the load (resources.py:420-421)") {
    val e = intercept[DuplicateUserGuidError] {
      UsersCsv.checkUniqueGuids(usersDf(
        (1001L, "1", "", null, null),
        (1001L, "2", "", null, null)))
    }
    assert(e.guids === Seq(1001L))
  }
}
