package graft.sources

import graft.etl.DuplicateUserGuidError
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** users.csv source (S3/J5; /root/reference/synth/resources.py:415-457):
  * one row per GUID with comma-packed per-round user-ID cells
  * (`SYNTH_{n}_ID` like `"12,345"`) and per-round age ranges.
  *
  * The reference loads it into driver dicts of Set[int] and linearly scans
  * them per lookup (resources.py:445-457). Spark-first: explode the ID sets
  * into a tall `(round, user_id, guid, age_range)` table once — the GUID
  * "lookup" becomes an equi-join key, and the linear scan disappears.
  */
object UsersCsv {

  def read(spark: SparkSession, path: String): DataFrame =
    spark.read
      .option("header", "true")
      .schema(graft.etl.Schemas.usersCsv)
      .csv(path)

  /** GUID uniqueness invariant (DuplicateUserGUIDError, resources.py:420-421).
    * A separate eager check, so a caller can run it beside other work
    * ([[graft.etl.Rebuild.run]] does).
    */
  def checkUniqueGuids(users: DataFrame): Unit = {
    val dups = users.groupBy(col("GUID")).agg(count(lit(1)).as("n"))
      .filter(col("n") > 1).select(col("GUID"))
      .collect().map(_.getLong(0)).toSeq
    if (dups.nonEmpty) throw DuplicateUserGuidError(dups)
  }

  /** Explode to the tall lookup table: one row per (round, user_id).
    * Lazy: GUID uniqueness is [[checkUniqueGuids]], which callers run
    * themselves.
    */
  def explodeGuids(users: DataFrame): DataFrame = {
    val perRound = (1 to 4).map { r =>
      users
        .filter(col(s"SYNTH_${r}_ID").isNotNull && col(s"SYNTH_${r}_ID") =!= "")
        .select(
          lit(r).as("round"),
          explode(split(col(s"SYNTH_${r}_ID"), ",").cast("array<int>")).as("user_id"),
          col("GUID").as("guid"),
          when(col(s"SYNTH_${r}_AGE") === "", lit(null))
            .otherwise(col(s"SYNTH_${r}_AGE")).as("age_range"))
    }
    perRound.reduce(_.unionByName(_))
  }
}
