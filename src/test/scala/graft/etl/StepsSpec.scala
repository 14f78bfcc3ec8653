package graft.etl

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, Row}
import java.sql.Timestamp

/** Golden-fixture end-to-end tests for the 16-step pipeline (SURVEY §5;
  * fixture shapes from FIXTURES.md — the reference ships no tests).
  */
class StepsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  // -- fixtures: 2 rounds of NHM_Call --
  private def callsFixture: DataFrame = Steps.unionRounds(Seq(
    Seq((1, 2, ts("2004-06-01 00:00:00"), ts("2004-09-01 00:00:00")),
        (2, 1, ts("2004-01-01 00:00:00"), ts("2004-04-01 00:00:00")))
      .toDF("callID", "call", "dateOpen", "dateClosed"),
    Seq((7, 1, ts("2009-01-01 00:00:00"), ts("2009-04-01 00:00:00")))
      .toDF("callID", "call", "dateOpen", "dateClosed")))

  test("fillRound: per-round min(dateOpen)/max(dateClosed), id = round (etl.py:181-202)") {
    val r = Steps.fillRound(callsFixture).orderBy("id").collect()
    assert(r.length === 2)
    assert(r(0) === Row(1, "Synthesys 1", ts("2004-01-01 00:00:00"), ts("2004-09-01 00:00:00")))
    assert(r(1) === Row(2, "Synthesys 2", ts("2009-01-01 00:00:00"), ts("2009-04-01 00:00:00")))
  }

  test("fillCall: sequential ids in (round, call) order + in-round ordinal + mapping (etl.py:205-224)") {
    val (table, mapping) = Steps.fillCall(callsFixture)
    val t = table.orderBy("id").collect()
    // round 1 call 1 (callID=2) gets id 1; round 1 call 2 (callID=1) id 2; round 2 id 3
    assert(t.map(r => (r.getInt(0), r.getInt(1), r.getInt(2))).toSeq ===
      Seq((1, 1, 1), (2, 1, 2), (3, 2, 1)))
    val m = mapping.orderBy("new_id").collect()
    assert(m.map(r => (r.getInt(0), r.getInt(1), r.getInt(2))).toSeq ===
      Seq((1, 2, 1), (1, 1, 2), (2, 7, 3)))
  }

  test("fillSpecificDiscipline: first-seen-wins scanning rounds 4→1; shared-name maps to one id (etl.py:263-321)") {
    val spec = Steps.unionRounds(Seq(
      Seq((1, "Botany", 10), (2, "Entomology", 20)).toDF("SpecificDisciplineID", "SpecificDisciplineName", "DisciplineID"),
      Seq((5, "Botany", 10), (6, "Mycology", 30)).toDF("SpecificDisciplineID", "SpecificDisciplineName", "DisciplineID")))
    val (table, mapping) = Steps.fillSpecificDiscipline(spec)
    val t = table.orderBy("id").collect()
    // scan order: round 2 first (reversed): (5,Botany), (6,Mycology), then round 1: (2,Entomology)
    assert(t.map(r => (r.getInt(0), r.getString(1))).toSeq ===
      Seq((1, "Botany"), (2, "Mycology"), (3, "Entomology")))
    // round-1 Botany (id 1) maps to the SAME new id as round-2 Botany
    val m = mapping.collect().map(r => ((r.getInt(0), r.getInt(1)), r.getInt(2))).toMap
    assert(m((1, 1)) === m((2, 5)))
  }

  test("fillSpecificDiscipline: conflicting parent disciplines fail the job (errors.py:3-19)") {
    val spec = Steps.unionRounds(Seq(
      Seq((1, "Botany", 10)).toDF("SpecificDisciplineID", "SpecificDisciplineName", "DisciplineID"),
      Seq((5, "Botany", 99)).toDF("SpecificDisciplineID", "SpecificDisciplineName", "DisciplineID")))
    val e = intercept[SpecificDisciplineParentMismatch](Steps.fillSpecificDiscipline(spec))
    assert(e.names === Seq("Botany"))
  }

  private def outputsFixture: DataFrame = Steps.unionRounds(Seq(
    Seq[(Int, Int, Int, Option[String], Option[String], String, Option[Int])](
        (11, 100, 1, Some("J. Smith;  K. Jones"), Some("2004"), "A <i>title</i>\r\nwith markup", Some(2)),
        (12, 101, 2, None, None, "plain title", None))
      .toDF("Output_ID", "User_ID", "OutputType_ID", "Authors", "Year", "Title", "PublicationStatus_ID"),
    Seq[(Int, Int, Int, Option[String], Option[String], String, Option[Int])](
        (11, 200, 9, Some(""), Some("2009"), "", Some(1)))
      .toDF("Output_ID", "User_ID", "OutputType_ID", "Authors", "Year", "Title", "PublicationStatus_ID")))
    .withColumn("Publisher", lit(null).cast("string"))
    .withColumn("URL", lit(null).cast("string"))
    .withColumn("Volume", lit(null).cast("string"))
    .withColumn("Pages", lit(null).cast("string"))
    .withColumn("Conference", lit(null).cast("string"))
    .withColumn("Degree", lit(null).cast("string"))

  test("fillOutput: denorm joins with dict.get(None) semantics, year int cast, ids over (round, pk) (etl.py:324-372)") {
    val types = Seq((1, "Paper"), (2, "Talk")).toDF("OutputType_ID", "OutputType")
    val statuses = Seq((1, "Published"), (2, "In prep")).toDF("PublicationStatus_ID", "PublicationStatus")
    val (table, mapping) = Steps.fillOutput(outputsFixture, types, statuses)
    val t = table.orderBy("id").collect()
    assert(t.length === 3)
    val first = table.filter(col("id") === 1).head()
    assert(first.getAs[String]("output_type") === "Paper")
    assert(first.getAs[String]("publication_status") === "In prep")
    assert(first.getAs[Int]("year") === 2004)
    // round-2 output has OutputType_ID=9 → unmapped → null (dict.get default)
    val third = table.filter(col("id") === 3).head()
    assert(third.getAs[String]("output_type") === null)
    assert(mapping.filter(col("round") === 2 && col("original_id") === 11)
      .head().getAs[Int]("new_id") === 3)
  }

  test("cleanOutputs: string cleaning preserves '' (filter semantics), DOI metadata enrichment F7-F10 (etl.py:375-432)") {
    val types = Seq((1, "Paper")).toDF("OutputType_ID", "OutputType")
    val statuses = Seq((1, "Published")).toDF("PublicationStatus_ID", "PublicationStatus")
    val (table, mapping) = Steps.fillOutput(outputsFixture, types, statuses)
    val dois = Seq((1, 11, "10.1234/X")).toDF("round", "original_id", "doi")
    val meta = Seq(
      ("10.1234/X",
        Seq(("Ada", "Lovelace"), (null, "Nobody")),
        Seq("Enriched  title"), "2005-06-01T00:00:00Z", "Pub Inc", "https://x", "12", null: String))
      .toDF("doi", "authors_raw", "titles", "created", "publisher", "url", "volume", "pages")
      .withColumn("authors", transform(col("authors_raw"),
        a => struct(a.getField("_1").as("given"), a.getField("_2").as("family"))))
      .drop("authors_raw")
    val cleaned = Steps.cleanOutputs(table, mapping, dois, meta)

    val enriched = cleaned.filter(col("id") === 1).head()
    assert(enriched.getAs[String]("authors") === "Lovelace Ada") // both-parts filter (etl.py:395-397)
    assert(enriched.getAs[String]("title") === "Enriched title") // cleaned metadata title
    assert(enriched.getAs[Int]("year") === 2005)                 // created[:4]
    assert(enriched.getAs[String]("publisher") === "Pub Inc")
    assert(enriched.getAs[String]("volume") === "12")            // overwritten (present)
    assert(enriched.getAs[String]("pages") === null)             // absent → keep (null fixture)

    val untouched = cleaned.filter(col("id") === 2).head()
    assert(untouched.getAs[String]("title") === "plain title")
    // '' authors stay '' — the reference's != '' filter skips them
    val empty = cleaned.filter(col("id") === 3).head()
    assert(empty.getAs[String]("authors") === "")
  }

  test("projectAccessRequestsView: countDistinct + sum + multi flag (etl.py:661-669)") {
    val ar = Seq((1, 10, 5), (2, 10, 3), (3, 20, 7))
      .toDF("id", "visitor_project_id", "days_requested")
    val vp = Seq((10, "A"), (20, "B")).toDF("id", "title")
    val v = Steps.projectAccessRequestsView(ar, vp).orderBy("visitor_project_id").collect()
    assert(v(0) === Row(10, 2L, 8L, true))
    assert(v(1) === Row(20, 1L, 7L, false))
  }

  test("aggregateEvaluationScores: zero-drop quirk, min_size semantics, per-round totals, all-7 scaffold (utils.py:156-199, etl.py:772-821)") {
    // one project in round 1 (call id 1, source id 77), one in round 4
    // (call id 4, source id 88)
    val vp = Seq((100, 1, 1, 77), (200, 4, 4, 88))
      .toDF("id", "call_submitted", "round", "original_project_id")
    val scores = Steps.unionRounds(Seq(
      // round 1, project 77: methodology 15, 15, 0 (dropped), null (dropped)
      Seq[(Int, Option[Double], Option[Double])](
          (77, Some(15.0), Some(6.0)), (77, Some(15.0), Some(0.0)), (77, Some(0.0), None))
        .toDF("UserProject_ID", "Methodology_Score", "Scientific_Merit_Score"),
      Seq.empty[(Int, Option[Double], Option[Double])]
        .toDF("UserProject_ID", "Methodology_Score", "Scientific_Merit_Score"),
      Seq.empty[(Int, Option[Double], Option[Double])]
        .toDF("UserProject_ID", "Methodology_Score", "Scientific_Merit_Score"),
      // round 4, project 88: scientific merit 5 → /10 (round-4 total)
      Seq[(Int, Option[Double], Option[Double])]((88, None, Some(5.0)))
        .toDF("UserProject_ID", "Methodology_Score", "Scientific_Merit_Score")))
      .withColumn("Research_Excellence_Score", lit(null).cast("double"))
      .withColumn("Support_Stmt_Score", lit(null).cast("double"))
      .withColumn("Justification_Score", lit(null).cast("double"))
      .withColumn("Expected_Gains_Score", lit(null).cast("double"))
      .withColumn("Societal_Challenge_Score", lit(null).cast("double"))

    val out = Steps.aggregateEvaluationScores(scores, vp)
    assert(out.count() === 14) // 2 projects × 7 score types, always

    val meth = out.filter(col("visitor_project_id") === 100 && col("name") === "Methodology").head()
    assert(meth.getAs[Long]("count") === 2)          // 0-score dropped (utils.py:181)
    assert(meth.getAs[Double]("mean") === 0.5)       // 15/30
    assert(meth.getAs[Double]("sum") === 1.0)
    assert(meth.getAs[Double]("mode") === 0.5)
    assert(meth.getAs[Double]("std_dev") === 0.0)    // two equal points

    val sci1 = out.filter(col("visitor_project_id") === 100 && col("name") === "Scientific Merit").head()
    assert(sci1.getAs[Long]("count") === 1)          // 6.0 kept; 0 dropped
    assert(sci1.getAs[Double]("mean") === 0.4)       // 6/15 (round-1 total 15)
    assert(sci1.getAs[Any]("std_dev") === null)      // min_size 2

    val sci4 = out.filter(col("visitor_project_id") === 200 && col("name") === "Scientific Merit").head()
    assert(sci4.getAs[Double]("mean") === 0.5)       // 5/10 (round-4 total 10)

    val soc = out.filter(col("visitor_project_id") === 100 && col("name") === "Societal Challenge").head()
    assert(soc.getAs[Long]("count") === 0)           // scaffolded row, no data
    assert(soc.getAs[Any]("mean") === null)
  }
}
