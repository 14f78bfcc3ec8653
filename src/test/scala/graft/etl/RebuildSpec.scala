package graft.etl

import graft.SparkSpec
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Window => WindowNode}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._
import java.sql.Timestamp
import scala.jdk.CollectionConverters._

/** Whole-pipeline end-to-end test: all 16 steps over a 2-round fixture
  * universe (FIXTURES.md shapes), checking cross-step wiring — mappings
  * consumed downstream, geo enrichment applied, dump emitted.
  */
class RebuildSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private def projectsRound(rows: Seq[(Int, Int, String, String, String)]): DataFrame =
    rows.toDF("UserProject_ID", "User_ID", "UserProject_Title", "Application_State", "Call_Submitted")
      .withColumn("length_of_visit", lit(5))
      .withColumn("start_date", lit(null).cast("timestamp"))
      .withColumn("finish_date", lit(null).cast("timestamp"))
      .withColumn("TAF_ID", lit(null).cast("int"))
      .withColumn("Home_Facilities", lit(1))
      .withColumn("Acceptance", lit("yes"))
      .withColumn("UserProject_Summary", lit(null).cast("string"))
      .withColumn("New_User", lit(null).cast("int"))
      .withColumn("UserProject_Facility_Reasons", lit(null).cast("string"))
      .withColumn("Submission_Date", lit("Mon Jan 02 15:04:05 GMT 2006"))
      .withColumn("Support_Final", lit(1))
      .withColumn("Project_Discipline", lit(10))
      .withColumn("Project_Specific_Discipline", lit(1))
      .withColumn("Previous_Application", lit(0))
      .withColumn("Training_Requirement", lit(null).cast("string"))
      .withColumn("Supporter_Institution", lit(null).cast("string"))
      .withColumn("Administration_State", lit(null).cast("string"))
      .withColumn("Group_leader", lit(0))
      .withColumn("Group_Members", lit(null).cast("string"))
      .withColumn("UserProject_Objectives", lit(null).cast("string"))
      .withColumn("UserProject_Achievements", lit(null).cast("string"))
      .withColumn("UserProject_Background", lit(null).cast("string"))
      .withColumn("UserProject_Reasons", lit(null).cast("string"))
      .withColumn("UserProject_Expectations", lit(null).cast("string"))
      .withColumn("UserProject_Outputs", lit(null).cast("string"))
      .withColumn("Group_Leader_Institution", lit(null).cast("string"))
      .withColumn("Visit_Funded_Previously", lit(null).cast("int"))

  private def usersRound(rows: Seq[(Int, String, String, String)]): DataFrame =
    rows.toDF("User_ID", "Gender", "Nationality_Country_code", "Home_Institution_Town")
      .withColumn("Researcher_status", lit("PhD"))
      .withColumn("Discipline1", lit(10))
      .withColumn("Discipline2", lit(null).cast("int"))
      .withColumn("Discipline3", lit(null).cast("int"))
      .withColumn("Home_Institution_Type", lit(null).cast("string"))
      .withColumn("Home_Institution_Dept", lit(null).cast("string"))
      .withColumn("Home_Institution_Name", lit("Uni X"))
      .withColumn("Home_Institution_Country_code", lit(null).cast("string"))
      .withColumn("Home_Institution_Postcode", lit(null).cast("string"))
      .withColumn("Number_of_visits", lit(1))
      .withColumn("Duration_of_stays", lit(7))
      .withColumn("Nationality_OtherText", lit(null).cast("string"))
      .withColumn("Remote_user", lit(null).cast("string"))
      .withColumn("Travel_and_Subsistence_reimbursed", lit(null).cast("string"))
      .withColumn("jobTitle", lit(null).cast("string"))

  private def scoresRound(rows: Seq[(Int, Option[Double])]): DataFrame =
    rows.toDF("UserProject_ID", "Methodology_Score")
      .withColumn("Research_Excellence_Score", lit(null).cast("double"))
      .withColumn("Support_Stmt_Score", lit(null).cast("double"))
      .withColumn("Justification_Score", lit(null).cast("double"))
      .withColumn("Expected_Gains_Score", lit(null).cast("double"))
      .withColumn("Scientific_Merit_Score", lit(null).cast("double"))
      .withColumn("Societal_Challenge_Score", lit(null).cast("double"))

  private def outputsRound(rows: Seq[(Int, String)]): DataFrame =
    rows.toDF("Output_ID", "Title")
      .withColumn("User_ID", lit(1))
      .withColumn("OutputType_ID", lit(1))
      .withColumn("Authors", lit("A. Author"))
      .withColumn("Year", lit("2010"))
      .withColumn("Publisher", lit(null).cast("string"))
      .withColumn("URL", lit(null).cast("string"))
      .withColumn("Volume", lit(null).cast("string"))
      .withColumn("Pages", lit(null).cast("string"))
      .withColumn("Conference", lit(null).cast("string"))
      .withColumn("Degree", lit(null).cast("string"))
      .withColumn("PublicationStatus_ID", lit(1))

  /** The 2-round fixture universe. */
  private def fixtureInputs: Rebuild.Inputs =
    Rebuild.Inputs(
      calls = Seq(
        Seq((1, 1, ts("2004-01-01 00:00:00"), ts("2004-04-01 00:00:00")),
            (2, 2, ts("2004-06-01 00:00:00"), ts("2004-09-01 00:00:00")))
          .toDF("callID", "call", "dateOpen", "dateClosed"),
        Seq((9, 1, ts("2009-01-01 00:00:00"), ts("2009-04-01 00:00:00")))
          .toDF("callID", "call", "dateOpen", "dateClosed")),
      disciplines4 = Seq((10, "Botany")).toDF("DisciplineID", "DisciplineName"),
      specificDisciplines = Seq(
        Seq((1, "Ferns", 10)).toDF("SpecificDisciplineID", "SpecificDisciplineName", "DisciplineID"),
        Seq((1, "Ferns", 10), (2, "Mosses", 10))
          .toDF("SpecificDisciplineID", "SpecificDisciplineName", "DisciplineID")),
      outputs = Seq(outputsRound(Seq((1, "Paper one"))), outputsRound(Seq((1, "Paper two")))),
      outputTypes4 = Seq((1, "Paper")).toDF("OutputType_ID", "OutputType"),
      publicationStatuses4 = Seq((1, "Published")).toDF("PublicationStatus_ID", "PublicationStatus"),
      userProjects = Seq(
        projectsRound(Seq((100, 1, "P1", "submitted", "2"), (101, 1, "P-edit", "edit", "1"))),
        projectsRound(Seq((200, 2, "P2", "submitted", "1")))),
      users = Seq(
        usersRound(Seq((1, "F", "GB", "Paris, France"))),
        usersRound(Seq((2, "M", null, "Berlin")))),
      applicationScores = Seq(
        scoresRound(Seq((100, Some(15.0)), (100, Some(0.0)))),
        scoresRound(Seq((200, Some(24.0))))),
      countryIso = Seq(("GB", "United Kingdom"), ("FR", "France"), ("DE", "Germany"))
        .toDF("Country_Code", "Country_Name"),
      usersCsv = Seq(
        (501L, "1", null: String, "25-34", null: String),
        (502L, null: String, "2", null: String, "35-44"))
        .toDF("GUID", "SYNTH_1_ID", "SYNTH_2_ID", "SYNTH_1_AGE", "SYNTH_2_AGE")
        .withColumn("SYNTH_3_ID", lit(null).cast("string"))
        .withColumn("SYNTH_4_ID", lit(null).cast("string"))
        .withColumn("SYNTH_3_AGE", lit(null).cast("string"))
        .withColumn("SYNTH_4_AGE", lit(null).cast("string")),
      xlsxCategory = Seq((1, "Analysis", "Lab")).toDF("Category_ID", "CategoryName", "HigherCategoryName"),
      xlsxInstitution = Seq((1, "NHM", "Natural History Museum", "GB"))
        .toDF("Institution_ID", "InstitutionAcronym", "InstitutionName", "CountryCode"),
      xlsxInstallationFacility = Seq((1, "LAB1", "Wet lab", 1, 1))
        .toDF("InstallationFacility_ID", "InstallationCode", "InstallationFacilityDescription",
          "Category_ID", "Institution_ID"),
      xlsxAccessRequest = Seq((1, 100, 1, 1, 5, "microscope"), (2, 100, 1, 1, 3, "scanner"))
        .toDF("AccessRequest_ID", "UserProject_ID", "SynthRound",
          "InstallationFacility_ID", "DaysRequested", "RequestDetail"),
      institutionAliases = Map("Uni X" -> "University X"),
      unmatchedTowns = Map.empty,
      geoCities = Seq(
        (1, "Paris", Seq.empty[String], "FR", 2000000L),
        (2, "Berlin", Seq.empty[String], "DE", 3600000L))
        .toDF("geonameid", "name", "alternatenames", "countrycode", "population"),
      outputDois = Seq.empty[(Int, Int, String)].toDF("round", "original_id", "doi"),
      doiMetadata = Seq.empty[(String, String)].toDF("doi", "publisher")
        .withColumn("authors", lit(null).cast("array<struct<given:string,family:string>>"))
        .withColumn("titles", lit(null).cast("array<string>"))
        .withColumn("created", lit(null).cast("string"))
        .withColumn("url", lit(null).cast("string"))
        .withColumn("volume", lit(null).cast("string"))
        .withColumn("pages", lit(null).cast("string")))

  test("full rebuild: 13 analysis tables, cross-step mappings, geo enrichment, dump") {
    val tables = Rebuild.run(fixtureInputs)
    assert(tables.keySet.size === 13)

    assert(tables("round").count() === 2)
    assert(tables("call").count() === 3)
    assert(tables("country").count() === 3)
    assert(tables("specific_discipline").count() === 2) // Ferns deduped across rounds
    assert(tables("output").count() === 2)

    val vps = tables("visitor_project").collect()
    assert(vps.length === 2) // edit-state dropped
    val p1 = vps.find(_.getAs[Int]("original_project_id") === 100).get
    assert(p1.getAs[Long]("user_guid") === 501L)
    assert(p1.getAs[Int]("call_submitted") === 2) // ordinal 2 in round 1
    assert(p1.getAs[String]("home_institution_name") === "University X")
    // geo: GB user's town "Paris, France" — country was NULL → delimiter
    // fallback resolves FR
    assert(Option(p1.get(p1.fieldIndex("home_institution_country"))).isDefined)
    val frId = tables("country").filter(col("code") === "FR").head().getAs[Int]("id")
    assert(p1.getAs[Int]("home_institution_country") === frId)

    val view = tables("vw_project_access_requests").head()
    assert(view.getAs[Long]("sub_installation_requests") === 2)
    assert(view.getAs[Long]("project_days_requested") === 8)
    assert(view.getAs[Boolean]("multi_access_flag") === true)

    val scores = tables("evaluation_score")
    assert(scores.count() === 14) // 2 projects × 7
    val meth1 = scores.filter(col("name") === "Methodology" &&
      col("visitor_project_id") === p1.getAs[Int]("id")).head()
    assert(meth1.getAs[Long]("count") === 1) // zero-drop
    assert(meth1.getAs[Double]("mean") === 0.5)

    val dumpDir = java.nio.file.Files.createTempDirectory("dump").toString
    Rebuild.dumpAll(Map("round" -> tables("round")), dumpDir)
    val ddl = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$dumpDir/round.ddl.sql"))
    assert(ddl.contains("CREATE TABLE `round`"))
    val stmts = spark.read.text(s"$dumpDir/round").collect().map(_.getString(0))
    assert(stmts.exists(_.startsWith("INSERT INTO round VALUES (1, 'Synthesys 1'")))
  }

  test("writeAllBucketed: star tables land bucketed, their view join plans with no shuffle") {
    val dir = java.nio.file.Files.createTempDirectory("rebuild_b").toString
    val vp = (1L to 100L).map(i => (i, s"p$i")).toDF("id", "title")
    val ar = (1L to 300L).map(i => (i, i % 100 + 1)).toDF("id", "visitor_project_id")
    Rebuild.writeAllBucketed(
      Map("visitor_project" -> vp, "access_request" -> ar, "round" -> vp.limit(1)),
      dir, nBuckets = 4, prefix = "spec_")
    // non-star table → plain parquet
    assert(new java.io.File(s"$dir/round").exists())
    val joined = spark.table("spec_visitor_project").as("vp")
      .join(spark.table("spec_access_request").as("ar"),
        col("vp.id") === col("ar.visitor_project_id"))
    assert(joined.count() === 300)
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed star join should not shuffle:\n$plan")
    spark.sql("DROP TABLE IF EXISTS spec_visitor_project")
    spark.sql("DROP TABLE IF EXISTS spec_access_request")
  }

  test("writeAll partitions round-carrying tables by round") {
    val dir = java.nio.file.Files.createTempDirectory("rebuild").toString
    val df = Seq((1, 1, "x"), (2, 2, "y")).toDF("id", "round", "v")
    Rebuild.writeAll(Map("t" -> df), dir)
    assert(new java.io.File(s"$dir/t/round=1").exists())
    val back = spark.read.parquet(s"$dir/t")
    assert(back.count() === 2)
  }

  test("rebuild materializes the visitor-project frame once: its consumers plan over it, not the sources") {
    val dir = java.nio.file.Files.createTempDirectory("rebuild_src").toString
    // parquet-backed sources, so a re-read shows up as a scan of their paths
    def viaParquet(name: String, rounds: Seq[DataFrame]): Seq[DataFrame] =
      rounds.zipWithIndex.map { case (df, i) =>
        df.write.parquet(s"$dir/$name$i")
        spark.read.parquet(s"$dir/$name$i")
      }
    val in = fixtureInputs
    val tables = Rebuild.run(in.copy(
      userProjects = viaParquet("userProjects", in.userProjects),
      users = viaParquet("users", in.users)))
    Seq("visitor_project", "access_request", "vw_project_access_requests", "evaluation_score")
      .foreach { t =>
        val plan = tables(t).queryExecution.optimizedPlan
        val scanned = plan.collect { case r: LogicalRelation => r.relation }
          .collect { case h: HadoopFsRelation => h.location.rootPaths.map(_.toString) }.flatten
        assert(!scanned.exists(_.contains(dir)), s"$t re-reads the project sources:\n$plan")
        // the project id window (row_number over round, original_project_id);
        // the country ids' window and evaluation_score's mode window stay
        assert(plan.collectFirst {
          case w: WindowNode if w.orderSpec.exists(_.references.exists(_.name == "original_project_id")) => w
        }.isEmpty, s"$t re-runs the project id window:\n$plan")
        assert(plan.collectFirst { case r: LogicalRDD => r }.isDefined,
          s"$t does not read the materialized frame:\n$plan")
      }
  }

  test("writeAll waits for every table, then rethrows the first failure naming its table") {
    val dir = java.nio.file.Files.createTempDirectory("rebuild_fail").toString
    val boom = udf { (x: Long) =>
      if (x >= 0) throw new IllegalStateException("planted write failure")
      x
    }
    val slow = udf { (x: Long) => Thread.sleep(1000); x }
    val bad = spark.range(1).select(boom(col("id")).as("id"))
    val tables = Map(
      "bad" -> bad,
      "slow" -> spark.range(1).select(slow(col("id")).as("id")),
      "plain" -> Seq((1, 1, "x")).toDF("id", "round", "v"))
    val e = intercept[Exception](Rebuild.writeAll(tables, dir))
    // the exception the write itself raises, not the pool's wrapper
    val direct = intercept[Exception](bad.write.parquet(s"$dir/direct"))
    assert(e.getClass === direct.getClass)
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(c => c.isInstanceOf[IllegalStateException] && c.getMessage == "planted write failure"))
    assert(e.getSuppressed.exists(_.getMessage.contains("'bad'")), e.getSuppressed.toSeq)
    Seq("slow", "plain").foreach { t =>
      assert(new java.io.File(s"$dir/$t/_SUCCESS").exists(), s"$t was not written before the throw")
    }
  }

  test("writeAll runs every write job under the caller's job group") {
    val dir = java.nio.file.Files.createTempDirectory("rebuild_group").toString
    val sc = spark.sparkContext
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        groups.add(String.valueOf(js.properties.getProperty("spark.jobGroup.id")))
    }
    // several calls under different groups: a writer thread reused across
    // calls would carry an earlier caller's group
    val callers = Seq("writes-a", "writes-b", "writes-c")
    sc.addSparkListener(listener)
    try {
      callers.foreach { g =>
        sc.setJobGroup(g, "writeAll")
        Rebuild.writeAll((1 to 8).map(i => s"$g-t$i" -> Seq((i, i)).toDF("id", "round")).toMap, dir)
      }
      // the bus delivers in order: once the marker job is seen, every write job was
      sc.setJobGroup("marker", "marker")
      spark.range(1).count()
      eventually(timeout(30.seconds)) { assert(groups.contains("marker")) }
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    val writes = groups.asScala.toSeq.takeWhile(_ != "marker")
    callers.foreach(g => assert(writes.count(_ == g) >= 8, writes))
    assert(writes === writes.sortBy(callers.indexOf(_)), writes)
  }
}
