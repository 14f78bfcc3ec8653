package perfbench

import java.nio.file.{Files, Path}

import graft.etl.{Rebuild, Schemas}
import graft.sources.UsersCsv
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.collection.mutable

/** The `rebuild` workload: one batch operator running `synth rebuild` over
  * generated Synthesys sources, then an analyst reading the written tables
  * back from a notebook. Closed loop, one client.
  */
object RebuildBench extends AdaptiveSparkPlanHelper {

  val Rounds = 4

  /** What the generator (`perfbench/synth_gen.py`) says the rebuilt tables
    * must hold, and how many source rows a rebuild reads.
    */
  final case class Expected(counts: Map[String, Long], nullAccessRequestProjects: Long,
      sourceRows: Long)

  def loadExpected(path: String): Expected = {
    val j = new com.fasterxml.jackson.databind.ObjectMapper().readTree(new java.io.File(path))
    val c = j.get("counts")
    Expected(tables.map(t => t -> c.get(t).asLong()).toMap,
      j.get("null_access_request_projects").asLong(), j.get("source_rows").asLong())
  }

  val tables: Seq[String] = Seq("round", "call", "country", "discipline",
    "specific_discipline", "output", "visitor_project", "category", "institution",
    "installation_facility", "access_request", "vw_project_access_requests",
    "evaluation_score")

  /** `Rebuild.Inputs` assembled exactly as `Rebuild.main` reads them. The S4
    * workbook is read from `xlsxRes`: `Rebuild.resourceSheet` caches a parse
    * per path, so each rebuild gets its own copy and pays the parse, as a
    * `synth rebuild` call in a fresh JVM does.
    */
  def inputs(spark: SparkSession, inDir: String, xlsxRes: String,
      trace: Tracer, op: Int): Rebuild.Inputs = {
    val rounds = new java.io.File(inDir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("round"))
      .sortBy(_.getName.stripPrefix("round").toInt).toSeq
    def perRound(t: String): Seq[DataFrame] = rounds.map(d => spark.read.parquet(s"$d/$t.parquet"))
    def lastRound(t: String): DataFrame = spark.read.parquet(s"${rounds.last}/$t.parquet")
    val res = s"$inDir/resources"
    def jsonMap(name: String): Map[String, String] =
      spark.read.option("multiLine", "true").json(s"$res/$name.json")
        .collect().headOption.map { row =>
          row.schema.fieldNames.map(n => n -> Option(row.getAs[Any](n)).map(_.toString).orNull).toMap
        }.getOrElse(Map.empty)
    val sheets = trace.span("sources.xlsx", op) {
      Seq(("Category", "category", Schemas.xlsxCategory),
        ("Institution", "institution", Schemas.xlsxInstitution),
        ("InstallationFacility", "installation_facility", Schemas.xlsxInstallationFacility),
        ("AccessRequest", "access_request", Schemas.xlsxAccessRequest))
        .map { case (s, f, schema) => s -> Rebuild.resourceSheet(spark, xlsxRes, s, f, schema) }.toMap
    }
    Rebuild.Inputs(
      calls = perRound("NHM_Call"),
      disciplines4 = lastRound("NHM_Disciplines"),
      specificDisciplines = perRound("NHM_Specific_Disciplines"),
      outputs = perRound("NHM_Outputs"),
      outputTypes4 = lastRound("NHM_OutputTypes"),
      publicationStatuses4 = lastRound("NHM_PublicationStatus"),
      userProjects = perRound("T_List_of_UserProjects"),
      users = perRound("T_List_of_Users"),
      applicationScores = perRound("NHM_Application_Scores"),
      countryIso = spark.read.parquet(s"$res/Country_Iso_Codes.parquet"),
      usersCsv = UsersCsv.read(spark, s"$res/users.csv"),
      xlsxCategory = sheets("Category"),
      xlsxInstitution = sheets("Institution"),
      xlsxInstallationFacility = sheets("InstallationFacility"),
      xlsxAccessRequest = sheets("AccessRequest"),
      institutionAliases = jsonMap("master_clean"),
      unmatchedTowns = jsonMap("unmatched_home_institutions"),
      geoCities = spark.read.parquet(s"$res/geocities.parquet"),
      outputDois = spark.read.parquet(s"$res/output_dois.parquet"),
      doiMetadata = spark.read.parquet(s"$res/doi_metadata.parquet"))
  }

  /** One `synth rebuild`: read sources, run the 16 steps, write every table.
    * Traced, each table is written on its own so it gets its own span;
    * untraced, the whole map goes through `Rebuild.writeAll` in one call.
    */
  def rebuild(spark: SparkSession, inDir: String, xlsxRes: String, outDir: String,
      trace: Tracer, op: Int): Unit = trace.span("rebuild", op) {
    val in = trace.span("sources.read", op)(inputs(spark, inDir, xlsxRes, trace, op))
    val out = trace.span("etl.run", op)(Rebuild.run(in))
    if (trace.on)
      tables.foreach(t => trace.span(s"etl.$t.write", op)(Rebuild.writeAll(Map(t -> out(t)), outDir)))
    else Rebuild.writeAll(out, outDir)
  }

  /** The analyst's notebook reads over the written tables. Returns the
    * per-round rollup (round → projects with requests) for the checks and
    * the number of files the scans opened.
    */
  def readback(spark: SparkSession, outDir: String, trace: Tracer, op: Int): (Map[Int, Long], Long) = {
    def t(n: String) = spark.read.parquet(s"$outDir/$n")
    var files = 0L
    def run(name: String, df: DataFrame): Array[org.apache.spark.sql.Row] = trace.span(s"readback.$name", op) {
      val rows = df.collect()
      files += collect(df.queryExecution.executedPlan) {
        case s: FileSourceScanExec => s.metrics.get("numFiles").map(_.value).getOrElse(0L)
      }.sum
      rows
    }
    trace.span("readback", op) {
      // A9: how many outputs share a DOI
      run("doi_histogram", t("output").filter(col("doi").isNotNull)
        .groupBy("doi").count().groupBy(col("count").as("dups")).count())
      // F21/F22/A6: missing-value profile of the project table
      val vp = t("visitor_project")
      run("missing_profile", vp.select(
        (count(lit(1)).as("rows") +: vp.columns.map(c => sum(when(col(c).isNull, 1).otherwise(0)).as(c))): _*))
      // W4: z-scores of the per-project score means within each score type
      val w = Window.partitionBy("name")
      run("score_zscores", t("evaluation_score").filter(col("mean").isNotNull)
        .withColumn("z", (col("mean") - avg("mean").over(w)) / stddev_samp("mean").over(w))
        .groupBy("name").agg(count(lit(1)).as("n"), sum(when(abs(col("z")) > 2, 1).otherwise(0)).as("outliers")))
      // per-round rollup of the access-request view
      val rollup = run("round_rollup", t("vw_project_access_requests")
        .join(vp.select(col("id"), col("round")), col("visitor_project_id") === col("id"))
        .groupBy("round").agg(count(lit(1)).as("projects"),
          sum("project_days_requested").as("days"),
          sum(col("multi_access_flag").cast("int")).as("multi")))
      (rollup.map(r => r.getInt(0) -> r.getLong(1)).toMap, files)
    }
  }

  /** Off-clock checks of the written tables against the generator's counts.
    * Returns (check name, passed, detail) for every check.
    */
  def checks(spark: SparkSession, outDir: String, exp: Expected,
      rollup: Map[Int, Long]): Seq[(String, Boolean, String)] = {
    val out = mutable.ArrayBuffer.empty[(String, Boolean, String)]
    val fks = Seq(
      ("call", "round_id", "round"), ("specific_discipline", "discipline_id", "discipline"),
      ("institution", "country_id", "country"), ("installation_facility", "category_id", "category"),
      ("visitor_project", "call_submitted", "call"),
      ("visitor_project", "project_specific_discipline", "specific_discipline"),
      ("visitor_project", "nationality", "country"),
      ("visitor_project", "home_institution_country", "country"),
      ("access_request", "visitor_project_id", "visitor_project"),
      ("access_request", "installation_facility_id", "installation_facility"),
      ("vw_project_access_requests", "visitor_project_id", "visitor_project"),
      ("evaluation_score", "visitor_project_id", "visitor_project"))
    // the tables are small: each is collected once and every statistic is
    // computed in memory — a Spark job per statistic would cost seconds of
    // scheduling per run
    val read = tables.map { n =>
      val df = spark.read.parquet(s"$outDir/$n")
      n -> (df.columns.toIndexedSeq, df.collect())
    }.toMap
    def column(n: String, c: String): Seq[Option[Long]] = {
      val (cols, rows) = read(n)
      val i = cols.indexOf(c)
      rows.toSeq.map(r => if (r.isNullAt(i)) None else Some(r.get(i).asInstanceOf[Number].longValue))
    }
    val v = mutable.Map.empty[String, Long]
    tables.foreach { n =>
      v(s"rows.$n") = read(n)._2.length
      if (read(n)._1.contains("id")) {
        val ids = column(n, "id")
        v(s"distinct.$n") = ids.flatten.distinct.size
        v(s"null.$n") = ids.count(_.isEmpty)
      }
    }
    fks.foreach { case (child, c, parent) =>
      val pk = column(parent, "id").flatten.toSet
      v(s"fk.$child.$c") = column(child, c).flatten.count(x => !pk.contains(x))
    }
    v("null_ar") = column("access_request", "visitor_project_id").count(_.isEmpty)

    exp.counts.toSeq.sortBy(_._1).foreach { case (n, want) =>
      out += ((s"count.$n", v(s"rows.$n") == want, s"rows=${v(s"rows.$n")} expected=$want"))
    }
    tables.filter(n => v.contains(s"distinct.$n")).foreach { n =>
      val (rows, distinct, nulls) = (v(s"rows.$n"), v(s"distinct.$n"), v(s"null.$n"))
      out += ((s"unique_id.$n", distinct == rows && nulls == 0, s"rows=$rows distinct=$distinct null=$nulls"))
    }
    fks.foreach { case (child, c, _) =>
      val d = v(s"fk.$child.$c")
      out += ((s"fk.$child.$c", d == 0, s"dangling=$d"))
    }
    out += (("access_request.dropped_projects", v("null_ar") == exp.nullAccessRequestProjects,
      s"null visitor_project_id=${v("null_ar")} expected=${exp.nullAccessRequestProjects}"))
    val withProject = exp.counts("vw_project_access_requests") - (if (exp.nullAccessRequestProjects > 0) 1 else 0)
    out += (("readback.round_rollup", rollup.values.sum == withProject && rollup.size == Rounds,
      s"rollup=${rollup.toSeq.sorted.mkString(",")} expected total=$withProject"))
    out.toSeq
  }

  def dirBytes(p: Path): (Long, Long) = {
    val s = Files.walk(p)
    try {
      val files = s.filter(f => Files.isRegularFile(f) && {
        val n = f.getFileName.toString; !n.startsWith(".") && !n.startsWith("_")
      }).toArray.map(_.asInstanceOf[Path])
      (files.map(Files.size).sum, files.length.toLong)
    } finally s.close()
  }
}
