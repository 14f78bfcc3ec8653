package graft.etl

import graft.operators.Checkpoints._
import graft.sources.UsersCsv
import java.util.concurrent.{ExecutionException, Executors}
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.util.Try

/** The `synth rebuild` entrypoint (SURVEY §3.1;
  * /root/reference/synth/cli.py:66-74 → etl.py:25-58): run the 16-step
  * pipeline over the four round databases + resources and write the
  * analysis tables.
  *
  * Step ordering is plain data dependencies between vals (the reference's
  * stateful step coupling, SURVEY §7.4.4, becomes explicit dataflow). Each
  * output is written overwrite-mode — the per-step transactional commit
  * analog (SURVEY §4 row 'Transactionality').
  */
object Rebuild {

  /** All inputs the pipeline consumes. Per-round frames are indexed 1..4 in
    * order; resources are the S3–S6 tables/maps.
    */
  case class Inputs(
      calls: Seq[DataFrame],
      disciplines4: DataFrame,
      specificDisciplines: Seq[DataFrame],
      outputs: Seq[DataFrame],
      outputTypes4: DataFrame,
      publicationStatuses4: DataFrame,
      userProjects: Seq[DataFrame],
      users: Seq[DataFrame],
      applicationScores: Seq[DataFrame],
      countryIso: DataFrame,
      usersCsv: DataFrame,
      xlsxCategory: DataFrame,
      xlsxInstitution: DataFrame,
      xlsxInstallationFacility: DataFrame,
      xlsxAccessRequest: DataFrame,
      institutionAliases: Map[String, String],
      unmatchedTowns: Map[String, String],
      geoCities: DataFrame,
      outputDois: DataFrame,
      doiMetadata: DataFrame)

  /** Result: every analysis table, keyed by its target-schema name.
    *
    * One frame is materialized here, eagerly: the visitor-project table
    * (`fillVisitorProject`'s 48-column join, its single-partition global
    * `row_number` window and the regex institution cleaning). Five outputs
    * read it — its own write through [[Geo.fillMissingCountry]] (which
    * references it twice), the project mapping behind `access_request`,
    * the view, and `evaluation_score` (twice) — and each would otherwise
    * re-plan and re-execute it from the sources when written. It is cut
    * with [[graft.operators.Checkpoints.LineageOps.cutLineage]] (a local
    * checkpoint unless a checkpoint dir is set), not persisted: a cache
    * entry outlives the rebuild, while the checkpoint's blocks are freed
    * once the returned frames are unreachable.
    *
    * The two input checks run beside that cut, each on its own thread of
    * a pool created in this call (so both inherit the caller's job group,
    * as in [[writeAll]]): [[Steps.checkSpecificDisciplineParents]] and
    * [[graft.sources.UsersCsv.checkUniqueGuids]]. All three are waited
    * for. A check failure wins over a failure of the cut — the parent
    * check's first, then the GUID check's — so a bad input fails by its
    * named error.
    */
  def run(inputs: Inputs): Map[String, DataFrame] = {
    import inputs._

    // dimension steps (FillRound → FillSpecificDiscipline)
    val callsU                 = Steps.unionRounds(calls)
    val round                  = Steps.fillRound(callsU)
    val (call, _)              = Steps.fillCall(callsU)
    val (country, countryMap)  = Steps.fillCountry(countryIso)
    val discipline             = Steps.fillDiscipline(disciplines4)
    val specU                  = Steps.unionRounds(specificDisciplines)
    val (specific, specMap)    = Steps.fillSpecificDiscipline(specU)

    // fact steps
    val output                 = Steps.fillOutput(Steps.unionRounds(outputs),
      outputTypes4, publicationStatuses4)
    val outputClean            = Steps.cleanOutputs(output, outputDois, doiMetadata)

    val (cut, checkFailures)   = concurrently(Seq(
      () => Steps.checkSpecificDisciplineParents(specU),
      () => UsersCsv.checkUniqueGuids(usersCsv))) {
      val (vpPlan, _) = Steps.fillVisitorProject(
        Steps.unionRounds(userProjects), Steps.unionRounds(users),
        UsersCsv.explodeGuids(usersCsv), call, specMap, countryMap, institutionAliases)
      vpPlan.cutLineage() // the one materialization
    }
    checkFailures.flatten.headOption.foreach(e => throw e)
    val visitorProject         = cut.get
    val projMap                = Steps.projectMapping(visitorProject)

    // xlsx-resource steps
    val category               = Steps.fillCategory(xlsxCategory)
    val institution            = Steps.fillInstitution(xlsxInstitution, country)
    val installationFacility   = Steps.fillInstallationFacility(xlsxInstallationFacility)
    val accessRequest          = Steps.fillAccessRequest(xlsxAccessRequest, projMap)

    // view + enrichment + scores
    val view                   = Steps.projectAccessRequestsView(accessRequest, visitorProject)
    val vpWithCountry          = Geo.fillMissingCountry(visitorProject, geoCities,
      unmatchedTowns, countryMap)
    val evaluationScore        = Steps.aggregateEvaluationScores(
      Steps.unionRounds(applicationScores), visitorProject)

    Map(
      "round" -> round, "call" -> call, "country" -> country,
      "discipline" -> discipline, "specific_discipline" -> specific,
      "output" -> outputClean, "visitor_project" -> vpWithCountry,
      "category" -> category, "institution" -> institution,
      "installation_facility" -> installationFacility,
      "access_request" -> accessRequest,
      "vw_project_access_requests" -> view,
      "evaluation_score" -> evaluationScore)
  }

  /** Runs each of `tasks` on its own thread of a pool created inside the
    * call — so the threads inherit the caller's Spark local properties,
    * and a `setJobGroup` id attributes (and cancels) their jobs — while
    * `meanwhile` runs on the caller's thread. Waits for all of it, then
    * returns `meanwhile`'s outcome and each task's failure, in task order,
    * as it was raised.
    */
  private def concurrently[A](tasks: Seq[() => Unit])(meanwhile: => A)
      : (Try[A], Seq[Option[Throwable]]) = {
    val pool = Executors.newFixedThreadPool(tasks.size)
    try {
      val submitted = tasks.map(t => pool.submit(new Runnable { def run(): Unit = t() }))
      val result = Try(meanwhile)
      (result, submitted.map { f =>
        try { f.get(); None }
        catch { case e: ExecutionException => Some(e.getCause) }
      })
    } finally pool.shutdown()
  }

  /** Write every table (ClearAnalysisDB/CreateAnalysisDB analog:
    * overwrite), each through [[writeTable]].
    *
    * The tables are written [[concurrently]], one pool thread per table:
    * most are dimension-sized, and one at a time they left most cores
    * idle. Every write is waited for; then the first failure, in table
    * order, is rethrown as it was raised, with a suppressed exception
    * naming its table. A failed call may leave other tables already
    * overwritten, as a sequential write could.
    */
  def writeAll(tables: Map[String, DataFrame], outDir: String): Unit =
    if (tables.nonEmpty) {
      val writes = tables.toSeq
      val (_, failures) = concurrently(writes.map { case (name, df) =>
        () => writeTable(name, df, outDir)
      })(())
      writes.map(_._1).zip(failures).collectFirst { case (name, Some(e)) =>
        e.addSuppressed(new RuntimeException(s"writing table '$name' to $outDir failed"))
        throw e
      }
    }

  /** One table's plain-parquet write: overwrite, and tables carrying
    * `round` get it as a partition column so downstream per-round
    * predicates prune partitions (SURVEY §4).
    */
  private def writeTable(name: String, df: DataFrame, outDir: String): Unit = {
    val w = df.write.mode("overwrite")
    (if (df.columns.contains("round")) w.partitionBy("round") else w).parquet(s"$outDir/$name")
  }

  /** The fact tables' repeated-join keys: the visitor-project star is what
    * analysis queries join over and over (the view, score lookups,
    * per-project request rollups). Bucketing these by their join key at
    * write time lets every later fact-fact join plan as a SortMergeJoin
    * with NO Exchange (BucketingSpec proves the plan shape) — at 100 TB
    * that removes the dominant recurring shuffle.
    */
  val bucketKeys: Map[String, String] = Map(
    "visitor_project" -> "id",
    "access_request" -> "visitor_project_id",
    "evaluation_score" -> "visitor_project_id",
    "vw_project_access_requests" -> "visitor_project_id")

  /** Bucketed variant of [[writeAll]]: tables with a registered join key
    * are written `bucketBy(nBuckets, key).sortBy(key)` as saved tables
    * (bucket metadata lives in the session catalog); the rest stay plain
    * parquet in `outDir` ([[writeTable]]). Table names are prefixed
    * `prefix` to keep catalogs from different runs apart. Sequential:
    * `saveAsTable` and `DROP TABLE` go through the session catalog.
    */
  def writeAllBucketed(
      tables: Map[String, DataFrame], outDir: String,
      nBuckets: Int, prefix: String = "graft_"): Unit =
    tables.foreach { case (name, df) =>
      bucketKeys.get(name) match {
        case Some(key) =>
          val t = s"$prefix$name"
          df.sparkSession.sql(s"DROP TABLE IF EXISTS $t")
          df.write.mode("overwrite")
            .bucketBy(nBuckets, key).sortBy(key)
            .saveAsTable(t)
        case None => writeTable(name, df, outDir)
      }
    }

  /** `synth dump` analog (cli.py:93-102): SQL-dump every table, DISTRIBUTED.
    * The DDL header (schema-sized) is a driver-side file; the INSERT
    * statements are written as a text dataset by the executors — no
    * driver-side collect of table data, so a 100 TB fact table dumps at
    * scan throughput instead of OOMing the driver (the old all-string form
    * survives only as the test-sized `SqlDump.dumpSql`).
    */
  def dumpAll(tables: Map[String, DataFrame], outDir: String): Unit = {
    // DDL headers through the Hadoop FileSystem of the target path, so a
    // dump to hdfs:///s3a:// lands whole (java.nio is local-only)
    val spark = tables.values.headOption.map(_.sparkSession)
      .getOrElse(return)
    val out = new org.apache.hadoop.fs.Path(outDir)
    val fs = out.getFileSystem(spark.sessionState.newHadoopConf())
    fs.mkdirs(out)
    tables.toSeq.sortBy(_._1).foreach { case (name, df) =>
      val o = fs.create(new org.apache.hadoop.fs.Path(s"$outDir/$name.ddl.sql"), true)
      try o.write((graft.sinks.SqlDump.createTableDdl(df, name) + "\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally o.close()
      graft.sinks.SqlDump.write(df, name, s"$outDir/$name")
    }
  }

  /** S10/S11's production shape: the reference's `synth rebuild` target is
    * a live MySQL analysis database (synth/utils.py:308-311 builds the
    * target session; synth/etl.py:149-178 drops and recreates the schema).
    * `overwrite` mode reproduces the ClearAnalysisDB → CreateAnalysisDB →
    * insert sequence per table. Writes go through Spark's JDBC batch
    * writer — each partition streams its rows in `batchsize` inserts, so
    * nothing is collected to the driver.
    */
  def writeAllJdbc(tables: Map[String, DataFrame], url: String,
      props: java.util.Properties = new java.util.Properties): Unit =
    tables.toSeq.sortBy(_._1).foreach { case (name, df) =>
      df.write.mode("overwrite").jdbc(url, name, props)
    }

  /** S4 resource sheet (resources.py:141-143): the live
    * `access_request_rebuild.xlsx` workbook when present (parsed once per
    * JVM path, all sheets from the one parse), else the per-sheet parquet
    * fixture a user may have pre-converted.
    */
  def resourceSheet(
      spark: SparkSession,
      res: String,
      sheet: String,
      fixture: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame = {
    val xlsxPath = new org.apache.hadoop.fs.Path(s"$res/access_request_rebuild.xlsx")
    val fs = xlsxPath.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(xlsxPath)) {
      val sheets = xlsxCache.computeIfAbsent(
        xlsxPath.toString, p => graft.sources.Xlsx.readSheets(spark, p))
      val raw = sheets.find(_.name == sheet)
        .getOrElse(throw new IllegalArgumentException(s"no sheet '$sheet' in $xlsxPath"))
      graft.sources.Xlsx.applySchema(raw.toDF(spark), schema)
    } else spark.read.parquet(s"$res/$fixture.parquet")
  }
  private val xlsxCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[graft.sources.Xlsx.RawSheet]]()

  /** CLI (`synth rebuild` analog, cli.py:66-74): `Rebuild <inDir> <outDir>`.
    *
    * Input layout: `<inDir>/round<N>/` (N ascending = synth rounds) with
    * parquet per source table (NHM_Call, NHM_Specific_Disciplines,
    * NHM_Outputs, T_List_of_UserProjects, T_List_of_Users,
    * NHM_Application_Scores); round-shared dims (NHM_Disciplines,
    * NHM_OutputTypes, NHM_PublicationStatus) read from the LAST round
    * (etl.py reads synth-4); `<inDir>/resources/` with Country_Iso_Codes /
    * xlsx-sheet parquet, users.csv, master_clean.json,
    * unmatched_home_institutions.json, geocities.parquet and (optional)
    * output_dois.parquet / doi_metadata.parquet caches.
    */
  def main(args: Array[String]): Unit = {
    val Array(inDir, outDir) = args.take(2)
    val spark = graft.GraftSession.get(
      sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[8]"))
    import spark.implicits._

    // input discovery through the input path's own Hadoop FileSystem —
    // java.io.File listing is local-only and would find no rounds on
    // hdfs:///s3a:// input layouts
    val hconf = spark.sessionState.newHadoopConf()
    def hp(s: String) = new org.apache.hadoop.fs.Path(s)
    val inFs = hp(inDir).getFileSystem(hconf)
    val roundDirs = inFs.listStatus(hp(inDir))
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("round"))
      .sortBy(_.getPath.getName.stripPrefix("round").toInt)
    require(roundDirs.nonEmpty, s"no round<N> directories under $inDir")
    def perRound(table: String): Seq[DataFrame] =
      roundDirs.toSeq.map(d => spark.read.parquet(s"${d.getPath.toString}/$table.parquet"))
    def lastRound(table: String): DataFrame =
      spark.read.parquet(s"${roundDirs.last.getPath.toString}/$table.parquet")
    val res = s"$inDir/resources"
    def resource(table: String, orElse: => DataFrame): DataFrame = {
      val p = s"$res/$table.parquet"
      if (inFs.exists(hp(p))) spark.read.parquet(p) else orElse
    }
    def xlsxSheet(sheet: String, fixture: String,
        schema: org.apache.spark.sql.types.StructType): DataFrame =
      resourceSheet(spark, res, sheet, fixture, schema)
    def jsonMap(name: String): Map[String, String] = {
      val p = s"$res/$name.json"
      if (!inFs.exists(hp(p))) Map.empty
      else spark.read.option("multiLine", "true").json(p)
        .collect().headOption.map { row =>
          row.schema.fieldNames.map(n => n -> Option(row.getAs[Any](n)).map(_.toString).orNull).toMap
        }.getOrElse(Map.empty)
    }

    val emptyDois = Seq.empty[(Int, Int, String)].toDF("round", "original_id", "doi")
    val emptyMeta = Seq.empty[(String, String)].toDF("doi", "publisher")
      .withColumn("authors", org.apache.spark.sql.functions.lit(null)
        .cast("array<struct<given:string,family:string>>"))
      .withColumn("titles", org.apache.spark.sql.functions.lit(null).cast("array<string>"))
      .withColumn("created", org.apache.spark.sql.functions.lit(null).cast("string"))
      .withColumn("url", org.apache.spark.sql.functions.lit(null).cast("string"))
      .withColumn("volume", org.apache.spark.sql.functions.lit(null).cast("string"))
      .withColumn("pages", org.apache.spark.sql.functions.lit(null).cast("string"))

    val inputs = Inputs(
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
      xlsxCategory = xlsxSheet("Category", "category", Schemas.xlsxCategory),
      xlsxInstitution = xlsxSheet("Institution", "institution", Schemas.xlsxInstitution),
      xlsxInstallationFacility =
        xlsxSheet("InstallationFacility", "installation_facility", Schemas.xlsxInstallationFacility),
      xlsxAccessRequest = xlsxSheet("AccessRequest", "access_request", Schemas.xlsxAccessRequest),
      institutionAliases = jsonMap("master_clean"),
      unmatchedTowns = jsonMap("unmatched_home_institutions"),
      geoCities = spark.read.parquet(s"$res/geocities.parquet"),
      outputDois = resource("output_dois", emptyDois),
      doiMetadata = resource("doi_metadata", emptyMeta))

    val tables = run(inputs)
    // optional `--bucket <n>`: write the visitor-project star bucketed by
    // its join keys (shuffle-free repeated joins downstream)
    args.sliding(2).collectFirst { case Array("--bucket", n) => n.toInt } match {
      case Some(n) => writeAllBucketed(tables, outDir, n)
      case None    => writeAll(tables, outDir)
    }
    // names only — a per-table count() would re-read every output and
    // double the rebuild's I/O just for a log line
    System.err.println(s"[rebuild] wrote: ${tables.keys.toSeq.sorted.mkString(", ")}")
    // optional `synth dump` analog: Rebuild <inDir> <outDir> --dump <dumpDir>
    args.sliding(2).collectFirst { case Array("--dump", d) => d }
      .foreach(dumpAll(tables, _))
    // optional JDBC target (the reference's actual sink): --jdbc <url>
    args.sliding(2).collectFirst { case Array("--jdbc", u) => u }
      .foreach(writeAllJdbc(tables, _))
    spark.stop()
  }
}
