package graft.etl

import graft.functions.Cleaning
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** The reference's 16-step ETL (SURVEY §3.1; /root/reference/synth/etl.py:25-58)
  * re-expressed as pure DataFrame transformations.
  *
  * Design (SURVEY §7.1):
  *  - the mutable `Context.mappings` translator (utils.py:263-298) becomes
  *    mapping DataFrames `(round, original_id, new_id)` joined on demand and
  *    broadcast when dimension-sized;
  *  - `itertools.count(1)` sequential ids become `row_number()` over the
  *    documented canonical order `(round, source_pk)` (W1);
  *  - per-round source databases arrive as one frame with a `round` column
  *    (1–4), produced by [[unionRounds]] (U1);
  *  - steps are pure functions: sources in, (table, mapping) out. Order
  *    dependence survives as plain data dependencies.
  *
  * Scale: every dimension mapping here is small (≤ thousands of rows) and
  * broadcast; the fact tables (outputs, projects, scores) flow through
  * shuffle-free projections or single-shuffle joins/aggregations.
  */
object Steps {

  /** U1: per-round frames → one frame with `round` 1..4. */
  def unionRounds(perRound: Seq[DataFrame]): DataFrame = {
    require(perRound.nonEmpty, "at least one round source required")
    perRound.zipWithIndex
      .map { case (df, i) => df.withColumn("round", lit(i + 1)) }
      .reduce(_.unionByName(_))
  }

  /** FillRound (etl.py:181-202): one row per round, id forced to the round
    * number, start/end = min(dateOpen)/max(dateClosed) of that round's calls.
    */
  def fillRound(calls: DataFrame): DataFrame =
    calls.groupBy(col("round"))
      .agg(min(col("dateOpen")).as("start"), max(col("dateClosed")).as("end"))
      .select(col("round").as("id"),
        concat(lit("Synthesys "), col("round")).as("name"),
        col("start"), col("end"))

  /** FillCall (etl.py:205-224): sequential ids over rounds in call order
    * (W1), plus the call ordinal within round (W3) that replaces the
    * positional list lookup of etl.py:469-473.
    * Returns (call table, mapping (round, callID) → new id).
    */
  def fillCall(calls: DataFrame): (DataFrame, DataFrame) = {
    val wGlobal  = Window.orderBy(col("round"), col("call"))
    val wInRound = Window.partitionBy(col("round")).orderBy(col("call"))
    val t = calls.select(col("round"), col("callID"), col("call"),
        col("dateOpen"), col("dateClosed"))
      .withColumn("id", row_number().over(wGlobal))
      .withColumn("ordinal", row_number().over(wInRound))
    val table = t.select(col("id"), col("round").as("round_id"), col("ordinal"),
      col("dateOpen").as("start"), col("dateClosed").as("end"))
    val mapping = t.select(col("round"), col("callID").as("original_id"), col("id").as("new_id"))
    (table, mapping)
  }

  /** FillCountry (etl.py:227-241): ISO-3166 alpha-2 list → ids in code
    * order; mapping code → id (J7).
    */
  def fillCountry(iso: DataFrame): (DataFrame, DataFrame) = {
    val t = iso
      .withColumn("id", row_number().over(Window.orderBy(col("Country_Code"))))
      .select(col("id"), col("Country_Code").as("code"), col("Country_Name").as("name"))
    (t, t.select(col("code").as("original_id"), col("id").as("new_id")))
  }

  /** FillDiscipline (etl.py:244-260): synth-4 copy, ids preserved. */
  def fillDiscipline(synth4Disciplines: DataFrame): DataFrame =
    synth4Disciplines
      .select(col("DisciplineID").as("id"), col("DisciplineName").as("name"))

  /** FillSpecificDiscipline's invariant (etl.py:309-312, errors.py:3-19):
    * duplicate names whose parent disciplines conflict fail the job with
    * [[SpecificDisciplineParentMismatch]]. A separate eager check, so a
    * caller can run it beside other work ([[Rebuild.run]] does).
    */
  def checkSpecificDisciplineParents(spec: DataFrame): Unit = {
    val conflicts = spec.groupBy(col("SpecificDisciplineName"))
      .agg(countDistinct(col("DisciplineID")).as("n_parents"))
      .filter(col("n_parents") > 1)
      .select(col("SpecificDisciplineName"))
      .collect().map(_.getString(0)).toSeq
    if (conflicts.nonEmpty) throw SpecificDisciplineParentMismatch(conflicts)
  }

  /** FillSpecificDiscipline (etl.py:263-321, A4): dedup by name with
    * first-seen-wins scanning rounds 4→1 (etl.py:295), ids in scan order.
    * Lazy: the parent invariant is [[checkSpecificDisciplineParents]],
    * which callers run themselves.
    * Returns (table, mapping (round, SpecificDisciplineID) → new id).
    */
  def fillSpecificDiscipline(spec: DataFrame): (DataFrame, DataFrame) = {
    val wScan = Window.orderBy(col("round").desc, col("SpecificDisciplineID"))
    val scanned = spec.withColumn("scan_order", row_number().over(wScan))
    val canonical = scanned
      .groupBy(col("SpecificDisciplineName").as("name"))
      .agg(min(col("scan_order")).as("first_seen"), first(col("DisciplineID")).as("discipline_id"))
      .withColumn("id", row_number().over(Window.orderBy(col("first_seen"))))
    val table = canonical.select(col("id"), col("name"), col("discipline_id"))
    val mapping = scanned
      .join(canonical, scanned("SpecificDisciplineName") === canonical("name"))
      .select(col("round"), col("SpecificDisciplineID").as("original_id"), col("id").as("new_id"))
    (table, mapping)
  }

  /** FillOutput (etl.py:324-372, J2/W1): sequential ids over the canonical
    * order (round, Output_ID) — the reference scans unordered
    * (etl.py:350), so ids are only defined up to its driver iteration
    * order; we document (round, pk) as the deterministic choice (SURVEY
    * §7.4.1). Output type / publication status denormalized via broadcast
    * left joins (missing key → null, matching dict.get default).
    *
    * The table carries the source `Output_ID` as `original_id` beside the
    * new id: it is the output mapping (round, original_id) → id, in the
    * same frame, so [[cleanOutputs]] keys the DOI cache on it without a
    * second copy of the id window. `cleanOutputs` drops it.
    *
    * `Year` is cast strictly (F5; etl.py:364 calls `int()`, which raises).
    * A value that is neither NULL nor integer text fails the task through
    * `raise_error` with the named check [[YearCheck]], its `round`,
    * `Output_ID` and the value. The check sits in the projection that
    * casts, so it costs no job.
    */
  def fillOutput(outputs: DataFrame, outputTypes: DataFrame,
                 publicationStatuses: DataFrame): DataFrame = {
    val w = Window.orderBy(col("round"), col("Output_ID"))
    outputs
      .join(broadcast(outputTypes), Seq("OutputType_ID"), "left")
      .join(broadcast(publicationStatuses), Seq("PublicationStatus_ID"), "left")
      .withColumn("id", row_number().over(w))
      .select(
        col("id"),
        col("Output_ID").as("original_id"),
        col("OutputType").as("output_type"),
        col("PublicationStatus").as("publication_status"),
        col("Authors").as("authors"),
        strictYear.as("year"), // F5 (etl.py:364)
        col("Title").as("title"),
        col("Publisher").as("publisher"),
        col("URL").as("url"),
        col("Volume").as("volume"),
        col("Pages").as("pages"),
        col("Conference").as("conference"),
        col("Degree").as("degree"),
        col("round"))
  }

  /** Name of [[fillOutput]]'s check that `Year` is integer text or NULL. */
  val YearCheck = "output_year_is_integer"

  private def strictYear: Column = {
    val year = col("Year").try_cast("int")
    when(col("Year").isNotNull && year.isNull, raise_error(format_string(
      s"check $YearCheck failed: round %s, Output_ID %s, Year '%s'",
      col("round"), col("Output_ID"), col("Year"))))
      .otherwise(year)
  }

  /** CleanOutputs (etl.py:375-432): clean authors/title strings in place
    * (only when non-null and non-empty — the reference's filter means ''
    * stays '', it is NOT nulled), then enrich from the DOI caches:
    * `outputDois (round, original_id, doi)` (S6 cache as a table) and
    * `doiMetadata (doi, authors[], titles[], created, publisher, url,
    * volume, pages)`. F7–F10 semantics:
    *  - authors ← "family given; …" over entries having both parts —
    *    unconditionally overwritten when metadata exists (etl.py:393-404)
    *  - title ← clean(titles[0]) if titles non-empty else existing
    *  - year ← int(created[:4]); publisher/url overwritten
    *  - volume/pages only overwritten when present in metadata
    *
    * `outputTable` is [[fillOutput]]'s: the DOI cache joins on its own
    * (round, original_id), which the result drops.
    */
  def cleanOutputs(outputTable: DataFrame, outputDois: DataFrame,
                   doiMetadata: DataFrame): DataFrame = {
    def cleanInPlace(c: Column): Column =
      when(c.isNotNull && c =!= "", Cleaning.cleanString(c)).otherwise(c)

    val cleaned = outputTable
      .withColumn("authors", cleanInPlace(col("authors")))
      .withColumn("title", cleanInPlace(col("title")))

    val meta = outputDois.join(doiMetadata, Seq("doi"))
      .select(
        col("round"),
        col("original_id"),
        col("doi"),
        array_join(
          transform(
            filter(col("authors"), a => a.getField("given").isNotNull &&
              a.getField("family").isNotNull),
            a => concat_ws(" ", a.getField("family"), a.getField("given"))),
          "; ").as("m_authors"),
        when(size(col("titles")) > 0, Cleaning.cleanString(element_at(col("titles"), 1)))
          .as("m_title"),
        substring(col("created"), 1, 4).cast("int").as("m_year"), // F8
        col("publisher").as("m_publisher"),
        col("url").as("m_url"),
        col("volume").as("m_volume"),
        col("pages").as("m_pages"),
        lit(true).as("m_found"))

    // No broadcast hint: the enrichment side is corpus-proportional (one
    // row per identified output), not dimension-sized — a forced broadcast
    // is a driver/executor OOM at 100× scale. AQE picks broadcast when the
    // side actually measures small.
    cleaned.join(meta, Seq("round", "original_id"), "left")
      .select(
        cleaned("id"),
        cleaned("output_type"), cleaned("publication_status"),
        when(col("m_found"), col("m_authors")).otherwise(cleaned("authors")).as("authors"),
        when(col("m_found"), col("m_year")).otherwise(cleaned("year")).as("year"),
        when(col("m_found"), coalesce(col("m_title"), cleaned("title")))
          .otherwise(cleaned("title")).as("title"), // F9
        when(col("m_found"), col("m_publisher")).otherwise(cleaned("publisher")).as("publisher"),
        when(col("m_found"), col("m_url")).otherwise(cleaned("url")).as("url"),
        coalesce(col("m_volume"), cleaned("volume")).as("volume"), // F10
        coalesce(col("m_pages"), cleaned("pages")).as("pages"),
        cleaned("conference"), cleaned("degree"), col("round"),
        col("doi"))
  }

  /** FillVisitorProject (etl.py:448-561) — the 48-column monster:
    *  - J4: project ⋈ user on (round, User_ID)
    *  - J5: inner join to the exploded users.csv GUID table — projects whose
    *    user has no GUID are dropped (the `continue`, etl.py:477-481)
    *  - J8: call ordinal join (Call_Submitted is a 1-based position within
    *    round, not an id)
    *  - J6: institution alias cleaning with 'nil' sentinel (3 columns)
    *  - J7: country-code translation (2 columns)
    *  - J11: specific-discipline mapping translation
    *  - F3/F6: legacy datetime parse; TINYINT→bool with bool(None)=false
    *  - P3: Application_State != 'edit' filter
    * Ids are row_number over (round, UserProject_ID) — the reference's
    * explicit scan order (etl.py:466-467).
    */
  def fillVisitorProject(
      projects: DataFrame, users: DataFrame, userGuids: DataFrame,
      callTable: DataFrame, specMapping: DataFrame, countryMapping: DataFrame,
      institutionAliases: Map[String, String]): (DataFrame, DataFrame) =
    fillVisitorProjectWith(projects, users, userGuids, callTable, specMapping,
      countryMapping, institutionAliases,
      t => t.withColumn("id", row_number().over(
        Window.orderBy(col("round"), col("original_project_id")))))

  /** [[fillVisitorProject]] with the W1 ids assigned by the two-phase
    * distributed path ([[graft.operators.Ids.distributedSequentialIds]]):
    * identical dense 1-based ids over the same (round, UserProject_ID)
    * order — proven by `etl_visitor_project_distributed` sharing
    * `etl_visitor_project`'s oracle — but no single-task global window, so
    * the flagship table scales past one executor. Ids are BIGINT here
    * (the reference-parity window path keeps row_number's INT).
    */
  def fillVisitorProjectDistributed(
      projects: DataFrame, users: DataFrame, userGuids: DataFrame,
      callTable: DataFrame, specMapping: DataFrame, countryMapping: DataFrame,
      institutionAliases: Map[String, String]): (DataFrame, DataFrame) =
    fillVisitorProjectWith(projects, users, userGuids, callTable, specMapping,
      countryMapping, institutionAliases,
      t => graft.operators.Ids.distributedSequentialIds(
        t, Seq("round", "original_project_id"), "id"))

  private def fillVisitorProjectWith(
      projects: DataFrame, users: DataFrame, userGuids: DataFrame,
      callTable: DataFrame, specMapping: DataFrame, countryMapping: DataFrame,
      institutionAliases: Map[String, String],
      assignId: DataFrame => DataFrame): (DataFrame, DataFrame) = {

    val aliases = typedLit(institutionAliases)
    def inst(c: Column): Column = Cleaning.cleanInstitution(c, aliases) // J6
    def b(c: Column): Column    = Cleaning.tinyintToBool(c)            // F6

    val filtered = projects.filter(col("Application_State") =!= "edit")
    val w = Window.orderBy(col("round"), col("UserProject_ID"))

    val guids = userGuids.select(col("round"), col("user_id"),
      col("guid"), col("age_range"))
    val callsByOrdinal = callTable.select(col("round_id").as("round"),
      col("ordinal"), col("id").as("call_id"))

    val specMap = specMapping.select(col("round"),
      col("original_id").as("spec_orig"), col("new_id").as("spec_new"))
    val natMap = countryMapping.select(col("original_id").as("nat_code"),
      col("new_id").as("nat_id"))
    val homeMap = countryMapping.select(col("original_id").as("home_code"),
      col("new_id").as("home_id"))

    val joined = filtered.as("p")
      .join(guids, filtered("round") === guids("round") &&
        filtered("User_ID") === guids("user_id")) // J5: inner — no GUID, no row
      .join(users.as("u"), filtered("round") === users("round") &&
        filtered("User_ID") === users("User_ID")) // J4
      .join(broadcast(callsByOrdinal),
        filtered("round") === callsByOrdinal("round") &&
          filtered("Call_Submitted").cast("int") === callsByOrdinal("ordinal")) // J8
      .join(broadcast(specMap), filtered("round") === specMap("round") &&
        col("Project_Specific_Discipline") === col("spec_orig"), "left") // J11
      // cast: all-null source columns can arrive null/int-typed from
      // schema-inferred inputs; codes are declared string (Schemas)
      .join(broadcast(natMap),
        col("u.Nationality_Country_code").cast("string") === col("nat_code"), "left") // J7
      .join(broadcast(homeMap),
        col("u.Home_Institution_Country_code").cast("string") === col("home_code"), "left")

    // The EXPENSIVE expressions — three regex-backed institution cleanings
    // and the tz-format legacy datetime parse — are applied AFTER the id
    // assignment (same values: ids depend only on (round,
    // original_project_id), which the cleaning never touches). Before r18
    // they sat in this pre-id projection, which meant (a) the distributed
    // path's staging materialization executed them on the UNSHUFFLED join
    // output — AQE coalesces a dimension-sized join to one partition, so
    // the whole regex battery ran in ONE task (profiled: a single 2.9 s
    // serial stage inside an 8 s query at sf0.1) — and (b) the range
    // sampling pass re-ran whatever wasn't already materialized. Applied
    // above the id shuffle they run once, in parallel across the
    // range/window partitions, and are never sampled (guide §8: shuffle
    // light proxies, compute heavy transforms after the last exchange).
    val noId = joined.select(
      col("p.UserProject_ID").as("original_project_id"),
      col("p.UserProject_Title").as("title"),
      col("p.UserProject_Objectives").as("objectives"),
      col("p.UserProject_Achievements").as("achievements"),
      col("guid").as("user_guid"),
      col("age_range").as("user_age_range"),
      col("p.length_of_visit").as("length_of_visit"),
      col("p.start_date").as("start"),
      col("p.finish_date").as("end"),
      col("p.TAF_ID").as("taf_id"),
      b(col("p.Home_Facilities")).as("home_facilities"),
      col("p.Application_State").as("application_state"),
      col("p.Acceptance").as("acceptance"),
      col("p.UserProject_Summary").as("summary"),
      b(col("p.New_User")).as("new_user"),
      col("p.UserProject_Facility_Reasons").as("facility_reasons"),
      col("p.Submission_Date").as("submission_date"), // F3 parse deferred below
      b(col("p.Support_Final")).as("support_final"),
      col("p.Project_Discipline").as("project_discipline"),
      col("spec_new").as("project_specific_discipline"),
      col("call_id").as("call_submitted"),
      b(col("p.Previous_Application")).as("previous_application"),
      col("p.Training_Requirement").as("training_requirement"),
      col("p.Supporter_Institution").as("supporter_institution"), // J6 deferred
      col("p.Administration_State").as("administration_state"),
      b(col("p.Group_leader")).as("group_leader"),
      col("p.Group_Members").as("group_members"),
      col("p.UserProject_Background").as("background"),
      col("p.UserProject_Reasons").as("reasons"),
      col("p.UserProject_Expectations").as("expectations"),
      col("p.UserProject_Outputs").as("outputs"),
      col("p.Group_Leader_Institution").as("group_leader_institution"), // J6 deferred
      col("p.Visit_Funded_Previously").as("visit_funded_previously"),
      col("u.Gender").as("gender"),
      col("nat_id").as("nationality"),
      col("u.Researcher_status").as("researcher_status"),
      col("u.Discipline1").as("researcher_discipline1"),
      col("u.Discipline2").as("researcher_discipline2"),
      col("u.Discipline3").as("researcher_discipline3"),
      col("u.Home_Institution_Type").as("home_institution_type"),
      col("u.Home_Institution_Dept").as("home_institution_dept"),
      col("u.Home_Institution_Name").as("home_institution_name"), // J6 deferred
      col("u.Home_Institution_Town").as("home_institution_town"),
      col("home_id").as("home_institution_country"),
      col("u.Home_Institution_Postcode").as("home_institution_postcode"),
      col("u.Number_of_visits").as("number_of_visits"),
      col("u.Duration_of_stays").as("duration_of_stays"),
      col("u.Nationality_OtherText").as("nationality_other"),
      col("u.Remote_user").as("remote_user"),
      col("u.Travel_and_Subsistence_reimbursed").as("travel_and_subsistence_reimbursed"),
      col("u.jobTitle").as("job_title"),
      col("p.round").as("round"))
    val table = assignId(noId)
      .select((col("id") +: noId.columns.map {
        case c @ ("supporter_institution" | "group_leader_institution" |
                  "home_institution_name") => inst(col(c)).as(c) // J6
        case "submission_date" =>
          Cleaning.toDatetimeLegacy(col("submission_date")).as("submission_date") // F3
        case c => col(c)
      }): _*)
    (table, projectMapping(table))
  }

  /** The J11 project mapping of a visitor-project table: (round, original
    * UserProject_ID) → new id, for the steps that translate source project
    * ids (AccessRequest).
    */
  def projectMapping(visitorProject: DataFrame): DataFrame =
    visitorProject.select(col("round"),
      col("original_project_id").as("original_id"), col("id").as("new_id"))

  /** FillCategory / FillInstitution / FillInstallationFacility /
    * FillAccessRequest (etl.py:564-658): xlsx-sheet fixtures → tables;
    * Institution joins the Country dim on code; AccessRequest translates
    * (round, UserProject_ID) through the project mapping (J11).
    */
  def fillCategory(cat: DataFrame): DataFrame =
    cat.select(col("Category_ID").as("id"), col("CategoryName").as("name"),
      col("HigherCategoryName").as("higherName"))

  def fillInstitution(inst: DataFrame, countryTable: DataFrame): DataFrame =
    inst.join(broadcast(countryTable), inst("CountryCode") === countryTable("code"))
      .select(col("Institution_ID").as("id"), col("InstitutionAcronym").as("acronym"),
        col("InstitutionName").as("name"), countryTable("id").as("country_id"))

  def fillInstallationFacility(fac: DataFrame): DataFrame =
    fac.select(col("InstallationFacility_ID").as("id"), col("InstallationCode").as("code"),
      col("InstallationFacilityDescription").as("description"),
      col("Category_ID").as("category_id"), col("Institution_ID").as("institution_id"))

  def fillAccessRequest(ar: DataFrame, projectMapping: DataFrame): DataFrame =
    ar.join(broadcast(projectMapping),
        ar("SynthRound") === projectMapping("round") &&
          ar("UserProject_ID") === projectMapping("original_id"), "left")
      .select(col("AccessRequest_ID").as("id"), col("new_id").as("visitor_project_id"),
        col("InstallationFacility_ID").as("installation_facility_id"),
        col("DaysRequested").as("days_requested"), col("RequestDetail").as("request_detail"))

  /** CreateProjectAccessRequestsView (etl.py:661-669, A2/J3). The left join
    * to VisitorProject is vestigial (no vp columns surface) but preserved.
    */
  def projectAccessRequestsView(accessRequest: DataFrame, visitorProject: DataFrame): DataFrame =
    accessRequest.as("ar")
      .join(visitorProject.as("vp"),
        col("ar.visitor_project_id") === col("vp.id"), "left")
      .groupBy(col("ar.visitor_project_id"))
      .agg(countDistinct(col("ar.id")).as("sub_installation_requests"),
        sum(col("ar.days_requested")).as("project_days_requested"))
      .select(col("visitor_project_id"), col("sub_installation_requests"),
        col("project_days_requested"),
        (col("sub_installation_requests") =!= 1).as("multi_access_flag"))

  /** AggregateEvaluationScores (etl.py:772-821, A3): unpivot the 7 score
    * columns, normalize by the per-(score, round) total, apply the
    * `filter(None, …)` quirk (NULL **and 0** scores dropped, utils.py:181),
    * aggregate count/mean/mode/sum/stddev with min_size semantics
    * (count≥0, mean/mode/sum≥1, stddev≥2). A row is emitted for every
    * (project, score type) — even scoreless ones (count=0, rest NULL).
    *
    * Scores are keyed by the source (round, UserProject_ID), which the
    * visitor-project table carries as (round, original_project_id): the
    * reference's get_synth_round (the round of the project's call,
    * utils.py:125-135) is the project's own round, because
    * [[fillVisitorProject]]'s J8 join only matches calls of that round.
    *
    * Mode determinism: Python's statistics.mode returns the first mode in
    * iteration order of an unordered scan; we use (max count, min value) —
    * deterministic on any cluster (SURVEY §7.4.2). That is
    * `mode(value, deterministic = true)`, which returns the lowest of the
    * most frequent values, so all five statistics come from one
    * aggregation. A value is NULL when its round has no total (Societal
    * Challenge before round 4): such a point counts, while mean, mode and
    * sum stay NULL.
    */
  def aggregateEvaluationScores(scores: DataFrame, visitorProject: DataFrame): DataFrame = {

    // score definitions (etl.py:789-798): name, per-round totals (1-4)
    val defs: Seq[(String, Seq[Option[Int]])] = Seq(
      ("Methodology",        Seq(Some(30), Some(30), Some(30), Some(30))),
      ("Research Excellence", Seq(Some(10), Some(10), Some(10), Some(10))),
      ("Support Stmt",       Seq(Some(10), Some(10), Some(10), Some(10))),
      ("Justification",      Seq(Some(25), Some(25), Some(25), Some(25))),
      ("Expected Gains",     Seq(Some(10), Some(10), Some(10), Some(10))),
      ("Scientific Merit",   Seq(Some(15), Some(15), Some(15), Some(10))),
      ("Societal Challenge", Seq(None, None, None, Some(5))))
    val colForName = Map(
      "Methodology" -> "Methodology_Score", "Research Excellence" -> "Research_Excellence_Score",
      "Support Stmt" -> "Support_Stmt_Score", "Justification" -> "Justification_Score",
      "Expected Gains" -> "Expected_Gains_Score", "Scientific Merit" -> "Scientific_Merit_Score",
      "Societal Challenge" -> "Societal_Challenge_Score")

    val session = scores.sparkSession
    import session.implicits._
    val totals = defs.flatMap { case (name, ts) =>
      ts.zipWithIndex.map { case (t, i) => (name, i + 1, t.map(_.toDouble)) }
    }.toDF("score_name", "round", "total")

    // unpivot the 7 score columns (F21) — cast each to double first: source
    // DECIMAL(10,2)/int/null-typed columns must stack to one type
    val stackExpr = defs
      .map { case (n, _) => s"'${n.replace("'", "''")}', CAST(${colForName(n)} AS DOUBLE)" }
      .mkString(s"stack(${defs.size}, ", ", ", ") AS (score_name, point)")
    val points = scores.selectExpr("round", "UserProject_ID", stackExpr)
      .filter(col("point").isNotNull && col("point") =!= 0) // the zero-drop quirk

    val projKeys = visitorProject.select(col("id").as("visitor_project_id"),
      col("round"), col("original_project_id").as("UserProject_ID"))

    val normalized = projKeys
      .join(points, Seq("round", "UserProject_ID"))
      .join(broadcast(totals), Seq("score_name", "round"))
      .withColumn("value", col("point") / col("total"))

    val aggregated = normalized
      .groupBy(col("visitor_project_id"), col("score_name"))
      .agg(
        count(col("point")).as("cnt"),
        avg(col("value")).as("mean0"),
        sum(col("value")).as("sum0"),
        stddev_samp(col("value")).as("sd0"),
        mode(col("value"), deterministic = true).as("mode0"))

    // a row for EVERY (project, score type) — the reference emits all 7 per
    // project regardless of data presence (etl.py:801-821)
    val scaffold = projKeys.select(col("visitor_project_id"))
      .crossJoin(broadcast(defs.map(_._1).toDF("score_name")))

    scaffold
      .join(aggregated, Seq("visitor_project_id", "score_name"), "left")
      .select(
        col("visitor_project_id"),
        col("score_name").as("name"),
        coalesce(col("cnt"), lit(0L)).as("count"), // min_size 0
        col("mean0").as("mean"),                   // min_size 1 → NULL when no rows
        col("mode0").as("mode"),
        col("sum0").as("sum"),
        when(col("cnt") < 2, lit(null).cast("double"))
          .otherwise(col("sd0")).as("std_dev"))    // min_size 2
  }
}
