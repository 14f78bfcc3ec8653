package graft

import graft.functions.{Cleaning, Doi, Fuzzy, PosTag, TextStats}
import graft.operators.Checkpoints.LineageOps
import graft.operators.{Bpe, Curation, Dedup, Expectations, Incremental, Multimodal, RangeJoin, Retrieval, Rounds, Similarity}
import graft.sources.Tables
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Driver contract (SURVEY §7 + builder prompt): one `queries` entry per
  * implemented operator from SURVEY §2, each with a DuckDB-equivalent
  * `oracleSql` where the semantics are ANSI-SQL-expressible.
  *
  * Determinism rules used throughout (so Spark parquet and the DuckDB oracle
  * hash-match bit-for-bit):
  *  - every query ends in a total ORDER BY over a unique key prefix;
  *  - timestamps are emitted as `yyyy-MM-dd HH:mm:ss` strings (sidesteps
  *    parquet tz-annotation differences between engines);
  *  - money-ish double sums go through DECIMAL(18,2) (exact, order-free)
  *    and back to DOUBLE; other float aggregates are rounded to 4–6 dp;
  *  - rank/row_number outputs are BIGINT (DuckDB's window type).
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  private def fmt(c: Column): Column = date_format(c, "yyyy-MM-dd HH:mm:ss")

  /** Cut lineage before a final global ORDER BY when the segment feeding
    * the sort is expensive map-side work (codec decode, O(n²) scoring,
    * window/id assignment) with no shuffle boundary of its own.
    *
    * Why (guide §1.4/§2.4, r17 measurement): a global sort plans as
    * Exchange(rangepartitioning) whose RangePartitioner runs a SAMPLING
    * job over the child plan before the shuffle executes that child
    * AGAIN — segments between the last shuffle/broadcast boundary and
    * the sort are computed twice per action. For scan-shaped queries the
    * re-run is a cheap parquet re-read; for the multimodal synthesize +
    * decode pipelines, the all-pairs cosine loop and the sequential-id
    * assembly it doubled the whole query. The eager cut materializes the
    * (always small — these are result frames) pre-sort rows once; the
    * sample and the shuffle then read the materialized blocks.
    * [[Checkpoints.LineageOps.cutLineage]] keeps the two-tier durability
    * contract: reliable checkpoint under a configured checkpoint dir,
    * zero-I/O localCheckpoint in single-JVM runs.
    */
  private def sortOnce(df: DataFrame, cols: Column*): DataFrame = {
    import graft.operators.Checkpoints.LineageOps
    df.cutLineage().orderBy(cols: _*)
  }

  /** The testdata corpus has no NULL text, so the NULL-digest contract
    * (NULL dedups against NULL under the `<null-text>` sentinel, and never
    * against `''`) would go unexercised by the driver compare. This
    * appends three synthetic rows — a NULL-text + an empty-text doc in the
    * batch source and a NULL-text doc in the corpus — and the oracle
    * appends the SAME literals (see `nullFixtureSql`), so the green row
    * proves: batch NULL → exact_dup (matched corpus NULL via sentinel),
    * batch '' → NOT exact_dup (md5('') is a real digest with no corpus
    * twin). IDs start at 1e9, far above any generated doc_id.
    */
  private def docsWithNullTextFixture(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    val extra = s.createDataFrame(
      java.util.Arrays.asList(
        Row(1000000001L, null, "en", "src0", 0L),
        Row(1000000004L, "", "en", "src0", 0L),
        Row(1000000002L, null, "en", "src1", 0L)),
      StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType),
        StructField("lang", StringType), StructField("source", StringType),
        StructField("n_chars", LongType))))
    docs.select("doc_id", "text", "lang", "source", "n_chars")
      .unionByName(extra)
  }

  /** DuckDB twin of [[docsWithNullTextFixture]] — a CTE body the dedup
    * oracles splice in place of the raw `documents` table.
    */
  private val nullFixtureSql: String =
    """SELECT doc_id, text, lang, source, n_chars FROM documents
      |  UNION ALL
      |  SELECT * FROM (VALUES
      |    (CAST(1000000001 AS BIGINT), CAST(NULL AS VARCHAR), 'en', 'src0', CAST(0 AS BIGINT)),
      |    (CAST(1000000004 AS BIGINT), '', 'en', 'src0', CAST(0 AS BIGINT)),
      |    (CAST(1000000002 AS BIGINT), CAST(NULL AS VARCHAR), 'en', 'src1', CAST(0 AS BIGINT)))
      |    t(doc_id, text, lang, source, n_chars)""".stripMargin

  /** Shared upsert fixture (base, updates) over customer — used by both
    * etl_upsert (copy-on-write MERGE) and etl_upsert_streamed (changelog
    * merge-on-read), which run under ONE oracle (green = equivalence).
    */
  private def upsertFixture(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val base = t(s, dir, "customer")
      .select(col("c_custkey").cast("bigint").as("cust_id"),
        col("c_acctbal"), col("c_mktsegment"))
    val updates = t(s, dir, "customer")
      .filter(pmod(col("c_custkey"), lit(10)) === 3)
      .select(col("c_custkey").cast("bigint").as("cust_id"),
        (col("c_acctbal") + lit(1000.0)).as("c_acctbal"),
        lit("UPSERTED").as("c_mktsegment"))
      .unionByName(t(s, dir, "customer")
        .filter(pmod(col("c_custkey"), lit(100)) === 7)
        .select((col("c_custkey") + lit(1000000L)).cast("bigint").as("cust_id"),
          col("c_acctbal"), lit("INSERTED").as("c_mktsegment")))
    (base, updates)
  }

  /** The streamed (user, day) activity table for this dataset — built
    * once (two event-disjoint batches under the BatchMarker protocol) and
    * served by BOTH events_dau_streamed and events_retention_streamed:
    * one set-union accumulation, every distinct-user statistic.
    */
  private def activityPath(s: SparkSession, dir: String): String = {
    import s.implicits._
    val ev = t(s, dir, "events")
    ensureIndex(s, ev, "evdaustream", "built") { p =>
      graft.streaming.EventIngest.processActivityBatch(
        ev.filter(pmod(col("event_id"), lit(2)) === 0), 0L, p)
      graft.streaming.EventIngest.processActivityBatch(
        ev.filter(pmod(col("event_id"), lit(2)) === 1), 1L, p)
      Seq(2).toDF("n_batches").coalesce(1).write.mode("overwrite")
        .parquet(s"$p/built")
    }
  }

  /** The streamed SESSION-state accumulation: events cut into 4
    * EVENT-TIME range slices (boundaries from one 1-row min/max agg —
    * no global sort; the kafka/segment contract is time-ordered batch
    * arrival) and folded through `processSessionBatch`'s carried
    * open-session state.
    */
  private def sessionsStreamPath(s: SparkSession, dir: String): String = {
    import s.implicits._
    val ev = t(s, dir, "events")
    ensureIndex(s, ev, "evsessstream", "built") { p =>
      val mm = ev.agg(min(unix_micros(col("ts"))).as("lo"),
        max(unix_micros(col("ts"))).as("hi")).first()
      if (mm.isNullAt(0)) {
        // empty events table: both aggregates are NULL — no slices to
        // fold; write the marker with zero batches instead of NPEing
        Seq(0).toDF("n_batches").coalesce(1).write.mode("overwrite")
          .parquet(s"$p/built")
      } else {
        val (lo, hi) = (mm.getLong(0), mm.getLong(1))
        val step = (hi - lo) / 4 + 1
        val sliced = ev.withColumn("slice",
          expr(s"(unix_micros(ts) - ${lo}L) div ${step}L"))
        (0 until 4).foreach { i =>
          graft.streaming.EventIngest.processSessionBatch(
            sliced.filter(col("slice") === i).drop("slice"), i.toLong, p,
            gapMinutes = 30)
        }
        Seq(4).toDF("n_batches").coalesce(1).write.mode("overwrite")
          .parquet(s"$p/built")
      }
    }
  }

  /** The streamed per-day-HLL index, built once and shared by
    * `events_dau_sketch` and `events_wau_sketch` — one sketch table
    * serves every distinct-user estimate (the mergeability point), and
    * ONE build block means the batch split can never drift between its
    * consumers (the `activityPath` pattern).
    */
  private def sketchPath(s: SparkSession, dir: String): String = {
    import s.implicits._
    val ev = t(s, dir, "events")
    ensureIndex(s, ev, "evsketchstream", "built") { p =>
      graft.streaming.EventIngest.processSketchBatch(
        ev.filter(pmod(col("event_id"), lit(2)) === 0), 0L, p)
      graft.streaming.EventIngest.processSketchBatch(
        ev.filter(pmod(col("event_id"), lit(2)) === 1), 1L, p)
      Seq(2).toDF("n_batches").coalesce(1).write.mode("overwrite")
        .parquet(s"$p/built")
    }
  }

  /** The alternating-week CHURN cohort: keep a user's events only in
    * weeks matching the user's parity (user_id%2 == week-index%2, week
    * index anchored at Monday 1970-01-05 so both engines agree), so
    * every consecutive week pair has EXACTLY ZERO retained users while
    * the union stays corpus-sized — the degenerate case the retention
    * gate's union-scaled absolute floor exists for (on the natural
    * fixture union ≈ retained and the floor is never the binding term;
    * here relative-bound = 0 and the floor does ALL the work).
    */
  private def churnEvents(ev: DataFrame): DataFrame = {
    val wk = date_trunc("week", col("ts")).cast("date")
    // Monday-truncated dates are exact multiples of 7 days from the
    // Monday anchor, so the double division is exact and the cast safe
    val weekIdx = (datediff(wk, to_date(lit("1970-01-05"))) / 7).cast("long")
    ev.filter(pmod(col("user_id").cast("long"), lit(2)) === pmod(weekIdx, lit(2)))
  }

  /** The churn cohort's per-day-HLL index — same two-batch build as
    * [[sketchPath]] over [[churnEvents]], own kind so the two sketch
    * tables coexist.
    */
  private def churnSketchPath(s: SparkSession, dir: String): String = {
    import s.implicits._
    val ev = churnEvents(t(s, dir, "events"))
    ensureIndex(s, ev, "evsketchchurn", "built") { p =>
      graft.streaming.EventIngest.processSketchBatch(
        ev.filter(pmod(col("event_id"), lit(2)) === 0), 0L, p)
      graft.streaming.EventIngest.processSketchBatch(
        ev.filter(pmod(col("event_id"), lit(2)) === 1), 1L, p)
      Seq(2).toDF("n_batches").coalesce(1).write.mode("overwrite")
        .parquet(s"$p/built")
    }
  }

  /** Exact week-over-week retained + the inclusion–exclusion sketch
    * estimate gated by `greatest(relative, union-scaled floor)` — shared
    * by `events_retention_sketch` (natural activity) and its `_churn`
    * twin (planted zero-retention cohort) so the gate logic can never
    * drift between the case where the relative term binds and the case
    * where only the floor does.
    */
  private def retentionSketchShape(s: SparkSession, ev: DataFrame,
      sketchDir: String): DataFrame = {
    // the estimate reads the SAME per-day sketch table the DAU/WAU
    // estimates read (mergeability: one table, every stat)
    val est = graft.streaming.EventIngest.retainedEstimateFromSketches(
      s, sketchDir)
    // exact retained per consecutive observed week pair (left join: a
    // pair with zero retention still reports)
    val pairs = ev.select(col("user_id"),
      date_trunc("week", col("ts")).as("w")).distinct()
    val pairsB = pairs.select(col("user_id").as("uid_b"), col("w").as("w_b"))
    val exact = pairs.join(pairsB,
        col("uid_b") === col("user_id") &&
          col("w_b") === col("w") + expr("interval 7 days"))
      .groupBy(col("w")).agg(count(lit(1)).as("retained"))
    val wks = pairs.select("w").distinct()
    val obs = wks.join(
        wks.select((col("w") - expr("interval 7 days")).as("w")), Seq("w"), "left_semi")
    obs.join(exact, Seq("w"), "left")
      .select(col("w"), coalesce(col("retained"), lit(0L)).as("retained"))
      .join(est, Seq("w"))
      // the bound needs an ABSOLUTE floor scaled by the union estimate:
      // inclusion–exclusion error grows with the union, so a week pair
      // with small retention would otherwise demand near-zero estimator
      // error and turn benign sketch noise into a red row
      .select(unix_micros(col("w")).as("week_us"), col("retained"),
        (abs(col("retained_est") - col("retained")) <=
          greatest(col("retained") * 0.05, col("union_est") * 0.05))
          .as("est_ok"))
      .orderBy("week_us")
  }

  /** Trailing-7-day WAU derivation over a (user_id, day) frame — shared
    * by events_wau and events_wau_streamed under ONE oracle. Input rows
    * may carry duplicates; the distinct here is part of the contract.
    */
  private def wauShape(ev: DataFrame): DataFrame = {
    val d = ev.distinct()
    val support = d.select(col("user_id"),
      explode(sequence(col("day"),
        col("day") + expr("interval 6 days"),
        expr("interval 1 day"))).as("report_day"))
    val observed = d.select(col("day").as("report_day")).distinct()
    support.join(observed, Seq("report_day"))
      .groupBy(col("report_day"))
      .agg(countDistinct(col("user_id")).as("wau"))
      .select(unix_micros(col("report_day")).as("day_us"), col("wau"))
      .orderBy("day_us")
  }

  /** Cohort-retention derivation over a (user_id, day) frame — shared by
    * events_retention and events_retention_streamed under ONE oracle.
    * Week cohorts/activity are invariant to the day truncation
    * (date_trunc('week', min(day)) = date_trunc('week', min(ts))), so the
    * day-level activity set carries exactly the needed information.
    */
  private def retentionShape(pairs: DataFrame): DataFrame = {
    val cohort = pairs.groupBy(col("user_id")).agg(min(col("day")).as("first_day"))
      .select(col("user_id"), date_trunc("week", col("first_day")).as("cohort_w"))
    val active = pairs
      .select(col("user_id"), date_trunc("week", col("day")).as("act_w"))
      .distinct()
    active.join(cohort, Seq("user_id"))
      .groupBy(col("cohort_w"),
        ((unix_micros(col("act_w")) - unix_micros(col("cohort_w"))) /
          lit(604800000000L)).cast("bigint").as("week_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .select(unix_micros(col("cohort_w")).as("cohort_week_us"),
        col("week_offset"), col("n_users"))
      .orderBy("cohort_week_us", "week_offset")
  }

  /** Shared DAU derivation over a (user_id, day) frame — used by both
    * events_dau (straight off the events scan) and events_dau_streamed
    * (off the accumulated activity set), which run under ONE oracle
    * (green row = equivalence proof). Input rows may carry duplicates;
    * the distinct here is part of the contract.
    */
  private def dauShape(ev: DataFrame): DataFrame = {
    val pairs = ev.distinct()
    val dau = pairs.groupBy(col("day")).agg(count(lit(1)).as("dau"))
    val firsts = pairs.groupBy(col("user_id")).agg(min(col("day")).as("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("new_users"))
    val w = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    dau.join(firsts, Seq("day"), "left")
      .select(col("day"), col("dau"),
        coalesce(col("new_users"), lit(0L)).as("new_users"))
      .withColumn("cum_users", sum(col("new_users")).over(w))
      .select(unix_micros(col("day")).as("day_us"), col("dau"),
        col("new_users"), col("cum_users"))
      .orderBy("day_us")
  }

  /** Build-once guard for the persisted ANN indexes the replay oracles
    * read: index lives under a dir keyed by corpus size AND a content
    * fingerprint (xor of per-row xxhash64 over every column — order-free,
    * one corpus pass shared with the row count), so sf0.01/sf0.1 runs
    * never clobber each other, the oracle can glob + filter on the
    * stamped n_corpus, and a REGENERATED same-size corpus forces a
    * rebuild instead of silently reusing a stale index. Stale siblings
    * with the same row count but a different fingerprint (or the old
    * count-only naming) are deleted so the oracle's wildcard glob +
    * n_corpus filter can never double-read. An existing matching index is
    * reused — the fit is seeded, so rebuilding would produce
    * byte-identical tables.
    *
    * `marker` MUST name the LAST table the writer emits (ivf/ivfpart →
    * "centroids"/"vectors", pq/ivfpqpart → "codes", bm25/bm25part →
    * "stats"): completeness is judged by that table's _SUCCESS, so a
    * crash mid-build leaves the marker absent and the next run rebuilds,
    * instead of a half-built index being treated as complete forever.
    *
    * SCALE NOTE on the key itself: this content fingerprint is ONE
    * pushed-down column scan of the raw corpus — acceptable for the ANN
    * family because the oracle contract pins the `n<rows>` naming (the
    * replay globs filter on it) and the cost amortizes per session. It
    * is NOT acceptable when the "corpus" is itself an expensive derived
    * computation — fingerprinting the extracted link graph cost a WARC
    * parse + resolution join per scheduling query (the r13 defect) —
    * which is what [[ensureIndexNamed]] + [[Tables.listingKey]] exist for:
    * key such indexes off their INGEST METADATA. At production scale
    * the listing key generalizes to the table's snapshot/commit id
    * (the changelog family's landed-batch convention).
    */
  /** Session memo for [[ensureIndex]]'s content fingerprint: the (count,
    * bit_xor) aggregate is a full corpus scan, and every index-backed query
    * re-derived it PER CALL — four times per query under Bench's warm +
    * median-of-3, ~47 call sites. The memo key is the corpus frame's
    * analyzed-plan semantic hash plus the [[Tables.listingKey]] (names + sizes) of
    * every file-source root the plan reads — the same O(listing) freshness
    * model `fixturePathMemo` and the crawl-scheduling index already use, so
    * an in-place fixture regeneration (new sizes/names) re-fingerprints
    * instead of serving a stale key. Corpora with no file source (derived /
    * in-memory frames) skip the memo and scan as before. At 100 TB this is
    * the difference between an O(listing) freshness check and a corpus
    * scan per scheduling decision — the r16-blessed pattern, now applied
    * to every content-keyed index.
    */
  private val fingerprintMemo =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Long)]()

  private def fingerprintScan(corpus: DataFrame): (Long, Long) = {
    val agg = corpus
      .select(xxhash64(corpus.columns.map(col): _*).as("h"))
      .agg(count(lit(1)).as("n"), expr("bit_xor(h)").as("fp"))
      .first()
    // bit_xor over zero rows is NULL — an empty corpus fingerprints as 0
    // instead of NPEing (the count-only predecessor handled empty fine)
    (agg.getLong(0), if (agg.isNullAt(1)) 0L else agg.getLong(1))
  }

  private[graft] def ensureIndex(s: SparkSession, corpus: DataFrame, kind: String,
      marker: String)(write: String => Unit): String = {
    val analyzed = corpus.queryExecution.analyzed
    val roots: Seq[String] = analyzed.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation match {
          case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            h.location.rootPaths.map(_.toString)
          case _ => Seq.empty[String]
        }
    }.flatten
    val (n, fp) =
      if (roots.isEmpty) fingerprintScan(corpus) // non-file corpus: no safe key
      else fingerprintMemo.computeIfAbsent(
        s"$kind|${analyzed.semanticHash()}|" +
          roots.sorted.map(r => s"$r=${Tables.listingKey(s, r)}").mkString(","),
        _ => fingerprintScan(corpus))
    ensureIndexNamed(s, kind, f"n${n}_x$fp%016x", marker)(write)
  }

  /** [[ensureIndex]] with a caller-supplied key name — the entry point for
    * indexes whose freshness key is INGEST METADATA (a file listing, a
    * landed-batch roster) rather than a corpus-content fingerprint, so an
    * unchanged-state check costs O(listing) instead of a corpus scan.
    * Same layout, same stale-sibling cleanup, same crash posture (marker
    * table's `_SUCCESS` judges completeness).
    */
  private[graft] def ensureIndexNamed(s: SparkSession, kind: String,
      name: String, marker: String)(write: String => Unit): String = {
    val n = name.stripPrefix("n").takeWhile(_.isDigit)
    val base = s"/tmp/graft_ann_index/$kind"
    val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
    val basePath = new org.apache.hadoop.fs.Path(base)
    if (fs.exists(basePath))
      fs.listStatus(basePath).foreach { st =>
        val nm = st.getPath.getName
        if (nm != name && (nm == s"n$n" || nm.startsWith(s"n${n}_")))
          fs.delete(st.getPath, true)
      }
    val path = s"$base/$name"
    if (!fs.exists(new org.apache.hadoop.fs.Path(s"$path/$marker/_SUCCESS")))
      write(path)
    path
  }

  /** Shared WARC fixture for the `warc_*` queries: 16 gzipped archive
    * files synthesized from the documents ids (ensureIndex-keyed, so
    * sf0.01/sf0.1 coexist and a regenerated corpus forces a rebuild; the
    * `built` marker parquet is written LAST, after the raw files), read
    * back through the Content-Length record walk.
    */
  private def warcRecords(s: SparkSession, dir: String)
      : org.apache.spark.sql.Dataset[graft.sources.WarcRecord] =
    graft.sources.Warc.readRecords(s, s"${warcFixturePath(s, dir)}/files")

  /** The archive fixture's index dir — exposed separately from
    * [[warcRecords]] so the crawl scheduling index can key itself off the
    * fixture's SEGMENT LISTING (`$path/files` names+sizes) instead of
    * parsed content.
    */
  /** Session-scoped memo for fixture index paths: the ensureIndex
    * fingerprint (count+xor over the documents ids) is a corpus-column
    * scan, and every warc/crawl query re-derived it per CALL — including
    * three times per query under Bench's median-of-3. The memo key
    * includes the sf dir's [[Tables.listingKey]] (names+sizes of the parquet
    * tables — an O(listing) stat, no data read), NOT just the path
    * string: a long-lived session that regenerates a fixture dir in
    * place gets a fresh resolution instead of a stale path, so the
    * "testdata never changes within a JVM" assumption is checked per
    * call rather than assumed forever.
    */
  private val fixturePathMemo =
    new java.util.concurrent.ConcurrentHashMap[(String, String, String), String]()

  private def warcFixturePath(s: SparkSession, dir: String): String =
    fixturePathMemo.computeIfAbsent(("warclqr", dir, Tables.listingKey(s, dir)), _ =>
      warcFixturePathUncached(s, dir))

  private def warcFixturePathUncached(s: SparkSession, dir: String): String = {
    val ids = t(s, dir, "documents").select(col("doc_id"))
    // kind "warclqr" (r15 bumps: q = unquoted anchors, r = relative
    // same-host anchors with dot segments) — payload-content changes
    // always bump the kind so a stale cache can never serve new oracles
    ensureIndex(s, ids, "warclqr", "built") { p =>
      val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(s"$p/files"), true) // crash debris
      val n = graft.sources.Warc.synthesizeFiles(s, ids, "doc_id", s"$p/files",
        nFiles = 16, linkSpace = ids.count())
      s.range(1).select(lit(n).as("n_records")).write.mode("overwrite").parquet(s"$p/built")
    }
  }

  /** The SAME corpus as [[warcFixturePath]] compressed as `.warc.zst`
    * (zstd whole-file members — Common Crawl's successor compression
    * for WARC-at-rest; the zstd-jni shipping with Spark decodes it).
    * Byte-identical records behind a different codec, so `warc_read_zstd`
    * shares `warc_read`'s oracle verbatim.
    */
  private def warcZstdFixturePath(s: SparkSession, dir: String): String =
    fixturePathMemo.computeIfAbsent(("warczstdlqr", dir, Tables.listingKey(s, dir)), _ => {
      val ids = t(s, dir, "documents").select(col("doc_id"))
      ensureIndex(s, ids, "warczstdlqr", "built") { p =>
        val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
        fs.delete(new org.apache.hadoop.fs.Path(s"$p/files"), true)
        val n = graft.sources.Warc.synthesizeFiles(s, ids, "doc_id", s"$p/files",
          nFiles = 16, gzip = false, zstd = true, linkSpace = ids.count())
        s.range(1).select(lit(n).as("n_records")).write.mode("overwrite").parquet(s"$p/built")
      }
    })

  /** The MIME-class archive (`Warc.mimeResponseRecordString`): separate
    * fixture for the WET content-type gate.
    */
  private def warcMimeFixturePath(s: SparkSession, dir: String): String =
    fixturePathMemo.computeIfAbsent(("warcmime", dir, Tables.listingKey(s, dir)), _ => {
      val ids = t(s, dir, "documents").select(col("doc_id"))
      ensureIndex(s, ids, "warcmime", "built") { p =>
        val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
        fs.delete(new org.apache.hadoop.fs.Path(s"$p/files"), true)
        val n = graft.sources.Warc.synthesizeFiles(s, ids, "doc_id", s"$p/files",
          nFiles = 16,
          recordFor = d => graft.sources.Warc.mimeResponseRecordString(d))
        s.range(1).select(lit(n).as("n_records")).write.mode("overwrite").parquet(s"$p/built")
      }
    })

  /** The LYING-HEADER archive (`Warc.sniffResponseRecordString`):
    * separate fixture for the magic-byte sniff tier, so the truthful
    * mime fixture's gate oracle stays untouched.
    */
  private def warcSniffFixturePath(s: SparkSession, dir: String): String =
    fixturePathMemo.computeIfAbsent(("warcsniff", dir, Tables.listingKey(s, dir)), _ => {
      val ids = t(s, dir, "documents").select(col("doc_id"))
      ensureIndex(s, ids, "warcsniff", "built") { p =>
        val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
        fs.delete(new org.apache.hadoop.fs.Path(s"$p/files"), true)
        val n = graft.sources.Warc.synthesizeFiles(s, ids, "doc_id", s"$p/files",
          nFiles = 16,
          recordFor = d => graft.sources.Warc.sniffResponseRecordString(d))
        s.range(1).select(lit(n).as("n_records")).write.mode("overwrite").parquet(s"$p/built")
      }
    })

  /** CASSETTE-RECORDED HTTP fixtures for S7 (DOI-metadata enrichment,
    * reference `synth/resources.py:184-218`) and S8 (bibliographic
    * search, `:259-302`) — the VCR pattern: responses are captured ONCE
    * through the REAL network client (`HttpFetcher` riding
    * `HttpEnrichment.fetchMisses`'s anti-join + `mapPartitions` + rate
    * limit — the exact production path) against an in-process loopback
    * server whose responses are ARITHMETIC in the request key, then
    * persisted as parquet cassettes. The replay queries
    * (`etl_enrich_replay`, `etl_search_replay`) consume only the
    * cassettes — verify/bench never touch a socket — and their DuckDB
    * oracles restate the server arithmetic, so a green row certifies the
    * whole live chain: URL build → HTTP → status split (the every-`…3`
    * key 404s) → cache write → replay parse. This is also the 100 TB
    * posture: the cache TABLE is the interface, network happens once per
    * novel key, downstream is pure joins.
    */
  private def httpCassettePath(s: SparkSession, dir: String): String =
    fixturePathMemo.computeIfAbsent(("httpcassette", dir, Tables.listingKey(s, dir)), _ => {
      val docs = t(s, dir, "documents").select(col("doc_id"))
      ensureIndex(s, docs, "httpcassette", "built") { p =>
        import s.implicits._
        val server = com.sun.net.httpserver.HttpServer.create(
          new java.net.InetSocketAddress("127.0.0.1", 0), 0)
        // S7 endpoint: metadata JSON, every field derivable from the key
        // (the oracle recomputes them in SQL); keys ending in '3' 404 —
        // the failure leg lands in the cassette as ok=false
        server.createContext("/works/", { exchange =>
          val doi = java.net.URLDecoder.decode(
            exchange.getRequestURI.getRawPath.stripPrefix("/works/"), "UTF-8")
          if (doi.endsWith("3")) exchange.sendResponseHeaders(404, -1)
          else {
            val len = doi.length
            val body = (s"""{"DOI":"$doi","publisher":"P${len % 7}",""" +
              s""""cited":${len * 3 + doi.count(_ == '7')}}""").getBytes("UTF-8")
            exchange.getResponseHeaders.add("Content-Type", "application/json")
            exchange.sendResponseHeaders(200, body.length)
            exchange.getResponseBody.write(body)
          }
          exchange.close()
        })
        // S8 endpoint: candidate list for a title query — the exact title
        // plus two static decoys; every 7th (topic+volume) query omits the
        // exact title, so the downstream fuzzy gate has a real miss leg
        server.createContext("/search/", { exchange =>
          val q = java.net.URLDecoder.decode(
            exchange.getRequestURI.getRawPath.stripPrefix("/search/"), "UTF-8")
          val tv = "study of topic (\\d+) volume (\\d+)".r
          val omit = q match {
            case tv(t, v) => (t.toInt + v.toInt) % 7 == 0
            case _        => true
          }
          val cands = (if (omit) Seq.empty else Seq(q)) ++
            Seq("archive record alpha", "unrelated catalog entry beta")
          val body = cands.mkString("|").getBytes("UTF-8")
          exchange.sendResponseHeaders(200, body.length)
          exchange.getResponseBody.write(body)
          exchange.close()
        })
        // daemon-flagged pool AND an explicit shutdown: server.stop does
        // NOT shut a user-supplied executor down, and its non-daemon
        // threads would pin the JVM open after main returns
        val pool = java.util.concurrent.Executors.newFixedThreadPool(8,
          (r: Runnable) => { val th = new Thread(r); th.setDaemon(true); th })
        server.setExecutor(pool)
        server.start()
        try {
          val base = s"http://127.0.0.1:${server.getAddress.getPort}"
          val emptyCache = Seq.empty[(String, String)].toDF("key", "value")
          val doiKeys = docs.filter(pmod(col("doc_id"), lit(5)) =!= 4)
            .select(concat(lit("10."),
              (pmod(col("doc_id"), lit(900)) + 100).cast("string"),
              lit("/k"), col("doc_id").cast("string")).as("key"))
          graft.sources.HttpEnrichment.fetchMisses(doiKeys, emptyCache,
              new graft.sources.HttpFetcher(k => s"$base/works/$k"),
              maxPerSecond = 1e9)
            .toDF().write.mode("overwrite").parquet(s"$p/works")
          val qKeys = docs.select(concat(lit("study of topic "),
            pmod(col("doc_id"), lit(50)).cast("string"), lit(" volume "),
            pmod(col("doc_id"), lit(9)).cast("string")).as("key"))
          graft.sources.HttpEnrichment.fetchMisses(qKeys, emptyCache,
              new graft.sources.HttpFetcher(k => s"$base/search/" +
                java.net.URLEncoder.encode(k, "UTF-8")),
              maxPerSecond = 1e9)
            .toDF().write.mode("overwrite").parquet(s"$p/search")
          s.range(1).select(lit(1L).as("ok")).write.mode("overwrite")
            .parquet(s"$p/built")
        } finally { server.stop(0); pool.shutdownNow() }
      }
    })

  /** The rel=canonical archive (`Warc.canonicalResponseRecordString`):
    * separate fixture so the flat fixture's payload-level oracles stay
    * untouched.
    */
  private def warcCanonFixturePath(s: SparkSession, dir: String): String =
    fixturePathMemo.computeIfAbsent(("warccanonh2", dir, Tables.listingKey(s, dir)), _ => {
      val ids = t(s, dir, "documents").select(col("doc_id"))
      ensureIndex(s, ids, "warccanonh2", "built") { p =>
        val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
        fs.delete(new org.apache.hadoop.fs.Path(s"$p/files"), true)
        val n = graft.sources.Warc.synthesizeFiles(s, ids, "doc_id", s"$p/files",
          nFiles = 16,
          recordFor = d => graft.sources.Warc.canonicalResponseRecordString(d))
        s.range(1).select(lit(n).as("n_records")).write.mode("overwrite").parquet(s"$p/built")
      }
    })

  /** The SECOND-snapshot archive (`changeSalt = 1`): the same corpus
    * re-fetched 14 days after [[warcFixturePath]]'s crawl, where exactly
    * the `d % 4 == 3` 200-status class changed content and every other
    * byte is identical — the observation pair the change-rate estimator
    * (`pipeline_crawl_change_rate`) compares digests across.
    */
  private def warcSnapFixturePath(s: SparkSession, dir: String): String =
    fixturePathMemo.computeIfAbsent(("warcsnap1", dir, Tables.listingKey(s, dir)), _ => {
      val ids = t(s, dir, "documents").select(col("doc_id"))
      ensureIndex(s, ids, "warcsnap1", "built") { p =>
        val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
        fs.delete(new org.apache.hadoop.fs.Path(s"$p/files"), true)
        val n = graft.sources.Warc.synthesizeFiles(s, ids, "doc_id", s"$p/files",
          nFiles = 16, linkSpace = ids.count(), changeSalt = 1L)
        s.range(1).select(lit(n).as("n_records")).write.mode("overwrite").parquet(s"$p/built")
      }
    })

  /** The BLOCK-STRUCTURED archive (`Warc.bpResponseRecordString`): pages
    * wrapped in sitewide chrome for the main-content extraction query —
    * separate fixture so the flat fixture's 24 payload-level oracles stay
    * untouched.
    */
  private def warcBpFixturePath(s: SparkSession, dir: String): String =
    fixturePathMemo.computeIfAbsent(("warcbphcenns", dir, Tables.listingKey(s, dir)), _ => {
      val ids = t(s, dir, "documents").select(col("doc_id"))
      // "warcbphcenns" (h = host-keyed footer token, c = charset declaration
      // classes, e = r16 ENCODING classes: latin-1/UTF-8-BOM/UTF-16LE
      // bodies, decoy + late + conflicting metas) — payload changes bump
      // the kind so a stale cache can never serve new oracles
      ensureIndex(s, ids, "warcbphcenns", "built") { p =>
        val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
        fs.delete(new org.apache.hadoop.fs.Path(s"$p/files"), true)
        val n = graft.sources.Warc.synthesizeFiles(s, ids, "doc_id", s"$p/files",
          nFiles = 16, recordFor = d => graft.sources.Warc.bpResponseRecordString(d))
        s.range(1).select(lit(n).as("n_records")).write.mode("overwrite").parquet(s"$p/built")
      }
    })

  /** The block-structured archive's scored block rows — one row per
    * `<p>`/`<div>` block of every 200-status page, with its text, token
    * counts, and the [[graft.functions.Boilerplate]] content verdict.
    * Shared by `warc_main_content` (the extraction table) and
    * `warc_main_dedup` (the chrome-vs-content dedup ledger).
    */
  private def bpScoredBlocks(s: SparkSession, dir: String): DataFrame =
    bpScoredBlocksFromParsed(graft.sources.Warc.httpParsed(
      graft.sources.Warc.responses(graft.sources.Warc.readRecords(
        s, s"${warcBpFixturePath(s, dir)}/files")).toDF()))

  /** As [[bpScoredBlocks]], over an already-HTTP-parsed frame — shared
    * with the streamed ingest, whose micro-batches arrive pre-parsed.
    * The body decodes through the DETECTED charset (BOM > header > meta
    * prelude > UTF-8 default), not a blind UTF-8 read — the fixture's
    * latin-1/UTF-16/BOM classes make every downstream main-content
    * oracle load-bearing on that decode (a UTF-8 read of the UTF-16
    * class yields NUL-riddled garbage no block regex would match).
    */
  private def bpScoredBlocksFromParsed(parsed: DataFrame): DataFrame = {
    val (cs, _) = graft.functions.Charset.detect(
      col("content_type"), col("body_bytes"))
    val pages = parsed
      .filter(col("http_status") === 200)
      .select(regexp_extract(col("record_id"), "doc-(\\d+)", 1).cast("long").as("doc_id"),
        graft.functions.Url.canonicalizeUrl(col("uri")).as("url"),
        graft.functions.Charset.decodeWith(col("body_bytes"), cs).as("body"))
    val bp = graft.functions.Boilerplate
    pages.select(col("doc_id"), col("url"),
        posexplode(bp.blocks(col("body"))).as(Seq("pos", "raw")))
      .select(col("doc_id"), col("url"), col("pos"),
        bp.blockText(col("raw")).as("text"),
        bp.tokenCount(bp.blockText(col("raw"))).as("n_toks"),
        bp.tokenCount(bp.linkText(col("raw"))).as("n_link_toks"))
      .withColumn("kept", bp.isContent(col("n_toks"), col("n_link_toks")))
  }

  /** Per-doc MAIN-content frame from scored block rows: the retained
    * token count and the retained text's digest, in the (n_tokens,
    * text_md5) slots [[graft.streaming.WarcIngest]]'s claim-log tiers
    * consume — so the streamed curation runs unchanged on
    * chrome-stripped text.
    */
  private def bpMainPages(scored: DataFrame): DataFrame =
    scored.groupBy("doc_id", "url")
      .agg(coalesce(sum(when(col("kept"), col("n_toks"))), lit(0L)).as("n_tokens"),
        // NFC before hashing (Unicode TR15): the decomposed-accent class
        // must collide with visually-identical precomposed text in the
        // dedup tier — byte-keyed hashing without the fold silently
        // treats composition variants as distinct documents
        md5(graft.functions.NormalizeColumn.nfc(array_join(transform(
          array_sort(collect_list(when(col("kept"), struct(col("pos"), col("text"))))),
          b => b.getField("text")), "\n"))).as("text_md5"))

  /** Self-loop-free undirected pair view of an edge table — the CC
    * operators' input shape.
    */
  private def componentPairs(edges: DataFrame): DataFrame =
    edges.filter(col("src") =!= col("dst"))
      .select(col("src").as("doc_a"), col("dst").as("doc_b"))

  /** Assemble per-node component rows from a CC labeling over the edge
    * table's node set: singletons (self-loop-only nodes carry no pair)
    * via the left join, sizes as a count over the component's window.
    * Shared by `graph_components` and its incremental twin so the two
    * queries can only differ in HOW the labeling was computed.
    *
    * The size is a window, not a join back to a grouped count: a
    * self-join through an aggregate let AQE pick its join per run from
    * whichever side's shuffle finished first (a shuffled join, or a
    * broadcast of either side), and each pick is different generated
    * code, so warm runs compiled anew.
    */
  private def componentAssembly(edges: DataFrame, labeling: DataFrame): DataFrame = {
    val nodes = edges.select(col("src").as("node"))
      .unionByName(edges.select(col("dst").as("node"))).distinct()
    val labels = labeling
      .select(col("doc_id").as("node"), col("cluster_id").as("component_id"))
    nodes.join(labels, Seq("node"), "left")
      .select(col("node"),
        coalesce(col("component_id"), col("node")).as("component_id"))
      .withColumn("component_size",
        count(lit(1)).over(Window.partitionBy("component_id")))
      .orderBy("node")
  }

  /** The streamed MAIN-CONTENT curation fixture: 16 range-partitioned bp
    * segments consumed as 4 micro-batches of 4 files through
    * [[graft.streaming.WarcIngest.processBatch]] over the
    * chrome-stripped main frame ([[bpMainPages]]). Kind carries the bp
    * payload classes (h = host-keyed footer, c = charset declarations).
    */
  private def warcBpIngestPath(s: SparkSession, dir: String): String =
    fixturePathMemo.computeIfAbsent(("warcbpingesthcenns", dir, Tables.listingKey(s, dir)), _ => {
      val ids = t(s, dir, "documents").select(col("doc_id"))
      ensureIndex(s, ids, "warcbpingesthcenns", "built") { p =>
        val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
        fs.delete(new org.apache.hadoop.fs.Path(s"$p/warc"), true)
        graft.sources.Warc.synthesizeFiles(s, ids, "doc_id", s"$p/warc",
          nFiles = 16, rangePartition = true,
          recordFor = d => graft.sources.Warc.bpResponseRecordString(d))
        (0 until 4).foreach { b =>
          val files = (4 * b until 4 * b + 4)
            .map(f => f"part-$f%05d.warc.gz").mkString("{", ",", "}")
          val parsed = graft.sources.Warc.httpParsed(graft.sources.Warc.responses(
            graft.sources.Warc.readRecords(s, s"$p/warc/$files")).toDF())
          graft.streaming.WarcIngest.processBatch(
            bpMainPages(bpScoredBlocksFromParsed(parsed)), b.toLong, s"$p/log")
        }
        import s.implicits._
        Seq(4).toDF("n_batches").coalesce(1).write.mode("overwrite")
          .parquet(s"$p/built")
      }
    })

  /** Per-url change-rate estimates across the two crawl snapshots —
    * shared by `pipeline_crawl_change_rate` (the estimator table) and
    * `pipeline_crawl_refresh_adaptive` (the scheduler it feeds). One
    * archive pass per snapshot: digests computed map-side, then the
    * 4-column frame is checkpointed (payload bytes never shuffle, and
    * the latest-per-key tiers reference it twice). Latest-per-(url,
    * snapshot) is max(long) + join-back — hash aggregate and hash join;
    * a max_by(digest, doc_id) would put a string in the agg buffer and
    * force SortAggregate (see pipeline_warc's note). The estimator is
    * Cho & Garcia-Molina (TODS 2003): λ̂ = ln((n + 0.5) / (n − X + 0.5))
    * / I for n re-fetches with X detected changes at interval I; the
    * positive-log form keeps the unchanged case exactly +0.0 (the
    * -ln(r)/I form yields -0.0, which is bit-unequal across engines).
    * Revisit interval targets half-a-change per visit, capped at 60 d.
    */
  private def changeRateEstimates(s: SparkSession, dir: String): DataFrame = {
    val snap0 = graft.sources.Warc.responses(warcRecords(s, dir)).toDF()
      .withColumn("snap", lit(0))
    val snap1 = graft.sources.Warc.responses(graft.sources.Warc.readRecords(
        s, s"${warcSnapFixturePath(s, dir)}/files")).toDF()
      .withColumn("snap", lit(1))
    val recs = snap0.unionByName(snap1)
      .select(graft.functions.Url.canonicalizeUrl(col("uri")).as("url"),
        regexp_extract(col("record_id"), "doc-(\\d+)", 1).cast("long").as("doc_id"),
        col("snap"), md5(col("payload")).as("digest"))
      .localCheckpoint()
    val latestIds = recs.groupBy("url", "snap").agg(max("doc_id").as("doc_id"))
    val latest = recs.join(latestIds, Seq("url", "snap", "doc_id"))
      .localCheckpoint() // tiny (one row per url per snapshot)
    val obs = latest.filter(col("snap") === 0)
      .select(col("url"), col("digest").as("d0"))
      .join(latest.filter(col("snap") === 1)
        .select(col("url"), col("digest").as("d1")), Seq("url"))
      .select(col("url"), (col("d0") =!= col("d1")).as("changed"))
    val n = lit(1.0) // one re-fetch interval between the two snapshots
    val x = col("changed").cast("double")
    val lam = log((n + lit(0.5)) / (n - x + lit(0.5))) / lit(14.0)
    obs.select(col("url"), col("changed"),
      round(lam, 6).as("lambda_hat"),
      when(col("changed"), round(least(lit(60.0), lit(0.5) / lam), 2))
        .otherwise(lit(60.0)).as("revisit_days"))
  }

  /** Node id of a canonical fixture URL — the path id the oracles'
    * arithmetic is stated in (a real corpus would use LinkIngest's
    * default url-hash nodes instead).
    */
  private val pathIdNode: Column => Column =
    u => regexp_extract(u, "/d/(\\d+)", 1).cast("long")

  /** The per-host robots.txt policy fixture shared by the robots-family
    * queries — one adversarial case per parser obligation (documented at
    * `warc_robots_gate`). The `Sitemap:` line rides INSIDE the fetchbot
    * decoy group on purpose: sitemap discovery is group-INDEPENDENT
    * (RFC 9309 §2.3), so it must surface even from a group whose rules
    * never apply — while the group's `Disallow: /` keeps not leaking.
    * Every host but 3 also declares a STACKED named-bot group
    * (`User-agent: graftbot` + `User-agent: newsbot` sharing one rule
    * block — the graftbot line is directive-less and must inherit, RFC
    * 9309 §2.1) whose rules gate `warc_robots_gate_bot` and must never
    * leak into the `*` tier; host 3 has none, proving the `*` fallback.
    */
  private def robotsPolicies(s: SparkSession): DataFrame = {
    val h = col("id")
    s.range(7).select(
      concat(lit("d"), h, lit(".ex.test")).as("host"),
      concat(
        lit("User-agent: fetchbot\nDisallow: /\nCrawl-delay: 99\n"),
        concat(lit("Sitemap: https://d"), h, lit(".ex.test/sitemap-"), h,
          lit(".xml\n")),
        lit("\n"),
        lit("User-agent: *bot\nDisallow: /\n\n"),
        when(h =!= 3, concat(
          lit("User-agent: graftbot\nUser-agent: newsbot\nDisallow: /d/\n"),
          lit("Allow: /d/"), h, lit("5\nCrawl-delay: 7\n\n")))
          .otherwise(lit("")),
        lit("User-agent: *\n"),
        when(h === 5, lit("Disallow:\n"))
          .otherwise(concat(lit("Disallow: /d/"), h, lit("\n"))),
        when(h === 6, lit("Disallow: /d/16\n")).otherwise(lit("")),
        when(h =!= 5, concat(lit("Allow: /d/"), h, lit("5\n"))).otherwise(lit("")),
        when(h === 4, lit("Disallow: /d/*7$\nAllow: /d/\n")).otherwise(lit("")),
        lit("Crawl-delay: 2\n")).as("robots_txt"))
  }

  /** Per-host sitemap DOCUMENTS — the XML the `Sitemap:` lines of
    * [[robotsPolicies]] point at, synthesized from host/position
    * arithmetic so the parse replays exactly. Each host's `<urlset>`
    * lists 43 `<loc>` entries (p = h + 7k for k < 40, then three
    * beyond-corpus pages at n + h + 7(k−40) — the genuinely-unseen seeds
    * a sitemap exists to surface), with three messiness classes the
    * parser and canonicalizer must erase: k%4==1 locs in shouting-caps-
    * with-port form, k%4==2 locs whitespace/newline-padded inside the
    * element, and k%4==3 locs of pages whose discovered canonical form
    * carries a query string (p%5==0, non-alias, in-corpus) written WITH
    * that query string XML-ESCAPED (`?a=1&amp;b=2`) — entity decoding
    * must fold these onto the discovered url or they surface as
    * spurious frontier seeds (the real-world `&amp;` defect). `lastmod`
    * is ARITHMETIC per entry — 2026-01-01 + (p % 60) days — so the
    * staleness tier replays exactly (entries past the 2026-02-01 fetch
    * snapshot, i.e. p%60 ≥ 32, are the stale class); `priority` stays a
    * decoy the extraction must ignore.
    */
  private def sitemapDocs(s: SparkSession, nDocs: Long): DataFrame = {
    val h = col("id")
    val entries = transform(sequence(lit(0), lit(42)), k => {
      val p = when(k < 40, h + k * 7)
        .otherwise(lit(nDocs) + h + (k - 40) * 7)
      val plain = concat(lit("https://d"), h, lit(".ex.test/d/"), p)
      val loud = concat(lit("HTTPS://D"), h, lit(".EX.TEST:443/d/"), p)
      val escapedQuery = concat(plain, lit("?a=1&amp;b=2"))
      val loc = when(pmod(k, lit(4)) === 1, loud)
        .when(pmod(k, lit(4)) === 2, concat(lit("\n      "), plain, lit("  \n    ")))
        .when(pmod(k, lit(4)) === 3 && k < 40 &&
          pmod(p, lit(5)) === 0 && pmod(p, lit(3)) =!= 2, escapedQuery)
        .otherwise(plain)
      val lastmod = date_format(
        date_add(to_date(lit("2026-01-01")), pmod(p, lit(60)).cast("int")),
        "yyyy-MM-dd")
      concat(lit("  <url><loc>"), loc,
        lit("</loc><lastmod>"), lastmod,
        lit("</lastmod><priority>0.5</priority></url>\n"))
    })
    s.range(7).select(
      concat(lit("d"), h, lit(".ex.test")).as("host"),
      concat(
        lit("<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n" +
          "<urlset xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">\n"),
        concat_ws("", entries),
        lit("</urlset>\n")).as("sitemap_xml"))
  }

  /** RECURSIVE sitemap discovery — the iterative fetch-parse loop a real
    * crawler runs over index-of-index nesting (seen in the wild for
    * >50k-URL sites), with the two guards that make it safe on hostile
    * input: a DEPTH BUDGET (the loop is driver-bounded, each level one
    * join + parse — crawl-cadence work, never data-scaled rounds) and a
    * CYCLE GUARD (a visited anti-join per level, so an index that lists
    * itself — or any loop through the nesting — terminates instead of
    * re-fetching forever). Locs split by suffix: `.xml` → re-fetch next
    * level, anything else → page seed. `fetched` models the fetch cache
    * (host, sm_url, xml); production swaps it for the HTTP leg.
    */
  private[graft] def sitemapWalk(fetched: DataFrame, roots: DataFrame,
      maxDepth: Int): DataFrame = {
    val isXml = (c: Column) => lower(c).endsWith(".xml")
    var visited = roots.select(col("host"), col("sm_url")).distinct()
      .localCheckpoint()
    var frontier = visited
    var seeds: DataFrame = null
    var depth = 0
    var done = false
    while (depth < maxDepth && !done) {
      val locs = frontier.join(fetched, Seq("host", "sm_url"))
        .select(col("host"),
          explode(graft.functions.Robots.sitemapLocs(col("xml"))).as("loc"))
      val pages = locs.filter(!isXml(col("loc")))
      seeds = if (seeds == null) pages else seeds.unionByName(pages)
      val next = locs.filter(isXml(col("loc")))
        .select(col("host"), col("loc").as("sm_url")).distinct()
        .join(visited, Seq("host", "sm_url"), "left_anti")
        .localCheckpoint() // truncate lineage per level; one action
      done = next.isEmpty
      visited = visited.unionByName(next).localCheckpoint()
      frontier = next
      depth += 1
    }
    if (seeds == null) fetched.select(col("host"), lit("").as("loc")).limit(0)
    else seeds
  }

  /** The crawl link graph extracted from the archived pages THEMSELVES
    * (not synthesized arithmetic): anchor hrefs from every 200-status
    * body (`HtmlTextColumn.hrefs`, one codegen'd regexp pass),
    * canonicalized, then RESOLVED against the canonical-URL table of all
    * fetched pages — so aliases fold on BOTH ends and a link written
    * as `HTTPS://D1.EX.TEST:443/d/43#frag` lands on the same node as
    * `https://d1.ex.test/d/43`. Nodes are canonical path ids; edges
    * dedup after the fold. Scale shape: href extraction is map-side over
    * the archive scan; resolution is one shuffle join on the canonical
    * url (the discovered-URL table is corpus-sized — NOT broadcast);
    * dedup is one hash aggregate. Shared by `warc_links` (the oracled
    * edge table) and the frontier pipelines that rank over it.
    */
  private def warcLinkEdges(s: SparkSession, dir: String): DataFrame = {
    val parsed = graft.sources.Warc.httpParsed(
      graft.sources.Warc.responses(warcRecords(s, dir)).toDF())
    // resolution table: every fetched page (404s included — a link to a
    // dead page is still a link) as canonical url -> node id
    val urls = parsed
      .select(graft.functions.Url.canonicalizeUrl(col("uri")).as("dst_url"))
      .filter(col("dst_url").isNotNull).distinct()
      .withColumn("dst", pathIdNode(col("dst_url")))
    val links = parsed.filter(col("http_status") === 200)
      .select(graft.functions.Url.canonicalizeUrl(col("uri")).as("src_url"),
        explode(graft.functions.HtmlTextColumn.hrefs(col("body"))).as("href"))
      .filter(col("src_url").isNotNull)
      // RFC 3986 resolution against the page's canonical url (absolute
      // hrefs pass through verbatim) — relative anchors, the dominant
      // form in real HTML, land on the same node as their absolute twins
      .select(pathIdNode(col("src_url")).as("src"),
        graft.functions.Url.canonicalizeUrl(
          graft.functions.Url.resolveUrl(col("src_url"), col("href")))
          .as("dst_url"))
      .filter(col("dst_url").isNotNull)
    links.join(urls, Seq("dst_url"))
      .select("src", "dst").distinct()
  }

  /** The four resource sheets of `s4_xlsx`, in `Schemas.xlsx*` column
    * order, derived from TPC-H rows: categories from region, institutions
    * from nation, installation facilities from supplier, access requests
    * from orders. Planted: empty cells (every other HigherCategoryName,
    * CountryCode on nationkey % 7 = 3, DaysRequested on orderkey % 13 = 0)
    * and non-ASCII text ("Catégorie", "Université"). The `s4_xlsx` oracle
    * derives the same rows in DuckDB — change both together.
    */
  private def xlsxFixtureSheets(s: SparkSession, dir: String): Seq[(String, DataFrame)] = {
    import graft.etl.Schemas
    val o = t(s, dir, "orders")
    val r = t(s, dir, "region")
    val sp = t(s, dir, "supplier")
    val n = t(s, dir, "nation")
    Seq(
      "AccessRequest" -> o.select(col("o_orderkey"), col("o_custkey"),
        col("o_orderkey") % 4 + 1, col("o_custkey") % 100 + 1,
        when(col("o_orderkey") % 13 =!= 0, col("o_orderkey") % 30 + 1),
        col("o_orderpriority")).toDF(Schemas.xlsxAccessRequest.fieldNames: _*),
      "Category" -> r.select(col("r_regionkey") + 1, col("r_name"),
        when(col("r_regionkey") % 2 === 1, concat(lit("Cat\u00e9gorie "), col("r_name"))))
        .toDF(Schemas.xlsxCategory.fieldNames: _*),
      "InstallationFacility" -> sp.select(col("s_suppkey"),
        concat(lit("IF-"), col("s_suppkey").cast("string")), col("s_name"),
        col("s_nationkey") % 5 + 1, col("s_nationkey") + 1)
        .toDF(Schemas.xlsxInstallationFacility.fieldNames: _*),
      "Institution" -> n.select(col("n_nationkey") + 1, substring(col("n_name"), 1, 3),
        concat(lit("Universit\u00e9 de "), col("n_name")),
        when(col("n_nationkey") % 7 =!= 3, substring(col("n_name"), 1, 2)))
        .toDF(Schemas.xlsxInstitution.fieldNames: _*))
  }

  /** One sheet row as text, columns '|'-joined, NULLs skipped — what the
    * `s4_xlsx` digest sorts and hashes (DuckDB's `concat_ws` also skips
    * NULLs).
    */
  private def xlsxRowText(df: DataFrame): Column =
    concat_ws("|", df.columns.toIndexedSeq.map(c => col(c).cast("string")): _*)

  /** The `s4_xlsx` workbook, `access_request_rebuild.xlsx`, written once
    * per distinct sheet content (ensureIndex-keyed on the row texts, so
    * sf0.01/sf0.1 coexist and a regenerated table forces a rebuild).
    */
  private def xlsxFixturePath(s: SparkSession, dir: String): String = {
    val sheets = xlsxFixtureSheets(s, dir)
    val corpus = sheets.map { case (_, df) => df.select(xlsxRowText(df).as("row")) }
      .reduce(_ union _)
    ensureIndex(s, corpus, "xlsxs4", "built") { p =>
      val bytes = graft.sources.Xlsx.writeBytes(sheets.map { case (name, df) =>
        (name, df.columns.toSeq, df.orderBy(df.columns.head).collect().toSeq.map(_.toSeq))
      })
      val out = new org.apache.hadoop.fs.Path(s"$p/access_request_rebuild.xlsx")
      val os = out.getFileSystem(s.sparkContext.hadoopConfiguration).create(out, true)
      try os.write(bytes) finally os.close()
      s.range(1).select(lit(bytes.length).as("bytes")).write.mode("overwrite")
        .parquet(s"$p/built")
    }
  }

  /** The streamed-ingest segment fixture shared by `warc_ingest_streamed`
    * and `warc_links_streamed`: 16 range-partitioned archive segments
    * (anchors planted, linkSpace = corpus) consumed as 4 micro-batches of
    * 4 files each, driving BOTH the curation claim log
    * ([[graft.streaming.WarcIngest]]) and the link-graph accumulation
    * ([[graft.streaming.LinkIngest]]) — one fixture build, the
    * `activityPath` no-drift pattern, plus a SECOND link index
    * (`links_compact`) fed the same batches and then COMPACTED — the
    * `warc_links_compacted` equivalence twin reads it while
    * `pipeline_crawl_refresh` keeps its time-travel history on the
    * uncompacted one. Kind "warcingestl2qr" (r15 bumps for the unquoted
    * and relative anchor classes): the
    * segment payloads now carry anchors and the builder grew the
    * compacted index.
    */
  private def warcIngestPath(s: SparkSession, dir: String): String =
    fixturePathMemo.computeIfAbsent(("warcingestl2qr", dir, Tables.listingKey(s, dir)),
      _ => warcIngestPathUncached(s, dir))

  private def warcIngestPathUncached(s: SparkSession, dir: String): String = {
    val ids = t(s, dir, "documents").select(col("doc_id"))
    ensureIndex(s, ids, "warcingestl2qr", "built") { p =>
      val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(s"$p/warc"), true) // crash debris
      graft.sources.Warc.synthesizeFiles(s, ids, "doc_id", s"$p/warc",
        nFiles = 16, rangePartition = true, linkSpace = ids.count())
      (0 until 4).foreach { b =>
        val files = (4 * b until 4 * b + 4)
          .map(f => f"part-$f%05d.warc.gz").mkString("{", ",", "}")
        val resp = graft.sources.Warc.httpParsed(graft.sources.Warc.responses(
          graft.sources.Warc.readRecords(s, s"$p/warc/$files")).toDF())
        graft.streaming.WarcIngest.processBatch(warcPagesFromParsed(resp),
          b.toLong, s"$p/log")
        graft.streaming.LinkIngest.processBatch(resp, b.toLong, s"$p/links")
        graft.streaming.LinkIngest.processBatch(resp, b.toLong, s"$p/links_compact")
      }
      graft.streaming.LinkIngest.compact(s, s"$p/links_compact")
      import s.implicits._
      Seq(4).toDF("n_batches").coalesce(1).write.mode("overwrite")
        .parquet(s"$p/built")
    }
  }

  /** PERSISTED crawl scheduling state — converged ranks AND the
    * discovered-URL candidate table — keyed by the archive's SEGMENT
    * LISTING (names+sizes, [[Tables.listingKey]]), never by extracted content:
    * an unchanged archive must cost a scheduling query an O(listing)
    * freshness check, not the WARC parse + href extraction + resolution
    * join the r13 content fingerprint re-ran per decision. New or
    * rewritten segments change the listing and rebuild both tables
    * (ranking is the offline, amortized half: 10 power-iteration rounds
    * at crawl-refresh cadence); scheduling queries read two parquet
    * tables and pay only their own joins. Oracles are UNCHANGED — they
    * replay the full chain, so a stale or drifted index shows up as a
    * red row, not a silent skew. Marker = "ranks", the LAST table the
    * build writes.
    */
  private def crawlIndexPath(s: SparkSession, dir: String): String = {
    val fixture = warcFixturePath(s, dir)
    ensureIndexNamed(s, "crawlsched",
        Tables.listingKey(s, s"$fixture/files"), "ranks") { p =>
      val resp = graft.sources.Warc.responses(
        graft.sources.Warc.readRecords(s, s"$fixture/files")).toDF()
      // the discovered-URL table: one row per canonical url with its
      // host/path/node — exactly what the frontier gates and budgets over
      // (host/path agree per canonical url, so distinct-on-url is exact)
      resp.select(graft.functions.Url.canonicalizeUrl(col("uri")).as("url"),
          lower(try_parse_url(col("uri"), lit("HOST"))).as("host"),
          try_parse_url(col("uri"), lit("PATH")).as("path"))
        .filter(col("url").isNotNull).distinct()
        .withColumn("node", regexp_extract(col("path"), "/d/(\\d+)", 1).cast("long"))
        .write.mode("overwrite").parquet(s"$p/urls")
      graft.operators.Graph.pageRank(warcLinkEdges(s, dir), "src", "dst",
          iterations = 10)
        .write.mode("overwrite").parquet(s"$p/ranks")
    }
  }

  private def crawlRanks(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"${crawlIndexPath(s, dir)}/ranks")

  /** The persisted discovered-URL table — the scheduling queries'
    * candidate source (r13 re-parsed the archive per query for this
    * frame; at 100 TB candidates come from crawl state, not a corpus
    * re-read).
    */
  private def crawlUrls(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"${crawlIndexPath(s, dir)}/urls")

  /** The rank index for ANY edge table, fingerprint-keyed — so the full
    * graph's ranks and a PRIOR crawl state's ranks (the refresh
    * pipeline's warm-start input) each persist once and coexist. Content
    * keying here is for edges that are CHEAP to evaluate (the arithmetic
    * graphs); edges extracted from ingested state key off their ingest
    * metadata instead ([[ranksForLinkIndex]], [[crawlIndexPath]]).
    */
  private def ranksFor(s: SparkSession, edges: DataFrame): DataFrame = {
    val path = ensureIndex(s, edges, "crawlrank", "ranks") { p =>
      graft.operators.Graph.pageRank(edges, "src", "dst", iterations = 10)
        .write.mode("overwrite").parquet(s"$p/ranks")
    }
    s.read.parquet(s"$path/ranks")
  }

  /** Converged ranks over a [[graft.streaming.LinkIngest]] index's edge
    * table (optionally as of a batch bound), keyed by the index's LANDED
    * DATA LISTING — batch-dir file names+sizes under `pairs/` and
    * `urls/`, filtered to the bound — so a freshness check costs
    * O(listing), never the resolution join the edge read itself pays.
    * (A compaction collapses the listing and forces one rebuild of the
    * same ranks — the cheap, correct side of that trade.)
    */
  private def ranksForLinkIndex(s: SparkSession, idx: String,
      upToBatch: Option[Long], nodeOf: Column => Column): DataFrame = {
    val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
    val roster = Seq("pairs", "urls").flatMap { tbl =>
      val root = new org.apache.hadoop.fs.Path(s"$idx/$tbl")
      if (!fs.exists(root)) Seq.empty
      else fs.listStatus(root).toIndexedSeq
        .filter { st =>
          st.isDirectory && st.getPath.getName.startsWith("batch_id=") &&
            upToBatch.forall(
              st.getPath.getName.stripPrefix("batch_id=").toLong <= _)
        }
        .flatMap(d => fs.listStatus(d.getPath).toIndexedSeq.filter(_.isFile)
          .map(f => s"$tbl/${d.getPath.getName}/${f.getPath.getName}:${f.getLen}"))
    }.sorted
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest((roster :+ s"b${upToBatch.getOrElse(-1L)}")
        .mkString("\n").getBytes("UTF-8"))
    // n from the roster TEXT bytes (names+sizes), not the file count —
    // same cross-SF coexistence rationale as Tables.listingKey
    val name = f"n${roster.map(_.length + 1L).sum}" +
      f"_x${java.nio.ByteBuffer.wrap(md).getLong}%016x"
    val path = ensureIndexNamed(s, "crawlrankm", name, "ranks") { p =>
      graft.operators.Graph.pageRank(
          graft.streaming.LinkIngest.edges(s, idx, upToBatch, nodeOf),
          "src", "dst", iterations = 10)
        .write.mode("overwrite").parquet(s"$p/ranks")
    }
    s.read.parquet(s"$path/ranks")
  }

  /** The parsed-page digest shared by `pipeline_warc` and its streamed
    * twin: 200-status responses reduced to (doc_id, canonical url, token
    * count, text md5) — one archive pass, bytes never leave the map side.
    */
  private def warcPages(resp: DataFrame): DataFrame =
    warcPagesFromParsed(graft.sources.Warc.httpParsed(resp))

  /** As [[warcPages]], over an already-HTTP-parsed frame (shared with the
    * segment fixture, where the parse also feeds the link ingest).
    */
  private def warcPagesFromParsed(parsed: DataFrame): DataFrame =
    parsed
      .filter(col("http_status") === 200)
      .select(regexp_extract(col("record_id"), "doc-(\\d+)", 1).cast("long").as("doc_id"),
        graft.functions.Url.canonicalizeUrl(col("uri")).as("url"),
        graft.functions.HtmlTextColumn.htmlText(col("body")).as("text"))
      // an uncanonicalizable url (NULL) cannot claim a fetch slot — drop
      // it here so the dedup tiers never group the NULLs together
      .filter(col("url").isNotNull)
      .select(col("doc_id"), col("url"),
        size(split(trim(col("text")), "\\s+")).cast("bigint").as("n_tokens"),
        md5(col("text")).as("text_md5"))

  /** One oracle for `pipeline_warc` AND `warc_ingest_streamed`: replays
    * the four curation tiers from doc_id arithmetic (url slots claimed by
    * min doc_id BEFORE the quality gate, then the min-id text-md5
    * representative among the gated url survivors). Both queries hashing
    * green against the same literal is the batch ≡ streamed equivalence
    * proof.
    */
  /** One oracle for `warc_sitemap_urls`, `warc_sitemap_index`, AND
    * `warc_sitemap_walk`: every loc variant canonicalizes to the one
    * arithmetic form (the k%4==3 escaped-query class decodes `&amp;` and
    * surfaces WITH its query string), and both the two-level index walk
    * and the recursive cycle-guarded walk must land the identical seed
    * set — nesting ≡ flat (the equivalence-twin convention).
    */
  private val sitemapUrlsOracle: String =
    """WITH nn AS (SELECT count(*) AS n FROM documents),
      |ks AS (SELECT h, k, CASE WHEN k < 40 THEN h + 7*k
      |              ELSE (SELECT n FROM nn) + h + 7*(k-40) END AS p
      |  FROM range(7) t(h), range(43) t2(k))
      |SELECT DISTINCT 'd' || h || '.ex.test' AS host,
      |  'https://d' || h || '.ex.test/d/' || p ||
      |    (CASE WHEN k % 4 = 3 AND k < 40 AND p % 5 = 0 AND p % 3 <> 2
      |          THEN '?a=1&b=2' ELSE '' END) AS url
      |FROM ks ORDER BY host, url""".stripMargin

  private val warcPipelineOracle: String =
    """WITH ids AS (SELECT doc_id AS d FROM documents WHERE doc_id % 11 <> 0),
      |tx AS (SELECT d, CASE WHEN d % 3 = 2 THEN d - 1 ELSE d END AS p,
      |  array_to_string(list_transform(range(0, d % 9 + 1), i -> 'w' || ((d * 7 + i) % 13)), ' ') ||
      |  (CASE WHEN d % 7 = 0 THEN E'\r\n\r\nWARC/1.0\r\nWARC-Type: response\r\nContent-Length: 7\r\n\r\ngotcha!' ELSE '' END) AS text
      | FROM ids),
      |canon AS (SELECT d, text,
      |  'https://d' || (p % 7) || '.ex.test/d/' || p ||
      |    (CASE WHEN p % 5 = 0 THEN '?a=1&b=2' ELSE '' END) AS url,
      |  CAST(length(list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '')) AS BIGINT) AS n_tokens
      | FROM tx),
      |url_kept AS (SELECT min(d) AS d FROM canon GROUP BY url),
      |gated AS (SELECT c.* FROM canon c JOIN url_kept k ON c.d = k.d WHERE c.n_tokens >= 3),
      |text_kept AS (SELECT min(d) AS d FROM gated GROUP BY md5(text))
      |SELECT g.d AS doc_id, g.url, g.n_tokens
      |FROM gated g JOIN text_kept t ON g.d = t.d ORDER BY doc_id""".stripMargin

  /** The planted-anchor run of a 200-status page (`Warc
    * .responseRecordString` linkSpace arm) — appended to the replayed
    * body in every PAYLOAD-level WARC oracle. Row scope must provide `d`
    * (doc id) and `n` (full corpus count — the linkSpace modulus).
    * Nested list_transforms bind the intermediate names a SQL lambda
    * can't (dst, then the canonical target path pt).
    */
  private val warcAnchorSql: String =
    """(CASE WHEN d % 5 <> 0 THEN array_to_string(list_transform(list_transform(list_transform(
      |    range(0, d % 3 + 1),
      |    j -> {'par': (d + j) % 2, 'unq': (d + j) % 6 = 4, 'r12': (d + j) % 12, 'dst0': (d*13 + j*17 + 1) % n}),
      |    x -> {'par': x.par, 'unq': x.unq,
      |          'rel': x.r12 % 6 = 2, 'r12': x.r12,
      |          'pt': CASE WHEN x.dst0 % 3 = 2 THEN x.dst0 - 1 ELSE x.dst0 END}),
      |    x -> (CASE WHEN x.unq THEN '<a href=' ELSE '<a href="' END) ||
      |      (CASE WHEN x.rel AND x.pt % 7 = (CASE WHEN d % 3 = 2 THEN d - 1 ELSE d END) % 7
      |        THEN (CASE WHEN x.r12 = 2 THEN '../d/' ELSE '/d/../d/' END) || x.pt ||
      |          (CASE WHEN x.pt % 5 = 0 THEN '?a=1&b=2' ELSE '' END)
      |       WHEN x.par = 1
      |        THEN 'HTTPS://' || upper('d' || (x.pt % 7) || '.ex.test') || ':443/d/' || x.pt ||
      |          (CASE WHEN x.pt % 5 = 0 THEN '?b=2&a=1' ELSE '' END) || '#frag'
      |        ELSE 'https://d' || (x.pt % 7) || '.ex.test/d/' || x.pt ||
      |          (CASE WHEN x.pt % 5 = 0 THEN '?a=1&b=2' ELSE '' END) END) ||
      |      (CASE WHEN x.unq THEN ' ></a>' ELSE '"></a>' END)), '') ELSE '' END)""".stripMargin

  /** The flat-fixture PAYLOAD reconstruction WITH-chain (`ids` → `pay`
    * with full anchor runs) — shared by every oracle that needs the
    * exact response bytes: `warc_read` (lengths + md5s) and
    * `warc_truncated_export` (cap arithmetic). Mirrors
    * `Warc.responseRecordString` verbatim.
    */
  private lazy val warcPayloadCte: String =
    ("""WITH ids AS (SELECT doc_id AS d FROM documents),
      |nn AS (SELECT count(*) AS n FROM documents),
      |b AS (SELECT d, d % 4 AS v, CASE WHEN d % 3 = 2 THEN d - 1 ELSE d END AS p FROM ids),
      |q AS (SELECT *, array_to_string(list_filter([
      |    CASE WHEN p % 5 = 0 THEN (CASE WHEN d % 2 = 0 THEN 'a=1&b=2' ELSE 'b=2&a=1' END) ELSE '' END,
      |    CASE WHEN v = 1 THEN 'utm_source=news' ELSE '' END], x -> x <> ''), '&') AS qs FROM b),
      |u AS (SELECT d, v, p,
      |  (CASE WHEN v = 1 THEN 'HTTPS' ELSE 'https' END) || '://' ||
      |  (CASE WHEN v = 1 THEN upper('d' || (p % 7) || '.ex.test') ELSE 'd' || (p % 7) || '.ex.test' END) ||
      |  (CASE WHEN v = 1 THEN ':443' ELSE '' END) || '/d/' || p ||
      |  (CASE WHEN qs <> '' THEN '?' || qs ELSE '' END) ||
      |  (CASE WHEN v = 2 THEN '#frag' ELSE '' END) AS uri FROM q),
      |pay AS (SELECT d, uri,
      |  (CASE WHEN d % 11 = 0 THEN 'HTTP/1.1 404 Not Found' ELSE 'HTTP/1.1 200 OK' END)
      |  || chr(13) || chr(10) || 'Content-Type: text/html' || chr(13) || chr(10) || chr(13) || chr(10) ||
      |  (CASE WHEN d % 11 = 0 THEN 'not found' ELSE '<html><body>' ||
      |     array_to_string(list_transform(range(0, d % 9 + 1), i -> 'w' || ((d * 7 + i) % 13)), ' ') ||
      |     (CASE WHEN d % 7 = 0 THEN E'\r\n\r\nWARC/1.0\r\nWARC-Type: response\r\nContent-Length: 7\r\n\r\ngotcha!' ELSE '' END)
      |     || """.stripMargin + warcAnchorSql +
      " || '</body></html>' END) AS payload FROM u, nn)\n")

  /** Record-set replay over the reconstructed archive bytes — shared by
    * `warc_read` (gzip members) and `warc_read_zstd` (zstd members): the
    * codec changes, the parsed record set must not.
    */
  private lazy val warcReadOracle: String =
    (warcPayloadCte +
      """SELECT 'response' AS rec_type, d AS doc_id, uri,""" + """
        |  CAST(length(payload) AS BIGINT) AS content_length, md5(payload) AS payload_md5 FROM pay
        |UNION ALL
        |SELECT 'warcinfo', CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR),
        |  CAST(length(wi) AS BIGINT), md5(wi)
        |FROM (SELECT 'software: graft-warc-synth' || chr(13) || chr(10) ||
        |             'format: WARC File Format 1.0' AS wi),
        |  -- one warcinfo per FILE, and a file exists only for residue
        |  -- classes with >= 1 doc (synthesizeFiles writes lazily)
        |  (SELECT DISTINCT doc_id % 16 FROM documents)
        |ORDER BY rec_type, doc_id""".stripMargin)

  /** Shared by `events_sessions` (one-pass window) and
    * `events_sessions_streamed` (carried cross-batch state) — the gap
    * rule in integral microseconds, so streamed ≡ batch is exact.
    */
  private lazy val eventsSessionsOracle: String =
    """WITH l AS (
      |  SELECT user_id, event_id, ts,
      |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
      |  FROM events),
      |b AS (
      |  SELECT user_id, event_id, ts,
      |    CASE WHEN prev IS NULL OR epoch_us(ts) - epoch_us(prev) > 1800000000
      |      THEN 1 ELSE 0 END AS brk
      |  FROM l),
      |s AS (
      |  SELECT user_id, sum(brk) OVER (
      |    PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS session_seq
      |  FROM b)
      |SELECT user_id, CAST(max(session_seq) AS BIGINT) AS n_sessions, count(*) AS n_events
      |FROM s GROUP BY user_id ORDER BY user_id""".stripMargin

  /** The `graph_pagerank[_seeded]` oracle generator: one MATERIALIZED CTE
    * per power iteration, mirroring `Graph.pageRank`'s teleport-vector
    * update rule term for term (init = teleport, per-round dangling mass
    * re-teleported, damping 0.85). `teleCte` defines the `tele(node,
    * tele)` table — uniform 1/N for the global walk, a seed-membership
    * CASE for the personalized one.
    */
  private def pagerankOracleFor(teleCte: String): String =
    pagerankChain(teleCte) +
      "\nSELECT node, round(rank, 6) AS rank FROM r10 ORDER BY node"

  /** Shared by `warc_links` and `warc_links_streamed` — the extracted
    * edge table's arithmetic ideal (also the frontier chains' edges CTE).
    */
  private lazy val warcLinksOracle: String =
    """WITH ids AS (SELECT doc_id AS d FROM documents),
      |nd AS (SELECT count(*) AS n_docs FROM ids),
      |""".stripMargin + extractedEdgesCte.stripSuffix(",") +
      "\nSELECT src, dst FROM edges ORDER BY src, dst"

  /** Main-content tier-chain replay — shared by `pipeline_warc_main`
    * (batch resolution) and `warc_main_streamed` (the id-ordered
    * claim-log accumulation), so one green row per variant proves the
    * greedy ≡ global equivalence on chrome-stripped text.
    */
  private lazy val warcMainPipelineOracle: String =
    """WITH ids AS (SELECT doc_id AS d FROM documents WHERE doc_id % 11 <> 0),
      |w AS (SELECT d, CASE WHEN d % 3 = 2 THEN d - 1 ELSE d END AS p,
      |  array_to_string(list_transform(range(0, d % 9 + 1), i -> (CASE WHEN d % 5 = 0 OR d % 5 = 2 OR d % 15 = 3 OR d % 15 = 8 THEN 'wé' WHEN d % 15 = 9 THEN 'we' || chr(769) ELSE 'w' END) || ((d * 7 + i) % 13)), ' ') AS words,
      |  d % 9 + 1 >= 3 AS keep_content,
      |  d % 4 = 1 AS has_related
      | FROM ids),
      |m AS (SELECT d,
      |  'https://d' || (p % 7) || '.ex.test/d/' || p ||
      |    (CASE WHEN p % 5 = 0 THEN '?a=1&b=2' ELSE '' END) AS url,
      |  CAST((CASE WHEN keep_content THEN d % 9 + 1 ELSE 0 END)
      |     + (CASE WHEN has_related THEN 7 ELSE 0 END) AS BIGINT) AS main_tokens,
      |  -- NFC before the dedup fold, mirroring bpMainPages: the
      |  -- decomposed-accent class must collide with precomposed text
      |  nfc_normalize(coalesce(array_to_string(list_filter([
      |    CASE WHEN keep_content THEN words ELSE NULL END,
      |    CASE WHEN has_related THEN 'more w1 w2 w3 w4 w5 w6' ELSE NULL END],
      |    x -> x IS NOT NULL), chr(10)), '')) AS main_t
      | FROM w),
      |url_kept AS (SELECT min(d) AS d FROM m GROUP BY url),
      |gated AS (SELECT m.* FROM m JOIN url_kept k ON m.d = k.d
      |          WHERE m.main_tokens >= 3),
      |text_kept AS (SELECT min(d) AS d FROM gated GROUP BY main_t)
      |SELECT g.d AS doc_id, g.url, g.main_tokens
      |FROM gated g JOIN text_kept t ON g.d = t.d ORDER BY doc_id""".stripMargin

  /** WET-stage text replay — shared by `warc_text` (extraction) and
    * `warc_wet_roundtrip` (extraction → conversion-record sink →
    * read-back), so one green row per variant proves the write half
    * recovers the extracted text byte-exactly.
    */
  private lazy val warcTextOracle: String =
    """WITH ids AS (SELECT doc_id AS d FROM documents WHERE doc_id % 11 <> 0),
      |tx AS (SELECT d, CASE WHEN d % 3 = 2 THEN d - 1 ELSE d END AS p,
      |  array_to_string(list_transform(range(0, d % 9 + 1), i -> 'w' || ((d * 7 + i) % 13)), ' ') ||
      |  (CASE WHEN d % 7 = 0 THEN E'\r\n\r\nWARC/1.0\r\nWARC-Type: response\r\nContent-Length: 7\r\n\r\ngotcha!' ELSE '' END) AS text
      | FROM ids)
      |SELECT d AS doc_id, 'd' || (p % 7) || '.ex.test' AS host,
      |  CAST(length(list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '')) AS BIGINT) AS n_tokens,
      |  md5(text) AS text_md5
      |FROM tx ORDER BY doc_id""".stripMargin

  /** Weak-components closure over the extracted link graph — shared by
    * `graph_components` and `graph_components_incremental` (green on the
    * incremental twin = star-warm-start ≡ from-scratch equivalence).
    * DISTINCT over UNION ALL for the non-recursive members: inside a
    * WITH RECURSIVE list DuckDB does not set-dedup a bare UNION there
    * (observed: 728+728 rows surviving).
    */
  private lazy val graphComponentsOracle: String =
    ("""WITH RECURSIVE ids AS (SELECT doc_id AS d FROM documents),
      |nd AS (SELECT count(*) AS n_docs FROM ids),
      |""".stripMargin + extractedEdgesCte + """
      |sym AS (SELECT DISTINCT a, b FROM (
      |        SELECT src AS a, dst AS b FROM edges WHERE src <> dst
      |        UNION ALL SELECT dst, src FROM edges WHERE src <> dst)),
      |reach(a, b) AS (
      |  SELECT a, b FROM sym
      |  UNION
      |  SELECT r.a, e.b FROM reach r JOIN sym e ON r.b = e.a),
      |nodes AS (SELECT DISTINCT node FROM (
      |        SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges)),
      |labels AS (SELECT a AS node, least(a, min(b)) AS component_id
      |           FROM reach GROUP BY a),
      |lab AS (SELECT n.node, coalesce(l.component_id, n.node) AS component_id
      |        FROM nodes n LEFT JOIN labels l ON l.node = n.node),
      |csizes AS (SELECT component_id, count(*) AS component_size
      |           FROM lab GROUP BY 1)
      |SELECT lab.node, lab.component_id, csizes.component_size
      |FROM lab JOIN csizes USING (component_id)
      |ORDER BY lab.node""".stripMargin)

  /** The synthetic doc-space edge rule the `graph_*` operator oracles walk
    * (every non-d%5 doc links to `1 + d%3` arithmetic targets).
    */
  private val syntheticEdgesCte: String =
    """edges AS MATERIALIZED (
      |  SELECT DISTINCT d AS src, (d*13 + j*17 + 1) % (SELECT n_docs FROM nd) AS dst
      |  FROM ids, range(3) t(j) WHERE d % 5 <> 0 AND j <= d % 3),""".stripMargin

  /** The EXTRACTED link graph's replay (`warcLinkEdges`): the same
    * arithmetic targets as planted into the archived HTML by
    * `Warc.responseRecordString(linkSpace = n)`, in CANONICAL space —
    * 404 sources drop (no HTML body), both endpoints fold `d ≡ 2 (mod 3)`
    * onto `d-1`, and the fold dedups.
    */
  private val extractedEdgesCte: String =
    """edges AS MATERIALIZED (
      |  SELECT DISTINCT CASE WHEN d % 3 = 2 THEN d - 1 ELSE d END AS src,
      |    CASE WHEN dst0 % 3 = 2 THEN dst0 - 1 ELSE dst0 END AS dst
      |  FROM (SELECT d, (d*13 + j*17 + 1) % (SELECT n_docs FROM nd) AS dst0
      |        FROM ids CROSS JOIN range(3) t(j)
      |        WHERE d % 11 <> 0 AND d % 5 <> 0 AND j <= d % 3)),""".stripMargin

  /** The WITH-chain only (ids .. r10), reusable by composite oracles that
    * consume the converged rank vector (`pipeline_crawl_frontier`), over
    * either edge fixture.
    */
  private def pagerankChain(teleCte: String,
      edgesCte: String = syntheticEdgesCte): String = {
    def round(t: Int): String =
      s"""r$t AS MATERIALIZED (
         |  SELECT tl.node,
         |    (1 - 0.85) * tl.tele
         |    + 0.85 * (COALESCE(c.contrib, 0)
         |      + (SELECT COALESCE(sum(r.rank), 0) FROM r${t - 1} r
         |         LEFT JOIN outdeg o ON r.node = o.src WHERE o.src IS NULL)
         |        * tl.tele) AS rank
         |  FROM tele tl LEFT JOIN (
         |    SELECT e.dst AS node, sum(r.rank / o.deg) AS contrib
         |    FROM r${t - 1} r JOIN outdeg o ON r.node = o.src
         |                     JOIN edges e ON e.src = r.node
         |    GROUP BY e.dst) c ON tl.node = c.node)""".stripMargin
    """WITH ids AS MATERIALIZED (SELECT doc_id AS d FROM documents),
      |nd AS (SELECT count(*) AS n_docs FROM ids),
      |""".stripMargin + edgesCte + "\n" +
    """nodes AS MATERIALIZED (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
      |nn AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
      |outdeg AS MATERIALIZED (
      |  SELECT src, CAST(count(*) AS DOUBLE) AS deg FROM edges GROUP BY src),
      |""".stripMargin +
      teleCte + ",\n" +
      "r0 AS MATERIALIZED (SELECT node, tele AS rank FROM tele),\n" +
      (1 to 10).map(round).mkString(",\n")
  }

  /** `pipeline_crawl_frontier`'s oracle: the converged global rank chain,
    * then the frontier tiers in arithmetic-ideal form — distinct
    * canonical candidates, the robots gate, and the rank-prioritized
    * top-50 (rounded-rank DESC, node tiebreak — deterministic in both
    * engines).
    */
  private val crawlFrontierOracle: String =
    pagerankChain(
      "tele AS MATERIALIZED (SELECT node, 1.0 / (SELECT n FROM nn) AS tele FROM nodes)",
      edgesCte = extractedEdgesCte) +
      """,
        |pg AS (SELECT DISTINCT CASE WHEN d % 3 = 2 THEN d - 1 ELSE d END AS p FROM ids),
        |cand AS (SELECT p, 'https://d' || (p % 7) || '.ex.test/d/' || p ||
        |    (CASE WHEN p % 5 = 0 THEN '?a=1&b=2' ELSE '' END) AS url FROM pg),
        |allowed AS (SELECT * FROM cand WHERE NOT (
        |  CASE WHEN p % 7 = 5 THEN FALSE
        |       ELSE starts_with(CAST(p AS VARCHAR), CAST(p % 7 AS VARCHAR))
        |            OR (p % 7 = 6 AND starts_with(CAST(p AS VARCHAR), '16')) END))
        |SELECT a.url, a.p AS node, round(r.rank, 6) AS rank
        |FROM allowed a JOIN r10 r ON r.node = a.p
        |ORDER BY rank DESC, node LIMIT 50""".stripMargin

  private val pagerankOracle: String = pagerankOracleFor(
    "tele AS MATERIALIZED (SELECT node, 1.0 / (SELECT n FROM nn) AS tele FROM nodes)")

  /** `graph_pagerank_hosts`' oracle: the weighted walk over the
    * host-contracted graph — weighted out-degree, `rank * w / deg`
    * contributions, same dangling/teleport structure.
    */
  private val hostPagerankOracle: String = {
    def round(t: Int): String =
      s"""r$t AS MATERIALIZED (
         |  SELECT tl.node,
         |    (1 - 0.85) * tl.tele
         |    + 0.85 * (COALESCE(c.contrib, 0)
         |      + (SELECT COALESCE(sum(r.rank), 0) FROM r${t - 1} r
         |         LEFT JOIN outdeg o ON r.node = o.src WHERE o.src IS NULL)
         |        * tl.tele) AS rank
         |  FROM tele tl LEFT JOIN (
         |    SELECT e.hdst AS node, sum(r.rank * e.w / o.deg) AS contrib
         |    FROM r${t - 1} r JOIN outdeg o ON r.node = o.src
         |                     JOIN hedges e ON e.hsrc = r.node
         |    GROUP BY e.hdst) c ON tl.node = c.node)""".stripMargin
    """WITH ids AS MATERIALIZED (SELECT doc_id AS d FROM documents),
      |nd AS (SELECT count(*) AS n_docs FROM ids),
      |""".stripMargin + extractedEdgesCte + "\n" +
    """hedges AS MATERIALIZED (
      |  SELECT src % 7 AS hsrc, dst % 7 AS hdst, CAST(count(*) AS DOUBLE) AS w
      |  FROM edges WHERE src % 7 <> dst % 7 GROUP BY 1, 2),
      |nodes AS MATERIALIZED (SELECT hsrc AS node FROM hedges UNION SELECT hdst FROM hedges),
      |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
      |outdeg AS MATERIALIZED (SELECT hsrc AS src, sum(w) AS deg FROM hedges GROUP BY hsrc),
      |tele AS MATERIALIZED (SELECT node, 1.0 / (SELECT n FROM nn) AS tele FROM nodes),
      |r0 AS MATERIALIZED (SELECT node, tele AS rank FROM tele),
      |""".stripMargin +
      (1 to 10).map(round).mkString(",\n") +
      "\nSELECT node, round(rank, 6) AS rank FROM r10 ORDER BY node"
  }

  /** `graph_hits`' oracle: every half-step (raw transpose, L1-normalize)
    * of all 8 rounds as generated MATERIALIZED CTEs, mirroring
    * `Graph.hits` term for term.
    */
  private val hitsOracle: String = {
    def round(t: Int): String =
      s"""ra$t AS MATERIALIZED (SELECT e.dst AS node, sum(h.hub) AS a
         |  FROM h${t - 1} h JOIN edges e ON e.src = h.node GROUP BY e.dst),
         |a$t AS MATERIALIZED (SELECT n.node,
         |  COALESCE(r.a, 0) / (SELECT sum(a) FROM ra$t) AS auth
         |  FROM nodes n LEFT JOIN ra$t r ON n.node = r.node),
         |rh$t AS MATERIALIZED (SELECT e.src AS node, sum(a.auth) AS hh
         |  FROM a$t a JOIN edges e ON e.dst = a.node GROUP BY e.src),
         |h$t AS MATERIALIZED (SELECT n.node,
         |  COALESCE(r.hh, 0) / (SELECT sum(hh) FROM rh$t) AS hub
         |  FROM nodes n LEFT JOIN rh$t r ON n.node = r.node)""".stripMargin
    """WITH ids AS MATERIALIZED (SELECT doc_id AS d FROM documents),
      |nd AS (SELECT count(*) AS n_docs FROM ids),
      |""".stripMargin + extractedEdgesCte + "\n" +
    """nodes AS MATERIALIZED (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
      |nn AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
      |h0 AS MATERIALIZED (SELECT node, 1.0 / (SELECT n FROM nn) AS hub FROM nodes),
      |""".stripMargin +
      (1 to 8).map(round).mkString(",\n") +
      """
        |SELECT n.node, round(h.hub, 6) AS hub, round(a.auth, 6) AS authority
        |FROM nodes n JOIN h8 h ON n.node = h.node JOIN a8 a ON n.node = a.node
        |ORDER BY n.node""".stripMargin
  }

  /** Seeds are every 17th doc id — counted over the ID set (the operator's
    * convention: out-of-graph seeds still take their 1/|S| teleport share
    * and are simply unreachable), teleport landing only on seed NODES.
    */
  private val pagerankSeededOracle: String = pagerankOracleFor(
    """sk AS (SELECT CAST(count(*) AS DOUBLE) AS k FROM ids WHERE d % 17 = 0),
      |tele AS MATERIALIZED (
      |  SELECT node, CASE WHEN node % 17 = 0 THEN 1.0 / (SELECT k FROM sk)
      |               ELSE 0.0 END AS tele FROM nodes)""".stripMargin)

  /** Shared derivation of the synth-shaped fillVisitorProject inputs from
    * the TPC-H tables — used by the reference-parity and distributed-id
    * variants, which run under ONE oracle (green row = equivalence proof).
    */
  private def visitorProjectInputs(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame, DataFrame, DataFrame,
         Map[String, String]) = {
      val rounds = explode(array(lit(1), lit(2), lit(3), lit(4)))
      def m(c: Column, n: Int) = pmod(c, lit(n))

      val calls = t(s, dir, "orders").filter(col("o_orderkey") < 400)
        .select(col("o_orderkey").cast("int").as("callID"),
          col("o_orderkey").cast("int").as("call"),
          col("o_orderdate").as("dateOpen"), col("o_orderdate").as("dateClosed"),
          (m(col("o_orderkey"), 4) + 1).cast("int").as("round"))
      val (callTable, _) = graft.etl.Steps.fillCall(calls)

      val spec = t(s, dir, "part")
        .select(col("p_partkey").cast("int").as("SpecificDisciplineID"),
          col("p_brand").as("SpecificDisciplineName"),
          length(col("p_brand")).cast("int").as("DisciplineID"),
          (m(col("p_partkey"), 4) + 1).cast("int").as("round"))
      graft.etl.Steps.checkSpecificDisciplineParents(spec)
      val (_, specMapping) = graft.etl.Steps.fillSpecificDiscipline(spec)

      val iso = t(s, dir, "nation")
        .select(col("n_nationkey").cast("string").as("Country_Code"),
          col("n_name").as("Country_Name"))
      val (_, countryMapping) = graft.etl.Steps.fillCountry(iso)

      val users = t(s, dir, "customer").withColumn("round", rounds)
        .select(col("round"), col("c_custkey").cast("int").as("User_ID"),
          when(m(col("c_custkey"), 2) === 0, "F").otherwise("M").as("Gender"),
          col("c_nationkey").cast("string").as("Nationality_Country_code"),
          m(col("c_custkey"), 3).cast("string").as("Researcher_status"),
          m(col("c_custkey"), 5).cast("string").as("Discipline1"),
          lit("d2").as("Discipline2"), lit("d3").as("Discipline3"),
          lit("university").as("Home_Institution_Type"),
          lit("dept").as("Home_Institution_Dept"),
          col("c_mktsegment").as("Home_Institution_Name"),
          concat(lit("Town "), m(col("c_custkey"), 10)).as("Home_Institution_Town"),
          m(col("c_custkey"), 25).cast("string").as("Home_Institution_Country_code"),
          lit("PC1").as("Home_Institution_Postcode"),
          m(col("c_custkey"), 7).cast("int").as("Number_of_visits"),
          m(col("c_custkey"), 30).cast("int").as("Duration_of_stays"),
          lit(null).cast("string").as("Nationality_OtherText"),
          lit("no").as("Remote_user"),
          lit("yes").as("Travel_and_Subsistence_reimbursed"),
          col("c_name").as("jobTitle"))

      val userGuids = t(s, dir, "customer")
        .filter(m(col("c_custkey"), 10) =!= 0).withColumn("round", rounds)
        .select(col("round"), col("c_custkey").cast("int").as("user_id"),
          (col("c_custkey") * 10 + col("round")).cast("bigint").as("guid"),
          concat(lit("age_"), m(col("c_custkey"), 5)).as("age_range"))

      val o = col("o_orderkey")
      val projects = t(s, dir, "orders")
        .select((m(o, 4) + 1).cast("int").as("round"),
          o.cast("int").as("UserProject_ID"),
          col("o_custkey").cast("int").as("User_ID"),
          when(m(o, 7) === 0, "edit").otherwise("submitted").as("Application_State"),
          (m(o, 8) + 1).cast("string").as("Call_Submitted"),
          col("o_orderpriority").as("UserProject_Title"),
          lit("objectives").as("UserProject_Objectives"),
          lit("achievements").as("UserProject_Achievements"),
          m(o, 14).cast("int").as("length_of_visit"),
          col("o_orderdate").as("start_date"), col("o_orderdate").as("finish_date"),
          concat(lit("TAF-"), o).as("TAF_ID"),
          when(m(o, 3) === 2, lit(null)).otherwise(m(o, 3)).cast("int").as("Home_Facilities"),
          col("o_orderstatus").as("Acceptance"),
          lit("summary").as("UserProject_Summary"),
          when(m(o, 5) === 4, lit(null)).otherwise(m(o, 2)).cast("int").as("New_User"),
          lit("reasons").as("UserProject_Facility_Reasons"),
          date_format(col("o_orderdate"), "EEE MMM dd HH:mm:ss 'GMT' yyyy")
            .as("Submission_Date"),
          m(o, 2).cast("int").as("Support_Final"),
          m(o, 5).cast("string").as("Project_Discipline"),
          (m(o, 2000) + 1).cast("int").as("Project_Specific_Discipline"),
          when(m(o, 11) === 0, lit(null)).otherwise(m(o, 2)).cast("int")
            .as("Previous_Application"),
          lit("training").as("Training_Requirement"),
          col("o_orderpriority").as("Supporter_Institution"),
          lit("approved").as("Administration_State"),
          m(o, 2).cast("int").as("Group_leader"),
          lit("members").as("Group_Members"),
          lit("background").as("UserProject_Background"),
          lit("reasons").as("UserProject_Reasons"),
          lit("expectations").as("UserProject_Expectations"),
          lit("outputs").as("UserProject_Outputs"),
          col("o_orderstatus").as("Group_Leader_Institution"),
          lit("no").as("Visit_Funded_Previously"))

      val aliases = Map(
        "BUILDING" -> "The Building Consortium", "MACHINERY" -> "nil",
        "1-URGENT" -> "Urgent Priority Group", "3-MEDIUM" -> "nil",
        "F" -> "Finished Group", "P" -> "nil")

      (projects, users, userGuids, callTable, specMapping, countryMapping, aliases)
  }

  /** The driver-facing projection of the visitor-project table (shared by
    * both id paths; ids cast BIGINT so INT window ids and BIGINT
    * distributed ids hash identically).
    */
  private def visitorProjectSelect(table: DataFrame): DataFrame =
    table.select(col("id").cast("bigint").as("id"),
          col("original_project_id"), col("title"), col("user_guid"),
          col("user_age_range"), col("length_of_visit"),
          fmt(col("start")).as("start"), fmt(col("end")).as("end"),
          col("taf_id"), col("home_facilities"), col("application_state"),
          col("new_user"), fmt(col("submission_date")).as("submission_date"),
          col("support_final"), col("project_specific_discipline"),
          col("call_submitted").cast("bigint").as("call_submitted"),
          col("previous_application"), col("supporter_institution"),
          col("group_leader"), col("group_leader_institution"), col("gender"),
          col("nationality").cast("bigint").as("nationality"),
          col("home_institution_name"), col("home_institution_town"),
          col("home_institution_country").cast("bigint").as("home_institution_country"),
          col("number_of_visits"), col("round"))
      // sortOnce shape inline: the id-assignment segment (global window /
      // two-phase offsets join) re-ran under the final sort's sampling pass
      .cutLineage()
      .orderBy("id")

  /** Flagship query (driver smoke-checks rows>0 on sf0.001): revenue per
    * nation — lineitem ⋈ orders ⋈ customer ⋈ broadcast(nation).
    */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val li  = t(spark, dir, "lineitem")
    val o   = t(spark, dir, "orders")
    val c   = t(spark, dir, "customer")
    val n   = t(spark, dir, "nation")
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(
        sum((col("l_extendedprice") * (lit(1) - col("l_discount"))).cast("decimal(18,4)"))
          .cast("double").as("revenue"),
        count(lit(1)).as("n_lines"))
      .orderBy(col("n_name"))
  }

  // ---------------------------------------------------------------- queries

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // S1/P1/P2/O1 — projected, aliased scan with null/empty filters.
    "s1_scan_project" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_returnflag").isNotNull && col("l_returnflag") =!= "" &&
          col("l_quantity") > 30)
        .select(
          col("l_orderkey").as("order_id"), col("l_linenumber").as("line_no"),
          col("l_quantity").as("qty"), col("l_returnflag").as("flag"))
        .orderBy("order_id", "line_no")
    }),

    // U1/A1/S2 — 4-way round-tagged union, min/max per round
    // (FillRound analog, etl.py:181-202).
    "u1_round_minmax" -> ((s, dir) => {
      Rounds.fourWaySplitUnion(t(s, dir, "orders"), "o_orderkey")
        .groupBy(col("round"))
        .agg(min(col("o_orderdate")).as("mn"), max(col("o_orderdate")).as("mx"),
          count(lit(1)).as("n"))
        .select(col("round"), fmt(col("mn")).as("min_date"),
          fmt(col("mx")).as("max_date"), col("n"))
        .orderBy("round")
    }),

    // A2/J3 — the vw_project_access_requests aggregate (etl.py:661-669):
    // countDistinct + sum + the count==1 boolean flag.
    "a2_project_requests" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(
          countDistinct(col("l_linenumber")).as("n_requests"),
          sum(col("l_quantity")).as("total_days"))
        .select(col("l_orderkey").as("project_id"), col("n_requests"),
          col("total_days"), (col("n_requests") =!= 1).as("multiple"))
        .orderBy("project_id")
    }),

    // J1/J2 — two-level left-join denormalization against broadcast dims
    // (unidentified.ipynb cell 8 / etl.py:339-346).
    "j1_denorm" -> ((s, dir) => {
      t(s, dir, "orders")
        .join(broadcast(t(s, dir, "customer")), col("o_custkey") === col("c_custkey"), "left")
        .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"), "left")
        .select(col("o_orderkey").as("order_id"), col("c_name").as("customer_name"),
          col("n_name").as("nation_name"), col("o_totalprice").as("total_price"))
        .orderBy("order_id")
    }),

    // J8/W3/O1 — positional-ordinal join: first order per customer via
    // row_number within partition (etl.py:219,469-473).
    "j8_first_order" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      t(s, dir, "orders")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("o_custkey").as("cust_id"), col("o_orderkey").as("first_order"),
          fmt(col("o_orderdate")).as("first_date"))
        .orderBy("cust_id")
    }),

    // W1/O1 — sequential ID assignment replacing itertools.count
    // (etl.py:215,269-270,348,461,488).
    "w1_seq_ids" -> ((s, dir) => {
      t(s, dir, "part")
        .withColumn("new_id",
          row_number().over(Window.orderBy(col("p_partkey"))).cast("bigint"))
        .select(col("new_id"), col("p_partkey").as("part_id"), col("p_name").as("name"))
        .orderBy("new_id")
    }),

    // A3/F21 — ScoreStats: unpivot score columns, zero-drop quirk
    // (utils.py:181), count/mean/sum/stddev with min_size semantics
    // (utils.py:156-199).
    "a3_score_stats" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .selectExpr("l_returnflag",
          "stack(3, 'quantity', l_quantity, 'discount', l_discount, 'tax', l_tax) AS (score_name, score)")
        .filter(col("score").isNotNull && col("score") =!= 0)
        .groupBy(col("l_returnflag").as("flag"), col("score_name"))
        .agg(
          count(lit(1)).as("n"),
          round(avg(col("score")), 6).as("mean"),
          sum(col("score").cast("decimal(18,2)")).cast("double").as("total"),
          round(stddev_samp(col("score")), 6).as("sd0"))
        .select(col("flag"), col("score_name"), col("n"), col("mean"), col("total"),
          when(col("n") < 2, lit(null).cast("double")).otherwise(col("sd0")).as("sd"))
        .orderBy("flag", "score_name")
    }),

    // A3 mode — deterministic mode (highest count, lowest value tiebreak;
    // utils.py:156-199 note in SURVEY §7.4.2).
    "a3_mode" -> ((s, dir) => {
      val counts = t(s, dir, "lineitem")
        .selectExpr("l_returnflag",
          "stack(3, 'quantity', l_quantity, 'discount', l_discount, 'tax', l_tax) AS (score_name, score)")
        .filter(col("score").isNotNull && col("score") =!= 0)
        .groupBy(col("l_returnflag").as("flag"), col("score_name"), col("score"))
        .agg(count(lit(1)).as("c"))
      val w = Window.partitionBy(col("flag"), col("score_name"))
        .orderBy(col("c").desc, col("score"))
      counts.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("flag"), col("score_name"), col("score").as("mode_score"))
        .orderBy("flag", "score_name")
    }),

    // A4/O3 — first-seen-wins canonical row via max_by over a struct
    // (SpecificDiscipline dedup, etl.py:263-321).
    "a4_canonical_rows" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_partkey"))
        .agg(
          max_by(
            struct(col("l_orderkey"), col("l_linenumber"), col("l_quantity")),
            struct(col("l_orderkey"), col("l_linenumber"))).as("last"),
          count(lit(1)).as("n_rows"))
        .select(col("l_partkey").as("part_id"), col("last.l_orderkey").as("last_order"),
          col("last.l_linenumber").as("last_line"), col("last.l_quantity").as("last_qty"),
          col("n_rows"))
        .orderBy("part_id")
    }),

    // A6/W2 — percent-of-group via window denominator
    // (unidentified.ipynb cells 11,15).
    "a6_pct_of_group" -> ((s, dir) => {
      val base = t(s, dir, "orders")
        .groupBy(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy(col("o_orderstatus"))
      base
        .select(col("o_orderstatus").as("status"), col("o_orderpriority").as("priority"),
          col("n"), round(col("n") * lit(100.0) / sum(col("n")).over(w), 6).as("pct"))
        .orderBy("status", "priority")
    }),

    // W4/P11/O2 — z-score outliers. Two-pass agg + broadcast cross join, NOT
    // a whole-table window: scales to any corpus (outliers.ipynb cell 5).
    "w4_zscore" -> ((s, dir) => {
      val cust = t(s, dir, "customer")
      val stats = cust.agg(avg(col("c_acctbal")).as("mu"),
        stddev_samp(col("c_acctbal")).as("sigma"))
      cust.crossJoin(broadcast(stats))
        .withColumn("z", round((col("c_acctbal") - col("mu")) / col("sigma"), 4))
        .filter(col("z") < -1.5)
        .select(col("c_custkey").as("cust_id"), col("c_acctbal").as("acctbal"), col("z"))
        .orderBy("cust_id")
    }),

    // O2/O4 — deterministic top-k (orderBy desc + unique tiebreak + limit).
    "o4_topk" -> ((s, dir) => {
      t(s, dir, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(20)
        .select(col("o_orderkey").as("order_id"), col("o_totalprice").as("total_price"),
          col("o_orderpriority").as("priority"))
        .orderBy("order_id")
    }),

    // U4/P5 — left-anti set difference (resources.py:338,349): customers
    // with no pending orders.
    "u4_no_orders" -> ((s, dir) => {
      t(s, dir, "customer")
        .join(t(s, dir, "orders").filter(col("o_orderstatus") === "P"),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey").as("cust_id"), col("c_name").as("name"))
        .orderBy("cust_id")
    }),

    // U3/A12 — distinct collapse.
    "u3_distinct" -> ((s, dir) => {
      t(s, dir, "customer")
        .select(col("c_nationkey").as("nation_id"), col("c_mktsegment").as("segment"))
        .distinct()
        .orderBy("nation_id", "segment")
    }),

    // P3/P7/P9 — inequality + range predicates pushed to the parquet scan.
    "p9_range_filter" -> ((s, dir) => {
      t(s, dir, "orders")
        .filter(col("o_orderstatus") =!= "P" &&
          col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
        .select(col("o_orderkey").as("order_id"), fmt(col("o_orderdate")).as("order_date"),
          col("o_orderstatus").as("status"))
        .orderBy("order_id")
    }),

    // J10/F20/F22 — identified-flag left join + fillna(false)
    // (unidentified.ipynb cell 8).
    "j10_has_order" -> ((s, dir) => {
      val flags = t(s, dir, "orders").select(col("o_custkey")).distinct()
        .withColumn("has", lit(true))
      t(s, dir, "customer")
        .join(flags, col("c_custkey") === col("o_custkey"), "left")
        .select(col("c_custkey").as("cust_id"),
          coalesce(col("has"), lit(false)).as("has_order"))
        .orderBy("cust_id")
    }),

    // F19 — value recode ('YES'→'Open' style, journal-analysis.ipynb cell 4).
    "f19_recode" -> ((s, dir) => {
      t(s, dir, "orders")
        .withColumn("status_label",
          when(col("o_orderstatus") === "O", "Open")
            .when(col("o_orderstatus") === "F", "Finished")
            .when(col("o_orderstatus") === "P", "Pending")
            .otherwise("Unknown"))
        .groupBy("status_label").agg(count(lit(1)).as("n"))
        .orderBy("status_label")
    }),

    // A11/F17/O4 — explode + token frequency top-N
    // (classifiers.ipynb cell 12, outliers.ipynb cell 6).
    "a11_top_tokens" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("word"))
        .groupBy("word").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("word"))
        .limit(20)
    }),

    // A9 — duplicate-grouping histogram (duplicates.ipynb cells 11,14).
    "a9_dup_histogram" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_partkey")).agg(count(lit(1)).as("n_records"))
        .filter(col("n_records") > 1)
        .groupBy(col("n_records")).agg(count(lit(1)).as("n_groups"))
        .orderBy("n_records")
    }),

    // A8/U2 — group totals + synthetic 'Total' facet row
    // (journal-analysis.ipynb cell 16), over a 3-way broadcast join.
    "a8_region_totals" -> ((s, dir) => {
      val sup = t(s, dir, "supplier")
      val joined = sup
        .join(broadcast(t(s, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
      val per = joined.groupBy(col("r_name").as("region"))
        .agg(sum(col("s_acctbal").cast("decimal(18,2)")).cast("double").as("total_bal"),
          count(lit(1)).as("n"))
      val total = sup.agg(
        sum(col("s_acctbal").cast("decimal(18,2)")).cast("double").as("total_bal"),
        count(lit(1)).as("n")).withColumn("region", lit("Total"))
      per.unionByName(total.select("region", "total_bal", "n")).orderBy("region")
    }),

    // F1 — clean_string contract (utils.py:69-87) over the documents corpus.
    "f1_clean_text" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), Cleaning.cleanString(col("text")).as("clean"))
        .orderBy("doc_id")
    }),

    // F12/O5 — regex-extraction cascade, first matching stage wins
    // (parsers/doi.py:13-42).
    "o5_extract_cascade" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          coalesce(
            nullif(regexp_extract(col("text"), "(spark\\w*)", 1), lit("")),
            nullif(regexp_extract(col("text"), "(join\\w*)", 1), lit("")),
            lit("none")).as("first_hit"))
        .orderBy("doc_id")
    }),

    // F2 — find_names-style token extraction (utils.py:56-66; ASCII variant
    // so the RE2 oracle is bit-identical).
    "f2_find_names" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          array_join(
            slice(regexp_extract_all(
              regexp_replace(col("text"), " and |&", "; "),
              lit("([a-zA-Z]{3,}[-' ]?)+"), lit(0)), 1, 3),
            ";").as("names"))
        .orderBy("doc_id")
    }),

    // F7 — per-element transform + array_join (author formatting,
    // etl.py:393-404).
    "f7_author_format" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          array_join(
            transform(slice(split(col("text"), " "), 1, 4),
              a => concat(a, lit("-x"))),
            "; ").as("authors"))
        .orderBy("doc_id")
    }),

    // P4 — ILIKE disjunction over DOI-ish columns (resources.py:345-346).
    "p4_ilike" -> ((s, dir) => {
      t(s, dir, "documents")
        .filter(lower(col("text")).contains("spark") || col("text").like("%10.%"))
        .select(col("doc_id"))
        .orderBy("doc_id")
    }),

    // P8/P10 — null-conjunction + isin filters
    // (journal-analysis.ipynb cell 14, unidentified.ipynb cell 15).
    "p8_null_conj" -> ((s, dir) => {
      t(s, dir, "documents")
        .filter(nullif(col("lang"), lit("en")).isNull &&
          nullif(col("source"), lit("src0")).isNotNull)
        .select(col("doc_id"), col("lang"), col("source"))
        .orderBy("doc_id")
    }),

    // P6/P10 — IN-set filter + per-key counts.
    "p10_isin" -> ((s, dir) => {
      t(s, dir, "events")
        .filter(col("event_type").isin("click", "view"))
        .groupBy(col("user_id")).agg(count(lit(1)).as("n"))
        .orderBy("user_id")
    }),

    // F3 — legacy datetime format round-trip through Cleaning.toDatetimeLegacy
    // ('Mon Jan 02 15:04:05 GMT 2006' shape, utils.py:90-102).
    "f3_time_roundtrip" -> ((s, dir) => {
      t(s, dir, "events")
        .select(col("event_id"),
          fmt(Cleaning.toDatetimeLegacy(
            date_format(col("ts"), "EEE MMM dd HH:mm:ss 'GMT' yyyy"))).as("parsed"))
        .orderBy("event_id")
    }),

    // F24 — JSON key extraction (resources.py:240-268).
    "f24_json" -> ((s, dir) => {
      t(s, dir, "events")
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").cast("int").as("k"))
        .orderBy("event_id")
    }),

    // Streaming-batch parity — tumbling 1h window counts over events
    // (SURVEY §2.9; the streaming twin lives in graft.streaming).
    "events_hourly" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
        .select(fmt(col("w.start")).as("window_start"), col("event_type"),
          col("n"), col("total_value"))
        .orderBy("window_start", "event_type")
    }),

    // The streamed twin of events_hourly: two event-disjoint micro-batches
    // append per-batch (window, type) PARTIALS under the BatchMarker
    // protocol (EventIngest), and the serving read merges them. Shares
    // events_hourly's oracle verbatim — green = the accumulated rollup is
    // row-identical to the batch aggregate (decimal partials merge exact).
    "events_hourly_streamed" -> ((s, dir) => {
      import s.implicits._
      val ev = t(s, dir, "events")
      val path = ensureIndex(s, ev, "evhourlystream", "built") { p =>
        graft.streaming.EventIngest.processBatch(
          ev.filter(pmod(col("event_id"), lit(2)) === 0), 0L, p)
        graft.streaming.EventIngest.processBatch(
          ev.filter(pmod(col("event_id"), lit(2)) === 1), 1L, p)
        Seq(2).toDF("n_batches").coalesce(1).write.mode("overwrite")
          .parquet(s"$p/built")
      }
      graft.streaming.EventIngest.hourlyFromAccumulated(s, path)
        .select(fmt(col("window_start")).as("window_start"), col("event_type"),
          col("n"), col("total_value"))
        .orderBy("window_start", "event_type")
    }),

    // A10 — describe()/summary per group (classifiers.ipynb cell 30).
    "a10_describe" -> ((s, dir) => {
      t(s, dir, "orders")
        .groupBy(col("o_orderstatus").as("status"))
        .agg(count(lit(1)).as("n"),
          min(col("o_totalprice")).as("min_price"),
          max(col("o_totalprice")).as("max_price"),
          round(avg(col("o_totalprice")), 6).as("avg_price"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("sum_price"))
        .orderBy("status")
    }),

    // F18 — decimal-comma repair round-trip (journal-analysis.ipynb cell 10):
    // synthesize a comma-decimal string, repair it, recover the double.
    "f18_decimal_comma" -> ((s, dir) => {
      t(s, dir, "part")
        .select(col("p_partkey").as("part_id"),
          graft.analysis.Journals.repairDecimalComma(
            regexp_replace(col("p_retailprice").cast("string"), "\\.", ","))
            .as("repaired"))
        .orderBy("part_id")
    }),

    // W1 scale path — distributed two-phase sequential ids must equal the
    // global-window ids (graft.operators.Ids).
    "w1_distributed_ids" -> ((s, dir) => {
      graft.operators.Ids.distributedSequentialIds(
          t(s, dir, "customer"), Seq("c_custkey"), "new_id")
        .select(col("new_id"), col("c_custkey").as("cust_id"))
        .orderBy("new_id")
    }),

    // ETL step functions (graft.etl.Steps) driven by synth-shaped frames
    // derived deterministically from testdata, so the DuckDB gate covers
    // the pipeline logic itself (fixture-level tests live in scalatest).

    // FillCall (etl.py:205-224): W1 global ids + W3 in-round ordinals.
    "etl_fill_call" -> ((s, dir) => {
      val calls = t(s, dir, "orders")
        .filter(col("o_orderkey") < 400)
        .select(col("o_orderkey").cast("int").as("callID"),
          col("o_orderkey").cast("int").as("call"),
          col("o_orderdate").as("dateOpen"), col("o_orderdate").as("dateClosed"),
          (pmod(col("o_orderkey"), lit(4)) + 1).cast("int").as("round"))
      val (table, _) = graft.etl.Steps.fillCall(calls)
      table.select(col("id").cast("bigint").as("id"), col("round_id"),
          col("ordinal").cast("bigint").as("ordinal"),
          fmt(col("start")).as("start"), fmt(col("end")).as("end"))
        .orderBy("id")
    }),

    // FillSpecificDiscipline (etl.py:263-321): A4 dedup, rounds 4→1
    // first-seen-wins, ids in scan order.
    "etl_specific_discipline" -> ((s, dir) => {
      val spec = t(s, dir, "part")
        .select(col("p_partkey").cast("int").as("SpecificDisciplineID"),
          col("p_brand").as("SpecificDisciplineName"),
          length(col("p_brand")).cast("int").as("DisciplineID"), // consistent per name
          (pmod(col("p_partkey"), lit(4)) + 1).cast("int").as("round"))
      graft.etl.Steps.checkSpecificDisciplineParents(spec)
      val (table, _) = graft.etl.Steps.fillSpecificDiscipline(spec)
      table.select(col("id").cast("bigint").as("id"), col("name"), col("discipline_id"))
        .orderBy("id")
    }),

    // FillVisitorProject (etl.py:448-561) — the 48-column flagship table,
    // driven end-to-end through graft.etl.Steps.fillVisitorProject over
    // synth-shaped frames derived deterministically from the TPC-H tables:
    // J4 user join, J5 GUID inner join (guid-less users drop their
    // projects), J6 institution alias cleaning with the 'nil' sentinel,
    // J7 country-code translation through fillCountry ids, J8 call-ordinal
    // positional join, J11 specific-discipline mapping translation, F3
    // legacy datetime round-trip, F6 bool(None)=false casts, P3 'edit'
    // filter, W1 sequential ids. The oracle replays every stage in SQL.
    "etl_visitor_project" -> ((s, dir) => {
      val (p, u, g, c, sm, cm, a) = visitorProjectInputs(s, dir)
      val (table, _) = graft.etl.Steps.fillVisitorProject(p, u, g, c, sm, cm, a)
      visitorProjectSelect(table)
    }),

    // The SAME flagship table with W1 ids from the two-phase distributed
    // assigner (no single-task global window — the id path that survives
    // a 1000-executor fact table). Registered under etl_visitor_project's
    // oracle: the green row IS the equivalence proof. At sf0.1 it is
    // SLOWER than the window (4.9 s vs 2.9 s warm): repartitionByRange
    // samples the data for range boundaries and adds a shuffle, fixed
    // costs a 115k-row table can't amortize — the crossover is where one
    // task can no longer hold the table, which is the regime it exists
    // for (Ids.scala documents the same tradeoff for the primitive).
    "etl_visitor_project_distributed" -> ((s, dir) => {
      val (p, u, g, c, sm, cm, a) = visitorProjectInputs(s, dir)
      val (table, _) =
        graft.etl.Steps.fillVisitorProjectDistributed(p, u, g, c, sm, cm, a)
      visitorProjectSelect(table)
    }),

    // FillMissingCountryData (J12, etl.py:674-769) driven end-to-end
    // through graft.etl.Geo.fillMissingCountry over a geonames-style
    // fixture derived from customer/nation: 40 shared city names across
    // 25 countries force the ambiguity → max-population argmax rule
    // (populations are unique, so the argmax is engine-independent),
    // per-customer alternatenames exercise the variant union, and the
    // orders-derived towns cover every resolution path — exact, ", " and
    // ". " delimiter fallbacks, manual override, and already-set rows
    // left untouched. GeoSpec stays the fixture-level semantic lock.
    "geo_resolve" -> ((s, dir) => {
      def m(c: Column, n: Int) = pmod(c, lit(n))
      val ck = col("c_custkey")
      val cities = t(s, dir, "customer").select(
        concat(lit("city "), m(ck, 40)).as("name"),
        array(concat(lit("alt "), ck)).as("alternatenames"),
        col("c_nationkey").cast("string").as("countrycode"),
        ck.cast("bigint").as("population"))
      val iso = t(s, dir, "nation")
        .select(col("n_nationkey").cast("string").as("Country_Code"),
          col("n_name").as("Country_Name"))
      val (_, countryMapping) = graft.etl.Steps.fillCountry(iso)
      val o = col("o_orderkey")
      val vp = t(s, dir, "orders").select(
        o.cast("bigint").as("id"),
        when(m(o, 4) === 1, lit(null)).when(m(o, 4) === 2, lit(0))
          .otherwise(m(o, 25) + 1).cast("int").as("home_institution_country"),
        when(m(o, 5) === 0, concat(lit("city "), m(o, 40)))
          .when(m(o, 5) === 1, concat(lit("alt "), m(o, 100) + 1))
          .when(m(o, 5) === 2, concat(lit("city "), m(o, 40), lit(", region")))
          .when(m(o, 5) === 3, concat(lit("city "), m(o, 40), lit(". suffix")))
          .otherwise(lit("Override Town")).as("home_institution_town"))
      graft.etl.Geo.fillMissingCountry(vp, cities,
          manual = Map("Override Town" -> "7"), countryMapping = countryMapping)
        .select(col("id"), col("home_institution_town"),
          col("home_institution_country").cast("bigint").as("home_institution_country"))
        .orderBy("id")
    }),

    // CleanOutputs (etl.py:375-432, F7-F10) driven end-to-end through
    // graft.etl.Steps.cleanOutputs: in-place clean_string of authors/title
    // (empty stays empty, null stays null), DOI-cache join, and the
    // metadata struct application — F7 "family given; …" author
    // formatting over entries having both parts, F8 year from created[:4],
    // F9 title fallback to the existing value when the titles array is
    // empty, F10 volume/pages overwritten only when present in metadata.
    // Caches are derived frames (array-of-struct authors built in-query);
    // the oracle reconstructs the same structs and replays every rule.
    "etl_clean_outputs" -> ((s, dir) => {
      def m(c: Column, n: Int) = pmod(c, lit(n))
      val base = t(s, dir, "orders")
        .select(col("o_orderkey").cast("bigint").as("o"),
          (m(col("o_orderkey"), 4) + 1).cast("int").as("round"),
          col("o_orderstatus"))
      val o = col("o")
      val outputTable = base.select(
        o.as("id"), o.as("original_id"),
        lit("article").as("output_type"), lit("published").as("publication_status"),
        when(m(o, 11) === 0, lit("")).when(m(o, 11) === 1, lit(null))
          .otherwise(concat(lit("A\tB  "), o)).as("authors"),
        (lit(1990) + m(o, 30)).cast("int").as("year"),
        when(m(o, 7) === 0, lit("")).otherwise(concat(lit("T  "), o)).as("title"),
        concat(lit("P"), m(o, 4)).as("publisher"),
        concat(lit("u"), o).as("url"),
        when(m(o, 2) === 0, lit(null)).otherwise(concat(lit("V"), m(o, 9))).as("volume"),
        concat(lit("pg"), m(o, 13)).as("pages"),
        col("o_orderstatus").as("conference"), lit(null).cast("string").as("degree"),
        col("round"))
      val doiRows = base.filter(m(o, 3) === 0)
        .select(col("round"), o.as("original_id"),
          concat(lit("10."), m(o, 1000), lit("/x"), o).as("doi"), o.as("mo"))
      val mo = col("mo")
      val doiMetadata = doiRows.select(col("doi"),
        array(
          struct(concat(lit("G"), m(mo, 7)).as("given"),
            concat(lit("F"), m(mo, 5)).as("family")),
          struct(lit(null).cast("string").as("given"), lit("Solo").as("family")))
          .as("authors"),
        when(m(mo, 5) === 0, array().cast("array<string>"))
          .otherwise(array(concat(lit("Ti  "), mo), lit("Alt"))).as("titles"),
        concat(lit("19"), lpad(m(mo, 100).cast("string"), 2, "0"), lit("-01-02"))
          .as("created"),
        concat(lit("Pub"), m(mo, 4)).as("publisher"),
        concat(lit("http://ex/"), mo).as("url"),
        when(m(mo, 6) < 3, concat(lit("MV"), m(mo, 9))).otherwise(lit(null)).as("volume"),
        when(m(mo, 13) === 0, lit(null)).otherwise(concat(lit("mpg"), m(mo, 13)))
          .as("pages"))
      graft.etl.Steps.cleanOutputs(outputTable,
          doiRows.select(col("round"), col("original_id"), col("doi")), doiMetadata)
        .select(col("id"), col("authors"), col("year"), col("title"),
          col("publisher"), col("url"), col("volume"), col("pages"),
          col("conference"), col("doi"), col("round"))
        .orderBy("id")
    }),

    // S3 (users.csv multi-ID explode) driven through
    // graft.sources.UsersCsv.explodeGuids over a derived wide frame:
    // comma-packed per-round ID cells (some empty, some single, some
    // double) and per-round age cells (empty → NULL) — the exact
    // resources.py:415-457 surface, oracled by replaying the split +
    // unnest + casts in SQL. The GUID-uniqueness invariant
    // (DuplicateUserGuidError) runs first, as checkUniqueGuids.
    "etl_users_csv" -> ((s, dir) => {
      def m(c: Column, n: Int) = pmod(c, lit(n))
      val ck = col("c_custkey")
      val cols = col("c_custkey").cast("bigint").as("GUID") +:
        (1 to 4).flatMap { r =>
          val k = ck + lit(r)
          Seq(
            when(m(k, 4) === 0, lit(""))
              .when(m(k, 3) === 0, (ck * 10 + r).cast("string"))
              .otherwise(concat(ck * 10 + lit(r), lit(","), ck * 10 + lit(r) + 100000))
              .as(s"SYNTH_${r}_ID"),
            when(m(k, 5) === 0, lit("")).otherwise(concat(lit("a"), m(k, 5)))
              .as(s"SYNTH_${r}_AGE"))
        }
      val wide = t(s, dir, "customer").select(cols: _*)
      graft.sources.UsersCsv.checkUniqueGuids(wide)
      graft.sources.UsersCsv.explodeGuids(wide)
        .orderBy("round", "user_id")
    }),

    // S10 (DDL sink): the schema-to-DDL half of the dump path as data —
    // one row per table, the exact CREATE TABLE text the dump writes.
    // S4 live XLSX: a synthesized four-sheet resource workbook (the
    // `Schemas.xlsx*` columns over TPC-H rows, see [[xlsxFixtureSheets]])
    // read end-to-end by the stdlib OOXML reader (sources/Xlsx.scala),
    // reduced to per-sheet aggregates plus an md5 over the sorted row
    // texts. The DuckDB oracle derives the same rows from the same tables,
    // so every cell — numbers, empty cells, non-ASCII text — is checked
    // across engines.
    "s4_xlsx" -> ((s, dir) => {
      import graft.etl.Schemas
      val wb = s"${xlsxFixturePath(s, dir)}/access_request_rebuild.xlsx"
      val parsed = graft.sources.Xlsx.readSheets(s, wb) // ONE parse, four sheets
      def sheet(name: String, schema: StructType, daysCol: Option[String]) = {
        val df = graft.sources.Xlsx.applySchema(
          parsed.find(_.name == name).get.toDF(s), schema)
        df.agg(count(lit(1)).as("n_rows"),
            sum(col(schema.head.name)).cast("bigint").as("id_sum"),
            daysCol.map(d => sum(col(d)).cast("bigint"))
              .getOrElse(lit(null).cast("bigint")).as("days_sum"),
            md5(concat_ws("\n", sort_array(collect_list(xlsxRowText(df))))).as("rows_md5"))
          .select(lit(name).as("sheet"), col("n_rows"), col("id_sum"), col("days_sum"),
            col("rows_md5"))
      }
      sheet("AccessRequest", Schemas.xlsxAccessRequest, Some("DaysRequested"))
        .unionByName(sheet("Category", Schemas.xlsxCategory, None))
        .unionByName(sheet("InstallationFacility", Schemas.xlsxInstallationFacility, None))
        .unionByName(sheet("Institution", Schemas.xlsxInstitution, None))
        .orderBy("sheet")
    }),

    // --- WARC web-archive family (sources/Warc.scala) — the Common Crawl
    // ingestion shape. warcRecords synthesizes real gzipped WARC files
    // (every header/body byte arithmetic in doc_id, fixture cached under
    // ensureIndex) and reads them back via the Content-Length record walk;
    // the oracles re-derive the parse results from the same arithmetic
    // without ever seeing the files, so a green row proves the
    // write -> gzip -> read -> record/HTTP-parse round-trip byte-for-byte
    // (payload_md5). Bodies of d%7==0 docs embed a fake record header to
    // keep the parser honest (WarcSpec pins that a delimiter scan would
    // split there).
    "warc_read" -> ((s, dir) => {
      warcRecords(s, dir).toDF()
        .select(col("warc_type").as("rec_type"),
          regexp_extract(col("record_id"), "doc-(\\d+)", 1).cast("long").as("doc_id"),
          col("uri"), col("content_length"),
          md5(col("payload")).as("payload_md5"))
        .orderBy("rec_type", "doc_id")
    }),

    // The SAME archive as `.warc.zst` (zstd whole-file members — the
    // Common Crawl successor codec; decoded by the zstd-jni that ships
    // with Spark, magic-sniffed beside gzip). SHARES warc_read's oracle
    // verbatim: the codec changes, the parsed records must not — green
    // = the write → zstd → read → record-walk loop is byte-exact. Like
    // gzip, plain zstd streams are non-splittable (the seekable-frame
    // extension exists but isn't needed at the ~1 GB production shard
    // size), so parallelism stays file-granular.
    "warc_read_zstd" -> ((s, dir) => {
      graft.sources.Warc.readRecords(s, s"${warcZstdFixturePath(s, dir)}/files")
        .toDF()
        .select(col("warc_type").as("rec_type"),
          regexp_extract(col("record_id"), "doc-(\\d+)", 1).cast("long").as("doc_id"),
          col("uri"), col("content_length"),
          md5(col("payload")).as("payload_md5"))
        .orderBy("rec_type", "doc_id")
    }),

    // WET CONTENT-TYPE gate: the step between the HTTP split and ANY
    // text extraction — normalize the Content-Type media type
    // (parameters stripped, lowercased) and extract only text/*
    // responses: HTML through html_text, text/plain raw, everything
    // else contributes ZERO tokens (PDF bytes through an HTML extractor
    // are garbage tokens that poison every downstream text statistic;
    // Common Crawl's WET layer gates exactly this way). Per doc: the
    // normalized mime, the gate verdict, and the gated token count.
    "warc_mime_gate" -> ((s, dir) => {
      val resp = graft.sources.Warc.responses(graft.sources.Warc.readRecords(
        s, s"${warcMimeFixturePath(s, dir)}/files")).toDF()
      val pages = graft.sources.Warc.httpParsed(resp)
        .filter(col("http_status") === 200)
        .withColumn("mime",
          lower(trim(substring_index(col("content_type"), ";", 1))))
        .withColumn("wet_eligible", col("mime").startsWith("text/"))
      pages.select(
          regexp_extract(col("record_id"), "doc-(\\d+)", 1).cast("long").as("doc_id"),
          col("mime"), col("wet_eligible"),
          when(!col("wet_eligible"), lit(0L))
            .when(col("mime") === "text/html",
              size(split(trim(graft.functions.HtmlTextColumn.htmlText(col("body"))),
                "\\s+")).cast("long"))
            .otherwise(size(split(trim(col("body")), "\\s+")).cast("long"))
            .as("n_tokens"))
        .orderBy("doc_id")
    }),

    // MAGIC-BYTE MIME SNIFF vs the DECLARED header (functions/Mime,
    // simplified WHATWG sniffing table): route every payload by what
    // its leading bytes SAY IT IS, not what the server claimed. The
    // fixture plants both failure directions — PDF bytes declared
    // text/html (n_tokens_declared shows the garbage tokens a
    // declared-type route would have shipped; the sniffed route ships
    // 0) and real HTML behind application/octet-stream (declared route
    // drops it, sniffed route recovers the words). All codegen'd
    // prefix-compare Columns, map-side over the archive scan.
    "warc_mime_sniff" -> ((s, dir) => {
      val resp = graft.sources.Warc.responses(graft.sources.Warc.readRecords(
        s, s"${warcSniffFixturePath(s, dir)}/files")).toDF()
      val M = graft.functions.Mime
      val pages = graft.sources.Warc.httpParsed(resp)
        .filter(col("http_status") === 200)
        .withColumn("declared", M.normalize(col("content_type")))
        .withColumn("sniffed", M.sniff(col("body_bytes"), col("body")))
      def tokensIf(mime: Column) =
        when(mime === "text/html",
          size(split(trim(graft.functions.HtmlTextColumn.htmlText(col("body"))),
            "\\s+")).cast("long"))
          .when(mime.startsWith("text/"),
            size(split(trim(col("body")), "\\s+")).cast("long"))
          .otherwise(lit(0L))
      pages.select(
          regexp_extract(col("record_id"), "doc-(\\d+)", 1).cast("long").as("doc_id"),
          col("declared"), col("sniffed"),
          (col("declared") =!= col("sniffed")).as("mislabeled"),
          tokensIf(col("sniffed")).as("n_tokens"),
          tokensIf(col("declared")).as("n_tokens_declared"))
        .orderBy("doc_id")
    }),

    // ORC ROUND-TRIP — the OTHER columnar lake format Spark ships
    // natively (Hive lineage; parquet carries every other fixture in
    // this suite). documents written once as zlib ORC (ensureIndex),
    // read back, compared per row by digest — green = the write→read
    // loop is value-exact across types incl. UTF-8 text. At scale the
    // format choice changes codecs and stats granularity, not the
    // plan: the same PushedFilters/ReadSchema machinery serves both.
    "s_orc_roundtrip" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      // fingerprint the FULL frame: the round-trip's content is every
      // column, and two sf dirs share the same doc_id set — an id-only
      // key would serve one dir's ORC to the other
      val path = ensureIndex(s, docs, "orcdocs", "built") { p =>
        docs.write.mode("overwrite").option("compression", "zlib")
          .orc(s"$p/docs")
        s.range(1).select(lit(1L).as("ok")).write.mode("overwrite")
          .parquet(s"$p/built")
      }
      s.read.orc(s"$path/docs")
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
          md5(col("text")).as("text_md5"))
        .orderBy("doc_id")
    }),

    // DECLARED canonical extraction (RFC 6596, HtmlTextColumn
    // .canonicalHref): per 200 page, the author-asserted canonical URL
    // (canonicalized) or the page's own canonical URI when absent. The
    // fixture's decoy links (stylesheet/alternate), messy href forms,
    // and free rel/href attribute order are all load-bearing — and the
    // 404 class proves the status gate. Map-side regex over the archive
    // scan, no shuffle before the output sort.
    "warc_canonical" -> ((s, dir) => {
      val resp = graft.sources.Warc.responses(graft.sources.Warc.readRecords(
        s, s"${warcCanonFixturePath(s, dir)}/files")).toDF()
      val decl = graft.functions.HtmlTextColumn.canonicalHref(col("body"))
      graft.sources.Warc.httpParsed(resp)
        .filter(col("http_status") === 200)
        .select(
          regexp_extract(col("record_id"), "doc-(\\d+)", 1).cast("long").as("doc_id"),
          coalesce(graft.functions.Url.canonicalizeUrl(decl),
            graft.functions.Url.canonicalizeUrl(col("uri"))).as("canonical_url"),
          decl.isNotNull.as("declared"))
        .orderBy("doc_id")
    }),

    // WHY the declared fold matters: family members live on DIFFERENT
    // hosts, so URL-string canonicalization sees one group per page
    // while the declared fold collapses each family onto its head — the
    // cross-host syndication dedup only the author's assertion exposes.
    // One ledger row: pages, URL-canonical groups, declared-fold groups.
    "warc_canonical_dedup" -> ((s, dir) => {
      val resp = graft.sources.Warc.responses(graft.sources.Warc.readRecords(
        s, s"${warcCanonFixturePath(s, dir)}/files")).toDF()
      val decl = graft.functions.HtmlTextColumn.canonicalHref(col("body"))
      graft.sources.Warc.httpParsed(resp)
        .filter(col("http_status") === 200)
        .select(
          graft.functions.Url.canonicalizeUrl(col("uri")).as("self_url"),
          coalesce(graft.functions.Url.canonicalizeUrl(decl),
            graft.functions.Url.canonicalizeUrl(col("uri"))).as("resolved_url"))
        .agg(count(lit(1)).as("n_pages"),
          countDistinct(col("self_url")).as("n_url_groups"),
          countDistinct(col("resolved_url")).as("n_canonical_groups"))
    }),

    // HREFLANG translation clusters (HtmlTextColumn.alternateLinkTags):
    // every 200 page's declared language alternates — per row the
    // sibling's language tag and its canonicalized target. The
    // no-hreflang feed alternate must drop (null-language filter), the
    // messy href forms must fold, and attribute order (hreflang before
    // or after rel/href) is free. The multilingual-curation signal: a
    // pipeline keeps one quality doc per translation cluster per
    // language instead of near-dup-ing translations apart. Tags explode
    // to rows FIRST, then codegen'd per-row regexes — never a
    // higher-order lambda over the tag array.
    "warc_hreflang" -> ((s, dir) => {
      val resp = graft.sources.Warc.responses(graft.sources.Warc.readRecords(
        s, s"${warcCanonFixturePath(s, dir)}/files")).toDF()
      val tags = graft.sources.Warc.httpParsed(resp)
        .filter(col("http_status") === 200)
        .select(
          regexp_extract(col("record_id"), "doc-(\\d+)", 1).cast("long").as("doc_id"),
          explode(graft.functions.HtmlTextColumn.alternateLinkTags(col("body")))
            .as("tag"))
      val lang = nullif(regexp_extract(col("tag"),
        "(?i)(?<=[\\s\"'])hreflang\\s*=\\s*[\"']?([A-Za-z][A-Za-z0-9-]*)", 1), lit(""))
      val href = coalesce(
        nullif(regexp_extract(col("tag"),
          "(?i)(?<=[\\s\"'])href\\s*=\\s*([\"'])((?:[^<>\"']|(?!\\1)[\"'])*?)\\1", 2),
          lit("")),
        nullif(regexp_extract(col("tag"),
          "(?i)(?<=[\\s\"'])href\\s*=\\s*([^\\s\"'<>]+)", 1), lit("")))
      tags.select(col("doc_id"), lang.as("hreflang"),
          graft.functions.Url.canonicalizeUrl(href).as("target_url"))
        .filter(col("hreflang").isNotNull)
        .orderBy("doc_id", "hreflang")
    }),

    // Translation-cluster ASSEMBLY from extracted hreflang edges — the
    // consumer of warc_hreflang's rows: a cluster's identity is the
    // lexicographic MIN over its member and target URLs (every member
    // lists every sibling, so each member's candidate set spans the
    // whole family — no iterative closure needed for the bidirectional
    // hreflang topology; a one-sided graph would fall back to the CC
    // operator). Per cluster: member count, distinct member hosts
    // (cross-host families), distinct language labels. One extraction
    // pass, two hash aggregates.
    "warc_translation_clusters" -> ((s, dir) => {
      val resp = graft.sources.Warc.responses(graft.sources.Warc.readRecords(
        s, s"${warcCanonFixturePath(s, dir)}/files")).toDF()
      val pages = graft.sources.Warc.httpParsed(resp)
        .filter(col("http_status") === 200)
        .select(
          regexp_extract(col("record_id"), "doc-(\\d+)", 1).cast("long").as("doc_id"),
          lower(try_parse_url(col("uri"), lit("HOST"))).as("host"),
          explode(graft.functions.HtmlTextColumn.alternateLinkTags(col("body")))
            .as("tag"))
        // the member's url in the family's own link space (the form its
        // siblings declare FOR it) — NOT the alias-folded crawl
        // canonical: the fold belongs to URL dedup, and mixing it in
        // here would leak boundary urls across families
        .withColumn("self_url",
          concat(lit("https://d"), pmod(col("doc_id"), lit(7)),
            lit(".ex.test/d/"), col("doc_id")))
      val lang = nullif(regexp_extract(col("tag"),
        "(?i)(?<=[\\s\"'])hreflang\\s*=\\s*[\"']?([A-Za-z][A-Za-z0-9-]*)", 1), lit(""))
      val href = coalesce(
        nullif(regexp_extract(col("tag"),
          "(?i)(?<=[\\s\"'])href\\s*=\\s*([\"'])((?:[^<>\"']|(?!\\1)[\"'])*?)\\1", 2),
          lit("")),
        nullif(regexp_extract(col("tag"),
          "(?i)(?<=[\\s\"'])href\\s*=\\s*([^\\s\"'<>]+)", 1), lit("")))
      val edges = pages
        .select(col("doc_id"), col("self_url"), col("host"),
          lang.as("hreflang"),
          graft.functions.Url.canonicalizeUrl(href).as("target_url"))
        .filter(col("hreflang").isNotNull)
      val perDoc = edges
        .groupBy("doc_id", "self_url", "host")
        .agg(min(col("target_url")).as("min_target"),
          collect_set(col("hreflang")).as("langs"))
        .select(col("doc_id"), col("host"),
          least(col("self_url"), col("min_target")).as("cluster_id"),
          col("langs"))
      perDoc.groupBy("cluster_id")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("host")).as("n_hosts"),
          size(array_distinct(flatten(collect_list(col("langs")))))
            .cast("bigint").as("n_langs"))
        .orderBy("cluster_id")
    }),

    // Canonical-URL aliasing (functions/Url.canonicalizeUrl): the fixture
    // plants three alias classes (scheme/host case + :443 + utm_ tracking,
    // fragment + scrambled param order, and path collapse d≡2 mod 3 →
    // d-1); canonicalization must erase ALL of it to match the oracle's
    // arithmetic ideal — URL-level dedup before any page-byte hashing.
    "warc_urls" -> ((s, dir) => {
      graft.sources.Warc.responses(warcRecords(s, dir)).toDF()
        .select(graft.functions.Url.canonicalizeUrl(col("uri")).as("url"),
          regexp_extract(col("record_id"), "doc-(\\d+)", 1).cast("long").as("doc_id"))
        .groupBy("url")
        .agg(count(lit(1)).as("n_aliases"),
          min("doc_id").as("id_min"), max("doc_id").as("id_max"))
        .orderBy("url")
    }),

    // CDX-style CAPTURE INDEX (the Internet Archive / Common Crawl cdxj
    // convention): one row per response record keyed by the SURT of the
    // canonical URL — host labels reversed, so every page of a host (and
    // every host of a domain) sorts CONTIGUOUSLY and "everything under
    // this host" is a range scan over the index, never a suffix match or
    // an archive read — plus the fields a wayback/dedup consumer needs
    // without touching payloads: status, normalized mime, HTTP-body
    // digest (the WARC-Payload-Digest slot), record length. Map-only
    // over the record walk + the presentation sort; at scale the sink
    // range-partitions on surt_key so each output shard is a self-sorted
    // CDX segment (the warc_cdx analog of curation_zorder's file-stat
    // pruning: per-file surt min/max prune host-range queries).
    "warc_cdx" -> ((s, dir) => {
      val resp = graft.sources.Warc.responses(warcRecords(s, dir)).toDF()
      val parsed = graft.sources.Warc.httpParsed(resp)
      parsed.select(
          graft.functions.Url.surt(
            graft.functions.Url.canonicalizeUrl(col("uri"))).as("surt_key"),
          regexp_extract(col("record_id"), "doc-(\\d+)", 1).cast("long").as("doc_id"),
          col("http_status").as("status"),
          lower(trim(substring_index(col("content_type"), ";", 1))).as("mime"),
          md5(col("body")).as("digest"),
          col("content_length").as("record_length"))
        .orderBy("surt_key", "doc_id")
    }),

    // The PERSISTED, host-bucket-partitioned CDX index + a host LOOKUP
    // — the production shape of "give me every capture under these
    // hosts" (wayback resolution, per-host recrawl diffing): the index
    // is written ONCE hive-partitioned on pmod(xxhash64(host), 8) and
    // surt-sorted within partitions, and a lookup computes its hosts'
    // buckets (bounded by the query set — the queryTokenBuckets
    // pattern), reading ONLY those partition dirs. PartitionFilters on
    // the scan is pinned by PlanInvariantsSpec; at 100 TB this is the
    // difference between scanning the whole capture index and 2/8ths
    // of it, with per-file surt min/max pruning inside each bucket.
    "warc_cdx_pruned" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"))
      val path = ensureIndex(s, docs, "cdxidx", "built") { p =>
        val parsed = graft.sources.Warc.httpParsed(
          graft.sources.Warc.responses(warcRecords(s, dir)).toDF())
        val canon = graft.functions.Url.canonicalizeUrl(col("uri"))
        parsed.select(
            graft.functions.Url.surt(canon).as("surt_key"),
            lower(try_parse_url(canon, lit("HOST"))).as("host"),
            regexp_extract(col("record_id"), "doc-(\\d+)", 1).cast("long")
              .as("doc_id"),
            col("http_status").as("status"),
            md5(col("body")).as("digest"))
          .withColumn("host_bucket",
            pmod(xxhash64(col("host")), lit(8)).cast("int"))
          .repartition(col("host_bucket"))
          .sortWithinPartitions("surt_key", "doc_id")
          .write.mode("overwrite").partitionBy("host_bucket")
          .parquet(s"$p/cdx")
        s.range(1).select(lit(1L).as("ok")).write.mode("overwrite")
          .parquet(s"$p/built")
      }
      import s.implicits._
      val hosts = Seq("d1.ex.test", "d4.ex.test")
      // bucket literals from the 2-host query set — a bounded collect,
      // never corpus data
      val buckets = hosts.toDF("host")
        .select(pmod(xxhash64(col("host")), lit(8)).cast("int").as("b"))
        .distinct().as[Int].collect().toSeq
      s.read.parquet(s"$path/cdx")
        .filter(col("host_bucket").isin(buckets: _*) &&
          col("host").isin(hosts: _*))
        .select(col("host"), col("surt_key"), col("doc_id"), col("status"),
          col("digest"))
        .orderBy("surt_key", "doc_id")
    }),

    // Payload-level STORAGE dedup — the WARC revisit-record model
    // (ISO 28500 §6.7.2: an unchanged re-fetch is written as a `revisit`
    // record carrying `WARC-Payload-Digest` + `WARC-Refers-To` instead
    // of the bytes; Common Crawl dedups its snapshots exactly this way).
    // Group responses by payload digest: the first record (min doc id)
    // stays the stored response, every later identical fetch would be a
    // revisit pointer, saving (n-1) × payload bytes. The fixture's
    // biggest group is the 404 class (every `not found` body is
    // byte-identical — error pages ARE the canonical revisit win in real
    // archives). Scale shape: one map-side md5 over the record walk,
    // one hash aggregate on the 128-bit digest with map-side partials —
    // no shuffle of payload bytes, only digests + counters move.
    "warc_revisit_dedup" -> ((s, dir) => {
      graft.sources.Warc.responses(warcRecords(s, dir)).toDF()
        .select(md5(col("payload")).as("payload_md5"),
          regexp_extract(col("record_id"), "doc-(\\d+)", 1).cast("long").as("doc_id"),
          col("content_length"))
        .groupBy("payload_md5")
        .agg(count(lit(1)).as("n_copies"),
          min("doc_id").as("stored_doc"),
          max("content_length").as("bytes_each"),
          ((count(lit(1)) - 1) * max("content_length")).as("bytes_saved"))
        .filter(col("n_copies") >= 2)
        .orderBy("payload_md5")
    }),

    // The revisit model's SINK half round-tripped: re-export the archive
    // through Warc.writeRecordsDeduped (one stored response per distinct
    // payload, a pointer-only `revisit` record for every later identical
    // fetch), read it back through the standard record walk, and report
    // the storage ledger per record type. The oracle restates the ledger
    // from the duplicate-group arithmetic — stored rows = distinct
    // payloads (with their bytes), revisit rows = the rest (zero bytes) —
    // so a green row proves the dedup election, both serialization
    // shapes, and the re-read agree end-to-end. WarcSpec pins the
    // pointer fields (WARC-Refers-To / WARC-Payload-Digest) byte-level.
    "warc_rewrite_dedup" -> ((s, dir) => {
      val ids = t(s, dir, "documents").select(col("doc_id"))
      val path = ensureIndex(s, ids, "warcdd", "built") { p =>
        val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
        fs.delete(new org.apache.hadoop.fs.Path(s"$p/files"), true)
        val n = graft.sources.Warc.writeRecordsDeduped(
          graft.sources.Warc.responses(warcRecords(s, dir)), s"$p/files", nFiles = 8)
        s.range(1).select(lit(n).as("n_records")).write.mode("overwrite").parquet(s"$p/built")
      }
      graft.sources.Warc.readRecords(s, s"$path/files").toDF()
        .filter(col("warc_type").isin("response", "revisit"))
        .groupBy(col("warc_type").as("rec_type"))
        .agg(count(lit(1)).as("n_records"),
          sum(col("content_length")).as("bytes_stored"))
        .orderBy("rec_type")
    }),

    // CHANGE-RATE estimation over two crawl snapshots — the revisit-
    // policy input (Cho & Garcia-Molina, TODS 2003: estimate a page's
    // Poisson change rate λ from n re-fetches with X detected changes,
    // λ̂ = ln((n + 0.5) / (n − X + 0.5)) / I for access interval I).
    // Per canonical url take the LATEST record's payload digest in each
    // snapshot (alias groups carry two fetches per snapshot — a real
    // scheduler keys freshness on the newest), diff across snapshots,
    // and derive the adaptive revisit interval (expected half-a-change
    // per visit, capped at 60 days; an unchanged pair estimates λ̂ = 0 →
    // the cap). The second snapshot is the changeSalt=1 fixture: exactly
    // the d%4==3 200-status class changed. Scale shape: digests are
    // map-side over each archive scan, then ONE hash aggregate keyed on
    // (url, snapshot) and one on url — payload bytes never shuffle.
    "pipeline_crawl_change_rate" -> ((s, dir) =>
      changeRateEstimates(s, dir).orderBy("url")),

    // The estimator FEEDING the scheduler — the adaptive-revisit loop
    // closed: at a probe date 14 days past the second snapshot, exactly
    // the urls whose estimated interval has elapsed (the changed class's
    // ~6.4 days; the unchanged class sits at the 60-day cap) are due,
    // and the due set is budgeted top-5 per host by crawl priority (the
    // persisted rank index — due-ness decides MEMBERSHIP, rank decides
    // ORDER, the complement of refresh_lastmod's staleness-first sort).
    // Scale shape: estimates and the url/rank tables join on url/node
    // keys; the per-host budget is a WindowGroupLimit-prunable top-k.
    "pipeline_crawl_refresh_adaptive" -> ((s, dir) => {
      val w = Window.partitionBy(col("host"))
        .orderBy(desc("rank"), asc("node"))
      changeRateEstimates(s, dir)
        .filter(col("revisit_days") <= lit(14.0)) // due by snap1 + 14d
        .join(crawlUrls(s, dir).select(col("url"), col("node")), Seq("url"))
        .join(crawlRanks(s, dir), Seq("node"))
        .withColumn("rank", round(col("rank"), 6))
        .withColumn("host", lower(try_parse_url(col("url"), lit("HOST"))))
        .withColumn("rn", row_number().over(w).cast("bigint"))
        .filter(col("rn") <= 5)
        .select(col("host"), col("url"), col("node"),
          col("revisit_days"), col("rank"), col("rn"))
        .orderBy("host", "rn")
    }),

    // MAIN-CONTENT extraction (functions/Boilerplate) over the block-
    // structured archive: segment each 200 page into blocks, classify by
    // token link-density + minimum length, and reassemble the retained
    // text in document order. The fixture plants one block per verdict
    // class (all-anchor nav, plain content of varying length, a
    // link-BEARING related strip that must survive, an anchor-heavy
    // footer); the oracle replays each block's verdict and the retained
    // text's md5. Scale shape: blocks EXPLODE to rows (a real page is
    // 10²–10³ blocks), per-block scoring is codegen'd map-side work, and
    // the per-doc reassembly is one hash aggregate.
    "warc_main_content" -> ((s, dir) =>
      bpScoredBlocks(s, dir).groupBy("doc_id")
        .agg(count(lit(1)).as("n_blocks"),
          sum(col("kept").cast("long")).as("n_kept"),
          coalesce(sum(when(col("kept"), col("n_toks"))), lit(0L)).as("main_tokens"),
          md5(array_join(transform(
            array_sort(collect_list(when(col("kept"), struct(col("pos"), col("text"))))),
            b => b.getField("text")), "\n")).as("main_md5"))
        .orderBy("doc_id")),

    // robots.txt CACHE EXPIRY (RFC 9309 §2.4: a cached robots file is
    // valid for at most 24 hours) — the robots tier's own freshness
    // loop, beside the page-level refresh queues: per host, the robots
    // fetch clock vs the probe instant decides which policies are stale
    // and must re-fetch before the next crawl wave trusts them. Fixture
    // clock is per-host arithmetic; 7 rows — policy-table-sized, the
    // broadcast side of every gate join.
    "pipeline_crawl_robots_age" -> ((s, dir) => {
      val h = regexp_extract(col("host"), "d(\\d+)", 1).cast("long")
      robotsPolicies(s).select(col("host"),
          pmod(h * 9, lit(40)).cast("int").as("fetch_h"))
        .select(col("host"),
          (to_timestamp(lit("2026-02-01 00:00:00")) +
            expr("make_interval(0, 0, 0, 0, fetch_h, 0, 0)")).as("fetched_ts"))
        .select(col("host"),
          date_format(col("fetched_ts"), "yyyy-MM-dd HH:mm").as("fetched_at"),
          ((unix_timestamp(to_timestamp(lit("2026-02-03 00:00:00"))) -
            unix_timestamp(col("fetched_ts"))) / 3600).cast("bigint").as("age_hours"))
        .withColumn("robots_stale", col("age_hours") > 24)
        .orderBy("host")
    }),

    // The crawl-curation pipeline on MAIN content — pipeline_warc's
    // tiers (status gate → canonical-URL dedup → quality gate → exact
    // dedup) with the text tier running on chrome-STRIPPED text: quality
    // judges the content tokens a page actually contributes, and the
    // exact-dedup tier collapses cross-host syndication the raw-text
    // form can never see (host-keyed chrome makes raw texts unique).
    // Same 100 TB shape as pipeline_warc: every tier is
    // groupBy(min(doc_id)) + long-key join-back, the per-doc main frame
    // materializes once.
    "pipeline_warc_main" -> ((s, dir) => {
      val main = bpMainPages(bpScoredBlocks(s, dir))
        .localCheckpoint() // parse + segment + score once; tiers reuse
      val urlKept = main.groupBy("url").agg(min("doc_id").as("doc_id"))
        .select("doc_id")
      val gated = main.join(urlKept, "doc_id")
        .filter(col("n_tokens") >= 3)
      val textKept = gated.groupBy("text_md5").agg(min("doc_id").as("doc_id"))
        .select("doc_id")
      gated.join(textKept, "doc_id")
        .select(col("doc_id"), col("url"), col("n_tokens").as("main_tokens"))
        .orderBy("doc_id")
    }),

    // HOST-LEVEL QUALITY GATE — the cheapest lever a 100 TB curation
    // pipeline has: per-page quality is noisy, but HOST-level rates
    // (thin-content fraction here; spam/dup/boilerplate rates in
    // production) are stable, and one rollup row gates every page the
    // host ever contributes (RefinedWeb/FineWeb-class corpora apply
    // exactly this domain-prior tier before any per-document model).
    // Per host over the main-content frame: page count, thin pages
    // (< 3 retained tokens), retained-token mass, keep verdict (thin
    // fraction ≤ 1/6 — integer-exact, no FP in the compare). Scale
    // shape: ONE hash aggregate keyed on host; the verdict table is
    // host-cardinality (tiny) and broadcast-joins back onto the corpus
    // in consumers.
    "pipeline_host_gate" -> ((s, dir) => {
      bpMainPages(bpScoredBlocks(s, dir))
        .select(regexp_extract(col("url"), "^https?://([^/]+)", 1).as("host"),
          col("n_tokens"))
        .groupBy("host")
        .agg(count(lit(1)).as("n_pages"),
          sum(when(col("n_tokens") < 3, 1L).otherwise(0L)).as("n_thin"),
          sum(col("n_tokens")).as("sum_tokens"))
        .withColumn("host_kept", col("n_thin") * 6 <= col("n_pages"))
        .orderBy("host")
    }),

    // STREAMED accumulation of the same curation — bp crawl segments
    // (range-partitioned: file order follows id order) consumed 4
    // files/micro-batch through WarcIngest's claim-log protocol, with
    // the per-batch pages frame being the chrome-stripped MAIN frame.
    // SHARES pipeline_warc_main's oracle: green = greedy first-claim
    // over id-ordered arrival ≡ global min-doc_id resolution, on main
    // content (the warc_ingest_streamed equivalence, one extraction tier
    // deeper).
    "warc_main_streamed" -> ((s, dir) => {
      val path = warcBpIngestPath(s, dir)
      graft.streaming.WarcIngest.kept(s, s"$path/log")
        .select(col("doc_id"), col("url"), col("n_tokens").as("main_tokens"))
        .orderBy("doc_id")
    }),

    // CHARSET detection + DECODE (functions/Charset) — the WET step
    // between the HTTP split and text extraction, WHATWG precedence:
    // BOM wins (even over a lying header), then the header `charset`
    // parameter, then the FIRST meta declaration within the 1024-byte
    // prescan prelude (either form, document order — a late declaration
    // past the bound is ignored), then the UTF-8 default. `body_md5`
    // hashes the body DECODED through the detected name (BOM stripped):
    // the latin-1/UTF-16 classes' digests only match the oracle's
    // reconstructed char string if detection fed decode correctly — the
    // tier is load-bearing, not annotative. All codegen'd regexp/string
    // Columns, map-side over the archive scan.
    "warc_charset" -> ((s, dir) => {
      val resp = graft.sources.Warc.responses(graft.sources.Warc.readRecords(
        s, s"${warcBpFixturePath(s, dir)}/files")).toDF()
      val pages = graft.sources.Warc.httpParsed(resp)
        .filter(col("http_status") === 200)
      val (cs, src) = graft.functions.Charset.detect(
        col("content_type"), col("body_bytes"))
      pages.select(
          regexp_extract(col("record_id"), "doc-(\\d+)", 1).cast("long").as("doc_id"),
          cs.as("charset"), src.as("charset_source"),
          md5(graft.functions.Charset.decodeWith(col("body_bytes"), cs))
            .as("body_md5"))
        .orderBy("doc_id")
    }),

    // NFC NORMALIZATION (functions/Normalize, Unicode TR15) made
    // visible per doc: the raw main text's md5 beside the NFC'd md5 and
    // a changed flag — TRUE exactly where the decoded text carries a
    // decomposed code-point sequence (the d%15==9 planted class, e +
    // U+0301, undeclared UTF-8) with kept content. Byte-keyed dedup,
    // shingles and term hashing all silently split such documents from
    // their precomposed twins unless this fold runs first; the pipeline
    // dedup tier hashes NFC'd text (bpMainPages), and this row is the
    // direct proof of what the fold changes. Native codegen'd
    // expression with an ASCII fast path — no allocation on the
    // overwhelming ASCII majority.
    "warc_text_nfc" -> ((s, dir) => {
      val raw = bpScoredBlocks(s, dir).groupBy("doc_id")
        .agg(array_join(transform(
          array_sort(collect_list(when(col("kept"), struct(col("pos"), col("text"))))),
          b => b.getField("text")), "\n").as("main_text"))
      raw.select(col("doc_id"),
          md5(col("main_text")).as("text_md5"),
          md5(graft.functions.NormalizeColumn.nfc(col("main_text")))
            .as("text_md5_nfc"))
        .withColumn("nfc_changed", col("text_md5") =!= col("text_md5_nfc"))
        .orderBy("doc_id")
    }),

    // WHY boilerplate removal precedes dedup: sitewide chrome varies by
    // SITE, not by page (the fixture's footer is host-keyed), so the
    // same article syndicated across hosts is unique in raw extracted
    // text but collapses after main-content extraction. One ledger row:
    // page count, distinct raw texts, distinct main texts — the gap is
    // the duplicate mass only chrome-stripping exposes. Scale shape:
    // per-doc md5s from one block-row aggregate, then a count-distinct
    // over 16-byte digests.
    "warc_main_dedup" -> ((s, dir) => {
      def joined(c: Column) = md5(array_join(transform(
        array_sort(collect_list(c)), b => b.getField("text")), "\n"))
      bpScoredBlocks(s, dir).groupBy("doc_id")
        .agg(joined(struct(col("pos"), col("text"))).as("raw_md5"),
          joined(when(col("kept"), struct(col("pos"), col("text")))).as("main_md5"))
        .agg(count(lit(1)).as("n_pages"),
          countDistinct(col("raw_md5")).as("n_raw_distinct"),
          countDistinct(col("main_md5")).as("n_main_distinct"))
    }),

    // CCNET-STYLE PARAGRAPH DEDUP (Wenzek et al. 2020 §4.1: hash every
    // paragraph, keep only the corpus-wide FIRST occurrence) — the
    // OTHER boilerplate strategy, and CCNet's actual first stage over
    // each Common Crawl snapshot: sitewide chrome repeats VERBATIM
    // across pages, so corpus-wide paragraph dedup strips it with no
    // link-density model at all (the nav/footer blocks here survive on
    // exactly one page each; unique content paragraphs all survive).
    // Blocks are the paragraphs; first occurrence = global (doc_id,
    // pos) order. Scale shape: ONE shuffle keyed on the paragraph
    // digest (the window partitions by md5, so duplicate texts co-
    // locate without comparing strings), per-group sort bounded by the
    // duplicate population — CCNet shards this same hash space across
    // workers.
    "warc_ccnet_paradedup" -> ((s, dir) => {
      val w = Window.partitionBy(col("para_md5")).orderBy(col("doc_id"), col("pos"))
      bpScoredBlocks(s, dir)
        .select(col("doc_id"), col("pos"), col("text"),
          md5(col("text")).as("para_md5"))
        .withColumn("first_seen", row_number().over(w) === 1)
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_paras"),
          sum(when(col("first_seen"), 1L).otherwise(0L)).as("n_paras_kept"),
          md5(array_join(transform(
            array_sort(collect_list(
              when(col("first_seen"), struct(col("pos"), col("text"))))),
            b => b.getField("text")), "\n")).as("kept_md5"))
        .orderBy("doc_id")
    }),

    // Link-graph EXTRACTION from the archived pages themselves
    // (warcLinkEdges): anchor hrefs out of the HTML bodies, planted with
    // the same URL-messiness classes as the page URIs — the oracle's
    // arithmetic ideal only matches if extraction canonicalizes and
    // alias-folds BOTH endpoints and resolves targets through the
    // discovered-URL table. This edge table is what the frontier
    // pipelines rank over (shared CTE in their oracles).
    "warc_links" -> ((s, dir) => warcLinkEdges(s, dir).orderBy("src", "dst")),

    // In-link counts off the extracted graph — the cheap quality prior
    // crawl schedulers use before any rank converges: per page, distinct
    // referring pages (edges are deduped pairs) and distinct referring
    // HOSTS (cross-host endorsement weighs more than intra-site nav).
    // One hash aggregate over the edge table.
    "warc_inlinks" -> ((s, dir) =>
      warcLinkEdges(s, dir)
        .groupBy(col("dst").as("node"))
        .agg(count(lit(1)).as("in_degree"),
          countDistinct(pmod(col("src"), lit(7))).as("n_src_hosts"))
        .orderBy("node")),

    // ANCHOR-TEXT AGGREGATION per link target — the classic web-search
    // relevance signal (how OTHER pages describe a page; anchor text
    // carried early search ranking before content analysis did) and a
    // crawl-frontier topical prior. From the block fixture's DECODED
    // bodies: every <a href>text</a> pair, href resolved RFC 3986-style
    // against the page's canonical URL, grouped by target — reference
    // count plus the sorted distinct anchor vocabulary. Scale shape:
    // map-side extraction (two codegen'd regexp_extract_all passes
    // zipped, no explode until the pairs exist), then TWO hash
    // aggregations on the same key: first (target, text) — distinct
    // anchors with their counts, map-side combinable so duplicate
    // anchors collapse before the exchange — then target, where
    // smallest_k (bounded k-heap UDAF, functions/TopK) caps the
    // vocabulary at 64: a hub page (home pages, wiki mains) with
    // millions of in-links can never blow an aggregation buffer —
    // each partial carries ≤ k anchors. Output scalarized
    // (array_join) — the registry's no-top-level-array contract
    // (pinned by PlanInvariantsSpec), and what the driver's
    // oracle compare can sort.
    "warc_anchor_text" -> ((s, dir) => {
      val resp = graft.sources.Warc.responses(graft.sources.Warc.readRecords(
        s, s"${warcBpFixturePath(s, dir)}/files")).toDF()
      val parsed = graft.sources.Warc.httpParsed(resp)
        .filter(col("http_status") === 200)
      val (cs, _) = graft.functions.Charset.detect(
        col("content_type"), col("body_bytes"))
      val pages = parsed.select(
        graft.functions.Url.canonicalizeUrl(col("uri")).as("page_url"),
        graft.functions.Charset.decodeWith(col("body_bytes"), cs).as("body"))
      val pat = "<a href=\"([^\"]*)\"[^>]*>([^<]*)</a>"
      pages.select(col("page_url"),
          explode(arrays_zip(
            regexp_extract_all(col("body"), lit(pat), lit(1)).as("h"),
            regexp_extract_all(col("body"), lit(pat), lit(2)).as("t"))).as("a"))
        .select(
          graft.functions.Url.canonicalizeUrl(graft.functions.Url.resolveUrl(
            col("page_url"), col("a.h"))).as("target_url"),
          col("a.t").as("text"))
        .groupBy("target_url", "text")
        .agg(count(lit(1)).as("n"))
        .groupBy("target_url")
        .agg(sum(col("n")).as("n_refs"),
          array_join(graft.functions.TopK.smallestK(col("text"), 64), "|")
            .as("anchor_texts"))
        .orderBy("target_url")
    }),

    // The CRAWL-CADENCE REFRESH end-to-end on the streamed graph: ranks
    // from the first three segment batches (LinkIngest.edges' batch-
    // pruned time-travel read) warm-start 8 rounds on the full
    // accumulated graph, gated within 2e-3 max-abs of the cold 10-round
    // walk. The last segment changes ~40% of the EDGE set (new sources
    // PLUS previously-unresolvable targets becoming live — real ingest
    // deltas are bigger than node-count splits suggest), so the honest
    // budget/tolerance was measured with the former `tools/GraphProbe`:
    // warm-8 lands 6.3e-4 from cold at 500 docs (3.2× margin) and 8.7e-5
    // at sf0.1 (23×), while cold-10's own residual vs cold-15 is 1.4e-5
    // — the reference is converged. Published output = the cold ranks (replaying the
    // shared extracted-edges chain) + the pinned-TRUE proximity bool —
    // the graph_pagerank_incremental gate convention, now over the REAL
    // ingest accumulation instead of an arithmetic split. The three
    // inline walks are the ORACLE GATE, priced by design (see
    // COVERAGE.md note); production ships warm-only + crawlRanks.
    "pipeline_crawl_refresh" -> ((s, dir) => {
      val idx = s"${warcIngestPath(s, dir)}/links"
      // the warm-start input IS persisted state: the prior crawl's ranks
      // come from the index keyed on the link index's LANDED-DATA listing
      // (ranksForLinkIndex) — a freshness check costs O(listing), never
      // the as-of resolution join
      val oldRanks = ranksForLinkIndex(s, idx, upToBatch = Some(2L),
        nodeOf = pathIdNode)
      // materialize the full extraction once: warm + cold share it
      val full = graft.streaming.LinkIngest.edges(s, idx, nodeOf = pathIdNode)
        .localCheckpoint()
      val warm = graft.operators.Graph.pageRank(full, "src", "dst",
        iterations = 8, init = Some(oldRanks))
      val cold = graft.operators.Graph.pageRank(full, "src", "dst",
        iterations = 10)
      // both walks rank the same node set (every endpoint of `full`), so
      // the per-node difference is a sum over the two vectors' union. A
      // join of the two would let AQE pick its build side per run from
      // whichever walk's shuffle finished first, compiling new code for
      // each pick; the union has one plan.
      val gate = cold.select(col("node"), col("rank").as("d"))
        .unionByName(warm.select(col("node"), (-col("rank")).as("d")))
        .groupBy("node").agg(sum("d").as("d"))
        .agg(max(abs(col("d"))).as("m"))
        .select((col("m") <= 2e-3).as("ok"))
      cold.crossJoin(broadcast(gate))
        .select(col("node"), round(col("rank"), 6).as("rank"),
          col("ok").as("warm_within_tol"))
        .orderBy("node")
    }),

    // STREAMED accumulation of the same edge table (streaming/LinkIngest):
    // per-segment map-side appends of canonical (src_url, dst_url) pairs
    // and discovered URLs, resolution deferred to read time — a link
    // captured before its target is discovered resolves when a later
    // segment lands it. SHARES warc_links' oracle verbatim: the
    // accumulated end state must equal batch extraction over the whole
    // archive (equivalence twin).
    "warc_links_streamed" -> ((s, dir) =>
      graft.streaming.LinkIngest.edges(s, s"${warcIngestPath(s, dir)}/links",
          nodeOf = pathIdNode)
        .orderBy("src", "dst")),

    // The COMPACTED index under the SAME oracle: collapsing each table's
    // batch dirs to one distinct-rows dir (LinkIngest.compact — the
    // read-amplification bound at crawl cadence) must leave the resolved
    // edge table bit-identical. Third member of the warc_links
    // equivalence family.
    "warc_links_compacted" -> ((s, dir) =>
      graft.streaming.LinkIngest.edges(s,
          s"${warcIngestPath(s, dir)}/links_compact", nodeOf = pathIdNode)
        .orderBy("src", "dst")),

    // WARC SINK round-trip (Warc.writeRecords — the source's symmetric
    // half): read the archives, keep the 200-status pages, RE-EXPORT
    // them as standard WARC files, read those back through the same
    // parser, and hash every record byte-exactly against the arithmetic
    // oracle. A framing error anywhere in the writer (lengths, header
    // serialization, gzip) breaks the re-parse and the row goes red.
    "warc_rewrite" -> ((s, dir) => {
      val ids = t(s, dir, "documents").select(col("doc_id"))
      // "warclqrrw" (re-export twin of warclqr): embeds the source
      // fixture's payload bytes incl. the unquoted + relative anchors
      val path = ensureIndex(s, ids, "warclqrrw", "built") { p =>
        val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
        fs.delete(new org.apache.hadoop.fs.Path(s"$p/files"), true)
        import s.implicits._
        val pages = graft.sources.Warc.httpParsed(
            graft.sources.Warc.responses(warcRecords(s, dir)).toDF())
          .filter(col("http_status") === 200)
          // `truncated` must ride along since WarcRecord grew the field
          // (r16 WARC-Truncated round-trip): the encoder has no defaults,
          // and dropping it fails ANALYSIS — but only when the memoized
          // fixture needs rebuilding, which is exactly how it slipped
          // past a close whose index cache was warm
          .select("path", "warc_type", "record_id", "uri", "content_length",
            "payload", "truncated")
          .as[graft.sources.WarcRecord]
        val n = graft.sources.Warc.writeRecords(pages, s"$p/files", nFiles = 8)
        s.range(1).select(lit(n).as("n_records")).write.mode("overwrite").parquet(s"$p/built")
      }
      graft.sources.Warc.responses(graft.sources.Warc.readRecords(s, s"$path/files")).toDF()
        .select(regexp_extract(col("record_id"), "doc-(\\d+)", 1).cast("long").as("doc_id"),
          col("uri"), col("content_length"),
          md5(col("payload")).as("payload_md5"))
        .orderBy("doc_id")
    }),

    // The crawl-curation pipeline END-TO-END in production order:
    // fetch-status gate -> canonical-URL dedup (one fetch per url — the
    // slot is consumed even when the survivor then fails quality) ->
    // quality gate (min tokens) -> exact-text dedup -> kept docs.
    // Each dedup tier is groupBy(key).agg(min(doc_id)) + join-back on the
    // unique doc_id (hash aggregates with map-side partials + long-key
    // joins — no string-valued agg buffers, so no SortAggregate; the
    // 100 TB shape). 454 pages -> 110 kept at sf0.01.
    "pipeline_warc" -> ((s, dir) => {
      // one archive pass: parse + extract, then checkpoint the 4-column
      // digest frame (bytes never cross a shuffle) — the two dedup tiers
      // each reference it twice, so without this the gzip decode + HTML
      // walk would run 4x
      val pages = warcPages(graft.sources.Warc.responses(warcRecords(s, dir)).toDF())
        .localCheckpoint()
      val urlKept = pages.groupBy("url").agg(min("doc_id").as("doc_id"))
        .select("doc_id")
      val gated = pages.join(urlKept, "doc_id").filter(col("n_tokens") >= 3)
      val textKept = gated.groupBy("text_md5").agg(min("doc_id").as("doc_id"))
        .select("doc_id")
      gated.join(textKept, "doc_id")
        .select("doc_id", "url", "n_tokens")
        .orderBy("doc_id")
    }),

    // The STREAMED twin (streaming/WarcIngest.scala): the same archives
    // re-laid as crawl segments (rangePartition — file order follows id
    // order, each "crawl" carries new ids), consumed 4 files per
    // micro-batch; every tier runs incrementally against the accumulated
    // claim log (url first-claim, quality gate, text-md5 first-claim)
    // under BatchMarker exactly-once. SHARES pipeline_warc's oracle —
    // a green row proves greedy first-claim over id-ordered arrival
    // equals the batch pipeline's global min-doc_id resolution.
    "warc_ingest_streamed" -> ((s, dir) => {
      val path = warcIngestPath(s, dir)
      graft.streaming.WarcIngest.kept(s, s"$path/log").orderBy("doc_id")
    }),

    // robots.txt policy gating (functions/Robots) — the pre-fetch stage:
    // per-host policies parse map-side to `*`-group RULE arrays
    // (Disallow + Allow with `*`/`$` patterns), broadcast, and gate every
    // page URL under RFC 9309 longest-match precedence. The fixture
    // plants one adversarial case per parser obligation: a decoy
    // bot-specific `Disallow: /` group AND a `User-agent: *bot` group
    // (agent token must match `*` exactly), an empty-Disallow host (5),
    // a two-prefix host (6) with an Allow carve-out that must WIN by
    // length, a per-host `Allow: /d/h5` carve-out, and host 4's
    // wildcard-anchored `Disallow: /d/*7$` plus a decoy `Allow: /d/`
    // that must LOSE by length. The oracle states the arithmetic ideal —
    // every planted case has to come through the evaluator to match.
    "warc_robots_gate" -> ((s, dir) => {
      val pages = graft.sources.Warc.responses(warcRecords(s, dir)).toDF()
        .select(regexp_extract(col("record_id"), "doc-(\\d+)", 1).cast("long").as("doc_id"),
          lower(try_parse_url(col("uri"), lit("HOST"))).as("host"),
          try_parse_url(col("uri"), lit("PATH")).as("path"))
      val rules = robotsPolicies(s).select(col("host"),
        graft.functions.Robots.rules(col("robots_txt")).as("rules"))
      pages.join(broadcast(rules), Seq("host"), "left")
        .select(col("doc_id"), col("host"),
          graft.functions.Robots.isBlockedByRules(col("path"), col("rules")).as("blocked"))
        .orderBy("doc_id")
    }),

    // The PACED fetch schedule — the last stage of the crawl loop, where
    // every policy signal lands at once: candidates from the archives,
    // the RULES-tier robots gate (Allow carve-outs and the wildcard rule
    // decide real rows here), rank from the persisted index, a top-3
    // per-host budget, and each slot offset by the host's Crawl-delay
    // ((rn−1) × delay — the pacing a polite fetcher enforces between
    // hits on one host). Map-side policy parse broadcast into the gate;
    // one per-host window over the budgeted rows.
    "pipeline_crawl_schedule" -> ((s, dir) => {
      // candidates come from the PERSISTED discovered-URL table (one
      // parquet read), not an archive re-parse — the crawl-state shape
      val cand = crawlUrls(s, dir)
      val pol = robotsPolicies(s).select(col("host"),
        graft.functions.Robots.rules(col("robots_txt")).as("rules"),
        graft.functions.Robots.crawlDelaySeconds(col("robots_txt")).as("delay"))
      val allowed = cand.join(broadcast(pol), Seq("host"), "left")
        .filter(!graft.functions.Robots.isBlockedByRules(col("path"), col("rules")))
      val w = Window.partitionBy(col("host"))
        .orderBy(desc("rank"), asc("node"))
      allowed.join(crawlRanks(s, dir), Seq("node"))
        .withColumn("rank", round(col("rank"), 6))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("host"), col("url"), col("node"), col("rank"),
          ((col("rn") - 1) * coalesce(col("delay"), lit(0.0)))
            .as("scheduled_offset_s"))
        .orderBy("host", "node")
    }),

    // The PER-BOT gate (Robots.rulesFor/crawlDelaySecondsFor): a crawler
    // evaluating its OWN product token picks the groups that name it —
    // here via the STACKED `User-agent: graftbot` line, which is
    // directive-less and must inherit the shared rule block (RFC 9309
    // §2.1 group merging) — and falls back to `*` only on host 3, which
    // declares no graftbot group. The named rules invert the bulk
    // verdicts (Disallow /d/ + a host-digit Allow carve-out), so a leak
    // in either direction flips rows.
    "warc_robots_gate_bot" -> ((s, dir) => {
      val pages = graft.sources.Warc.responses(warcRecords(s, dir)).toDF()
        .select(regexp_extract(col("record_id"), "doc-(\\d+)", 1).cast("long").as("doc_id"),
          lower(try_parse_url(col("uri"), lit("HOST"))).as("host"),
          try_parse_url(col("uri"), lit("PATH")).as("path"))
      val bot = lit("graftbot")
      val pol = robotsPolicies(s).select(col("host"),
        graft.functions.Robots.rulesFor(col("robots_txt"), bot).as("rules"),
        graft.functions.Robots.crawlDelaySecondsFor(col("robots_txt"), bot)
          .as("crawl_delay"))
      pages.join(broadcast(pol), Seq("host"), "left")
        .select(col("doc_id"), col("host"),
          graft.functions.Robots.isBlockedByRules(col("path"), col("rules"))
            .as("blocked"),
          col("crawl_delay"))
        .orderBy("doc_id")
    }),

    // REDIRECT-CHAIN resolution — the alias tier crawl dedup needs
    // before content ever loads: per origin, follow Location hops
    // (RELATIVE Locations are legal per RFC 7231 §7.1.2 and common —
    // resolved with Url.resolveUrl against the hop's own url; the
    // even-k hops here are root-relative, odd-k absolute) to the final
    // url, under a HOP BUDGET with self-loop termination. Fixture: per
    // host, 10 arithmetic chains of m%3+1 hops ending on the /d/(h+7m)
    // page; the m==9 chain is a planted SELF-LOOP that must exhaust the
    // budget and report resolved=false, never spin. The loop is 8
    // bounded driver rounds of a left join over the redirect table —
    // done rows ride through unchanged (their final url has no redirect
    // row), so the fold is idempotent past each chain's end.
    "pipeline_crawl_redirects" -> ((s, dir) => {
      val hm = s.range(7).select(col("id").as("h"))
        .crossJoin(s.range(10).select(col("id").as("m")))
      val hops = hm.select(col("h"), col("m"),
        explode(sequence(lit(0L), pmod(col("m"), lit(3)))).as("k"))
      val srcU = concat(lit("https://d"), col("h"), lit(".ex.test/r/"),
        col("h"), lit("/"), col("m"), lit("/"), col("k"))
      val isLast = col("k") === pmod(col("m"), lit(3))
      val location = when(col("m") === 9 && isLast,
          concat(lit("/r/"), col("h"), lit("/9/0"))) // the self-loop
        .when(isLast, concat(lit("/d/"), col("h") + col("m") * 7))
        .when(pmod(col("k"), lit(2)) === 1,
          concat(lit("https://d"), col("h"), lit(".ex.test/r/"),
            col("h"), lit("/"), col("m"), lit("/"), col("k") + 1))
        .otherwise(concat(lit("/r/"), col("h"), lit("/"), col("m"),
          lit("/"), col("k") + 1))
      val redirects = hops
        .select(srcU.as("cur"),
          graft.functions.Url.resolveUrl(srcU, location).as("next_url"))
        .localCheckpoint()
      var walk = hm.select(
        concat(lit("https://d"), col("h"), lit(".ex.test/r/"), col("h"),
          lit("/"), col("m"), lit("/0")).as("origin"))
        .select(col("origin"), col("origin").as("cur"),
          lit(0L).as("n_hops"))
      val budget = 8
      for (i <- 1 to budget) {
        walk = walk.join(redirects, Seq("cur"), "left")
          .select(col("origin"),
            coalesce(col("next_url"), col("cur")).as("cur"),
            (col("n_hops") + when(col("next_url").isNotNull, 1L)
              .otherwise(0L)).as("n_hops"))
        if (i % 4 == 0) walk = walk.localCheckpoint()
      }
      // resolved = the final url has no redirect row left (a loop or an
      // over-budget chain still sits on a redirecting url)
      walk.join(redirects.select(col("cur"), lit(true).as("redirects_on")),
          Seq("cur"), "left")
        .select(col("origin"), col("cur").as("final_url"), col("n_hops"),
          coalesce(!col("redirects_on"), lit(true)).as("resolved"))
        .orderBy("origin")
    }),

    // The robots-FETCH-STATUS gate (RFC 9309 §2.3.1) — what a crawler
    // does when the policy fetch itself fails: per host, the robots.txt
    // fetch status is h%4-classed (0 → 200 parse-and-evaluate, 1 → 404
    // unavailable ⇒ MAY access everything, 2 → 503 unreachable ⇒ MUST
    // assume complete disallow, 3 → null/timeout ⇒ same). Only the 200
    // class consults the rule arithmetic; a gate that parsed a 503
    // host's stale text (or treated 404 as block-all) flips whole hosts.
    "warc_robots_gate_status" -> ((s, dir) => {
      val pages = graft.sources.Warc.responses(warcRecords(s, dir)).toDF()
        .select(regexp_extract(col("record_id"), "doc-(\\d+)", 1).cast("long").as("doc_id"),
          lower(try_parse_url(col("uri"), lit("HOST"))).as("host"),
          try_parse_url(col("uri"), lit("PATH")).as("path"))
      val st = pmod(regexp_extract(col("host"), "d(\\d+)", 1).cast("long"), lit(4))
      val pol = robotsPolicies(s).select(col("host"),
        when(st === 0, lit(200)).when(st === 1, lit(404))
          .when(st === 2, lit(503)).otherwise(lit(null).cast("int"))
          .as("fetch_status"),
        graft.functions.Robots.rules(col("robots_txt")).as("rules"))
      pages.join(broadcast(pol), Seq("host"), "left")
        .select(col("doc_id"), col("host"), col("fetch_status"),
          graft.functions.Robots.isBlockedWithFetchStatus(
            col("fetch_status"), col("path"), col("rules")).as("blocked"))
        .orderBy("doc_id")
    }),

    // Sitemap discovery (Robots.sitemaps) — the crawl's seed-URL source:
    // sitemap lines are GROUP-INDEPENDENT per RFC 9309 §2.3, and the
    // fixture plants each host's line INSIDE the fetchbot decoy group to
    // prove it — the URL must surface while the group's Disallow: /
    // keeps not leaking into the gate.
    "warc_sitemaps" -> ((s, dir) =>
      robotsPolicies(s).select(col("host"),
          explode(graft.functions.Robots.sitemaps(col("robots_txt")))
            .as("sitemap"))
        .orderBy("host")),

    // Sitemap CONSUMPTION (Robots.sitemapLocs) — the leg after discovery:
    // the per-host sitemap XML parses to <loc> seed URLs, canonicalized
    // (the shouting-caps-with-port and whitespace-padded classes must
    // fold onto the plain form; lastmod/priority decoys must not
    // surface). One map-side regexp pass per document.
    "warc_sitemap_urls" -> ((s, dir) => {
      val n = t(s, dir, "documents").count()
      sitemapDocs(s, n).select(col("host"),
          explode(graft.functions.Robots.sitemapLocs(col("sitemap_xml"))).as("loc"))
        .select(col("host"),
          graft.functions.Url.canonicalizeUrl(col("loc")).as("url"))
        .distinct()
        .orderBy("host", "url")
    }),

    // TWO-LEVEL sitemap discovery under the SAME oracle: a per-host
    // <sitemapindex> (whitespace-padded <loc>, lastmod decoy) parses to
    // the sitemap URL the robots fixture declares, joins to that fetched
    // document, and the second-level parse must land the identical seed
    // set — nesting ≡ flat, the equivalence-twin convention applied to
    // sitemapLocs' sitemapindex claim.
    "warc_sitemap_index" -> ((s, dir) => {
      val n = t(s, dir, "documents").count()
      val hid = col("id")
      val index = s.range(7).select(
        concat(lit("d"), hid, lit(".ex.test")).as("host"),
        concat(lit("<?xml version=\"1.0\"?>\n<sitemapindex>\n  <sitemap><loc>\n    "),
          lit("https://d"), hid, lit(".ex.test/sitemap-"), hid, lit(".xml  \n  "),
          lit("</loc><lastmod>2026-02-02</lastmod></sitemap>\n</sitemapindex>\n"))
          .as("xml"))
      val level1 = index.select(col("host"),
        explode(graft.functions.Robots.sitemapLocs(col("xml"))).as("sm_url"))
      val fetched = sitemapDocs(s, n).withColumn("sm_url",
        concat(lit("https://"), col("host"), lit("/sitemap-"),
          regexp_extract(col("host"), "d(\\d+)", 1), lit(".xml")))
      level1.join(fetched, Seq("host", "sm_url"))
        .select(col("host"),
          explode(graft.functions.Robots.sitemapLocs(col("sitemap_xml"))).as("loc"))
        .select(col("host"),
          graft.functions.Url.canonicalizeUrl(col("loc")).as("url"))
        .distinct()
        .orderBy("host", "url")
    }),

    // RECURSIVE sitemap discovery (sitemapWalk): a 3-level fixture —
    // robots-declared root <sitemapindex> → sub-index → the flat urlset —
    // with TWO planted cycles (the root lists itself; the sub-index lists
    // the root back) that the visited anti-join must terminate, under a
    // depth budget of 5. The walked seed set must equal the flat parse's
    // EXACTLY: it shares sitemapUrlsOracle VERBATIM with
    // warc_sitemap_urls and warc_sitemap_index — the third member of the
    // nesting ≡ flat equivalence family.
    "warc_sitemap_walk" -> ((s, dir) => {
      val n = t(s, dir, "documents").count()
      val hid = col("id")
      def smUrl(suffix: String) = concat(lit("https://d"), hid,
        lit(".ex.test/sitemap-"), hid, lit(suffix))
      val hosts = s.range(7).select(
        concat(lit("d"), hid, lit(".ex.test")).as("host"),
        smUrl(".xml").as("root"), smUrl("-sub.xml").as("sub"),
        smUrl("-leaf.xml").as("leaf"))
      val rootDocs = hosts.select(col("host"), col("root").as("sm_url"),
        concat(lit("<?xml version=\"1.0\"?>\n<sitemapindex>\n  <sitemap><loc>"),
          col("sub"),
          lit("</loc><lastmod>2026-03-01</lastmod></sitemap>\n  <sitemap><loc>  "),
          col("root"), lit("\n  </loc></sitemap>\n</sitemapindex>\n")).as("xml"))
      val subDocs = hosts.select(col("host"), col("sub").as("sm_url"),
        concat(lit("<sitemapindex><sitemap><loc>"), col("leaf"),
          lit("</loc></sitemap><sitemap><loc>"), col("root"),
          lit("</loc></sitemap></sitemapindex>")).as("xml"))
      val leafDocs = sitemapDocs(s, n).join(hosts, "host")
        .select(col("host"), col("leaf").as("sm_url"),
          col("sitemap_xml").as("xml"))
      val fetched = rootDocs.unionByName(subDocs).unionByName(leafDocs)
      val roots = robotsPolicies(s).select(col("host"),
        explode(graft.functions.Robots.sitemaps(col("robots_txt"))).as("sm_url"))
      sitemapWalk(fetched, roots, maxDepth = 5)
        .select(col("host"),
          graft.functions.Url.canonicalizeUrl(col("loc")).as("url"))
        .distinct()
        .orderBy("host", "url")
    }),

    // The FRONTIER-SEED diff that closes the crawl loop: sitemap locs
    // minus the already-discovered URL table (one anti-join against the
    // persisted crawl index) = the pages to enqueue. Three seed classes
    // must survive: beyond-corpus pages (never fetched), alias-shadow
    // positions (p%3==2 — no page canonicalizes there), and p%5==0 pages
    // whose DISCOVERED canonical form carries a query string the bare
    // sitemap loc doesn't — while every plainly-known page drops,
    // INCLUDING the k%4==3 entity class whose decoded query form folds
    // onto the discovered canonical (the &amp; defect made those
    // spurious seeds).
    "pipeline_crawl_seeds" -> ((s, dir) => {
      val n = t(s, dir, "documents").count()
      val locs = sitemapDocs(s, n).select(col("host"),
          explode(graft.functions.Robots.sitemapLocs(col("sitemap_xml"))).as("loc"))
        .select(col("host"),
          graft.functions.Url.canonicalizeUrl(col("loc")).as("url"))
        .distinct()
      locs.join(crawlUrls(s, dir).select(col("url")), Seq("url"), "left_anti")
        .select(col("host"), col("url"))
        .orderBy("host", "url")
    }),

    // The DISCOVERY-TO-FETCH leg composed end-to-end: frontier seeds
    // (sitemap locs minus the discovered-URL table) gated and paced AS A
    // NAMED BOT — rulesFor/crawlDelaySecondsFor pick graftbot's stacked
    // group where one exists (Disallow /d/ with the host-digit Allow
    // carve-out; delay 7) and fall back to the `*` tier on host 3
    // (prefix rules; delay 2) — then a top-3 per-host enqueue budget
    // ordered by url (seeds are pre-rank by definition), each slot
    // offset by the bot's delay. Integrates the r14 sitemap + per-bot
    // tiers into one scheduling decision. r16: the RFC 9309 §2.4 robots
    // cache clock (pipeline_crawl_robots_age's per-host fetch hour vs
    // the 2026-02-03 probe, 24 h validity) GATES the schedule — a stale
    // host gets a `robots_refresh` row at slot 0 and its page fetches
    // shift one delay slot, so the policy is re-validated before any
    // page is fetched under it; fresh hosts schedule as before.
    "pipeline_crawl_enqueue" -> ((s, dir) => {
      val n = t(s, dir, "documents").count()
      val seeds = sitemapDocs(s, n).select(col("host"),
          explode(graft.functions.Robots.sitemapLocs(col("sitemap_xml"))).as("loc"))
        .select(col("host"),
          graft.functions.Url.canonicalizeUrl(col("loc")).as("url"))
        .distinct()
        .join(crawlUrls(s, dir).select(col("url")), Seq("url"), "left_anti")
      val bot = lit("graftbot")
      val pol = robotsPolicies(s).select(col("host"),
        graft.functions.Robots.rulesFor(col("robots_txt"), bot).as("rules"),
        // the per-bot delay already falls back to the `*` groups' on a
        // host with no graftbot group (groupsFor's selection)
        graft.functions.Robots.crawlDelaySecondsFor(col("robots_txt"), bot)
          .as("delay"))
      // the robots fetch clock (same arithmetic as
      // pipeline_crawl_robots_age): fetched 2026-02-01 + (h*9)%40 h,
      // probed 2026-02-03 ⇒ age 48 − (h*9)%40 h, stale beyond 24 h
      val fetchH = pmod(
        regexp_extract(col("host"), "d(\\d+)", 1).cast("long") * 9, lit(40))
      val w = Window.partitionBy(col("host")).orderBy(asc("url"))
      val gated = seeds.join(broadcast(pol), Seq("host"), "left")
        .filter(!graft.functions.Robots.isBlockedByRules(
          try_parse_url(col("url"), lit("PATH")), col("rules")))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .withColumn("robots_stale", (lit(48L) - fetchH) > lit(24L))
      val pages = gated.select(col("host"), lit("fetch").as("kind"), col("url"),
        ((col("rn") - 1 + when(col("robots_stale"), 1).otherwise(0)) *
          coalesce(col("delay"), lit(0.0))).as("scheduled_offset_s"))
      // one refresh row per stale host WITH work queued (keyed off its
      // first page slot, so an all-blocked host refreshes nothing)
      val robots = gated.filter(col("robots_stale") && col("rn") === 1)
        .select(col("host"), lit("robots_refresh").as("kind"),
          concat(lit("https://"), col("host"), lit("/robots.txt")).as("url"),
          lit(0.0).as("scheduled_offset_s"))
      robots.unionByName(pages)
        .orderBy("host", "scheduled_offset_s", "url")
    }),

    // LASTMOD-DRIVEN refresh prioritization (Robots.sitemapEntries) —
    // consuming the one freshness signal the sitemap protocol exists to
    // provide: per discovered url, the sitemap's lastmod joins the crawl
    // state (the persisted url table for identity, the rank index for
    // priority) against the last-crawl snapshot date, and the re-fetch
    // queue orders STALENESS FIRST (lastmod after the fetch snapshot),
    // rank second — so a stale low-rank page outranks a fresh high-rank
    // one, which is the entire point of the signal. Top-12 per host — wide
    // enough that the stale/fresh BOUNDARY itself is in the output (fresh
    // rows surface below every stale one), so the ordering proof is
    // visible, not just hash-implied.
    // Only KNOWN urls qualify (refresh is for fetched pages; unseen locs
    // are pipeline_crawl_seeds' business): the inner join against the
    // url table also re-proves the entity-class fold (a query-form loc
    // matches only because &amp; decoded). Oracle replays the rank chain
    // + the lastmod arithmetic + the two-key window verbatim.
    "pipeline_crawl_refresh_lastmod" -> ((s, dir) => {
      val n = t(s, dir, "documents").count()
      val entries = sitemapDocs(s, n).select(col("host"),
          explode(graft.functions.Robots.sitemapEntries(col("sitemap_xml")))
            .as("e"))
        .select(col("host"),
          graft.functions.Url.canonicalizeUrl(col("e.loc")).as("url"),
          to_date(col("e.lastmod")).as("lastmod"))
      // the crawl log's fetch clock: one snapshot date for the whole
      // archive fixture (a real deployment joins per-url fetch times)
      val fetchDate = to_date(lit("2026-02-01"))
      val w = Window.partitionBy(col("host"))
        .orderBy(desc("is_stale"), desc("rank"), asc("node"))
      entries.join(crawlUrls(s, dir).select(col("url"), col("node")), Seq("url"))
        .join(crawlRanks(s, dir), Seq("node"))
        .withColumn("rank", round(col("rank"), 6))
        .withColumn("is_stale", col("lastmod") > fetchDate)
        .withColumn("rn", row_number().over(w).cast("bigint"))
        .filter(col("rn") <= 12)
        .select(col("host"), col("url"), col("node"),
          date_format(col("lastmod"), "yyyy-MM-dd").as("lastmod"),
          col("is_stale"), col("rank"), col("rn"))
        .orderBy("host", "rn")
    }),

    // The RE-FETCH leg composed end-to-end — the refresh counterpart of
    // pipeline_crawl_enqueue (which handles NEW urls): the stale set
    // (per-url fetch clock vs sitemap lastmod, stale_days > 0) gated and
    // paced AS THE NAMED BOT (rulesFor/crawlDelaySecondsFor — graftbot's
    // stacked group where one exists, `*` fallback on host 3), then a
    // top-3 per-host re-fetch budget ordered by staleness with
    // (rn−1)×delay offsets. Closes the crawl loop: discover → enqueue →
    // fetch → refresh-detect → re-fetch schedule.
    "pipeline_crawl_refresh_enqueue" -> ((s, dir) => {
      val n = t(s, dir, "documents").count()
      val entries = sitemapDocs(s, n).select(col("host"),
          explode(graft.functions.Robots.sitemapEntries(col("sitemap_xml")))
            .as("e"))
        .select(col("host"),
          graft.functions.Url.canonicalizeUrl(col("e.loc")).as("url"),
          to_date(col("e.lastmod")).as("lastmod"))
      val idx = s"${warcIngestPath(s, dir)}/links"
      val fetched = s.read.parquet(s"$idx/urls")
        .groupBy(col("url"))
        .agg(min(col("batch_id")).cast("bigint").as("fetch_batch"))
        .withColumn("fetch_date",
          date_add(to_date(lit("2026-02-01")),
            (col("fetch_batch") * 10).cast("int")))
      val stale = entries.join(fetched, Seq("url"))
        .withColumn("stale_days",
          datediff(col("lastmod"), col("fetch_date")).cast("bigint"))
        .filter(col("stale_days") > 0)
      val bot = lit("graftbot")
      val pol = robotsPolicies(s).select(col("host"),
        graft.functions.Robots.rulesFor(col("robots_txt"), bot).as("rules"),
        graft.functions.Robots.crawlDelaySecondsFor(col("robots_txt"), bot)
          .as("delay"))
      val w = Window.partitionBy(col("host"))
        .orderBy(desc("stale_days"), asc("url"))
      stale.join(broadcast(pol), Seq("host"), "left")
        .filter(!graft.functions.Robots.isBlockedByRules(
          try_parse_url(col("url"), lit("PATH")), col("rules")))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("host"), col("url"), col("stale_days"),
          ((col("rn") - 1) * coalesce(col("delay"), lit(0.0)))
            .as("scheduled_offset_s"))
        .orderBy("host", "url")
    }),

    // Per-host CRAWL-HEALTH / trap-score report — the heuristic a real
    // crawler runs before throttling a host: fetches vs distinct
    // canonical urls (alias_rate — re-fetch waste from uncanonicalized
    // link forms) and fetches vs distinct CONTENT (content_dup_rate —
    // the mirror/calendar-trap signature: many fetches, few bodies).
    // One archive pass (canonicalize + html_text + md5 map-side), one
    // hash aggregate per host with map-side partials — the 100 TB shape
    // (distinct counts per host would switch to HLL at the scale tier;
    // the exact form is the oracle-able baseline). The fixture's alias
    // pairs drive alias_rate above 1; the shared 404 body drives
    // content_dup_rate above alias_rate on every host.
    "pipeline_crawl_trap_score" -> ((s, dir) => {
      val parsed = graft.sources.Warc.httpParsed(
        graft.sources.Warc.responses(warcRecords(s, dir)).toDF())
      val pages = parsed.select(
          lower(try_parse_url(col("uri"), lit("HOST"))).as("host"),
          graft.functions.Url.canonicalizeUrl(col("uri")).as("url"),
          md5(graft.functions.HtmlTextColumn.htmlText(col("body")))
            .as("content_md5"))
        .filter(col("url").isNotNull)
      pages.groupBy("host")
        .agg(count(lit(1)).as("n_fetches"),
          countDistinct(col("url")).as("n_urls"),
          countDistinct(col("content_md5")).as("n_contents"))
        .select(col("host"), col("n_fetches"), col("n_urls"), col("n_contents"),
          round(col("n_fetches").cast("double") / col("n_urls"), 4)
            .as("alias_rate"),
          round(col("n_fetches").cast("double") / col("n_contents"), 4)
            .as("content_dup_rate"))
        .orderBy("host")
    }),

    // PER-URL fetch-clock refresh — the production form of the lastmod
    // leg: instead of one snapshot date, each url's last-fetch time comes
    // from the streamed link index's urls table (min landed batch_id per
    // url — the ingest log IS the fetch log), so staleness is
    // lastmod − fetch_date per url. The fixture interplay is arithmetic
    // on both axes: fetch batch = floor(min(floor(p/chunk),15)/4) from
    // the range-partitioned segment layout (batch b fetched at
    // 2026-02-01 + 10b days — base aligned with the snapshot leg so the
    // stale/fresh boundary lands INSIDE the per-host top-12), lastmod = 2026-01-01 + p%60 days — so
    // early-fetched pages go stale more often, exactly the real-world
    // shape. Top-12 per host by staleness days (the boundary rows where
    // staleness goes negative surface in the output); one groupBy over the urls
    // table + broadcast-sized sitemap join, no rank chain needed.
    "pipeline_crawl_refresh_fetched" -> ((s, dir) => {
      val n = t(s, dir, "documents").count()
      val entries = sitemapDocs(s, n).select(col("host"),
          explode(graft.functions.Robots.sitemapEntries(col("sitemap_xml")))
            .as("e"))
        .select(col("host"),
          graft.functions.Url.canonicalizeUrl(col("e.loc")).as("url"),
          to_date(col("e.lastmod")).as("lastmod"))
      val idx = s"${warcIngestPath(s, dir)}/links"
      val fetched = s.read.parquet(s"$idx/urls")
        .groupBy(col("url"))
        .agg(min(col("batch_id")).cast("bigint").as("fetch_batch"))
        .withColumn("fetch_date",
          date_add(to_date(lit("2026-02-01")),
            (col("fetch_batch") * 10).cast("int")))
      val w = Window.partitionBy(col("host"))
        .orderBy(desc("stale_days"), asc("url"))
      entries.join(fetched, Seq("url"))
        .withColumn("stale_days",
          datediff(col("lastmod"), col("fetch_date")).cast("bigint"))
        .withColumn("rn", row_number().over(w).cast("bigint"))
        .filter(col("rn") <= 12)
        .select(col("host"), col("url"), col("fetch_batch"),
          date_format(col("lastmod"), "yyyy-MM-dd").as("lastmod"),
          col("stale_days"), (col("stale_days") > 0).as("is_stale"),
          col("rn"))
        .orderBy("host", "rn")
    }),

    // The whole policy digest a scheduler keeps per host: rule count
    // (both tiers' input), the `*` group's crawl delay (the fetchbot
    // decoy's `Crawl-delay: 99` must NOT leak — delays are group-scoped,
    // unlike sitemaps), and the sitemap count. One map-side parse.
    "warc_policy_summary" -> ((s, dir) =>
      robotsPolicies(s).select(col("host"),
          size(graft.functions.Robots.rules(col("robots_txt")))
            .cast("bigint").as("n_rules"),
          graft.functions.Robots.crawlDelaySeconds(col("robots_txt"))
            .as("crawl_delay"),
          size(graft.functions.Robots.sitemaps(col("robots_txt")))
            .cast("bigint").as("n_sitemaps"))
        .orderBy("host")),

    // Link-graph ranking (operators/Graph.pageRank): 10 power-iteration
    // rounds with dangling-mass redistribution over an arithmetic link
    // graph (every non-d%5 doc links to 1 + d%3 targets; d%5==0 docs are
    // dangling — 100 of them at sf0.01, so the redistribution term is
    // live). The oracle replays all 10 rounds as MATERIALIZED chained
    // CTEs (the BPE-fold posture for iterative kernels); ranks rounded to
    // 6 dp per the float-agg convention, verified against an independent
    // NumPy replica during development.
    "graph_pagerank" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"))
      val nDocs = docs.count()
      val edges = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)
        .select(col("doc_id").as("src"),
          explode(sequence(lit(0L), pmod(col("doc_id"), lit(3L)))).as("j"))
        .select(col("src"),
          pmod(col("src") * 13 + col("j") * 17 + 1, lit(nDocs)).as("dst"))
      graft.operators.Graph.pageRank(edges, "src", "dst", iterations = 10)
        .select(col("node"), round(col("rank"), 6).as("rank"))
        .orderBy("node")
    }),

    // The crawl FRONTIER end-to-end — the integration of all four new
    // families: candidate urls parsed from the archives, canonical-alias
    // dedup, the robots gate, then PageRank-prioritized top-50 (rounded
    // rank DESC, node tiebreak). 404s stay in: the frontier is pre-fetch,
    // status is unknown at scheduling time.
    "pipeline_crawl_frontier" -> ((s, dir) => {
      val cand = graft.sources.Warc.responses(warcRecords(s, dir)).toDF()
        .select(graft.functions.Url.canonicalizeUrl(col("uri")).as("url"),
          lower(try_parse_url(col("uri"), lit("HOST"))).as("host"),
          try_parse_url(col("uri"), lit("PATH")).as("path"))
        .filter(col("url").isNotNull)
        .distinct() // canonical aliases collapse (host/path agree per url)
        .withColumn("node", regexp_extract(col("path"), "/d/(\\d+)", 1).cast("long"))
      val h = col("id")
      val rules = s.range(7).select(
        concat(lit("d"), h, lit(".ex.test")).as("host"),
        graft.functions.Robots.disallowPrefixes(concat(
          lit("User-agent: fetchbot\nDisallow: /\n\nUser-agent: *\n"),
          when(h === 5, lit("Disallow:\n"))
            .otherwise(concat(lit("Disallow: /d/"), h, lit("\n"))),
          when(h === 6, lit("Disallow: /d/16\n")).otherwise(lit("")),
          lit("Crawl-delay: 2\n"))).as("prefixes"))
      val allowed = cand.join(broadcast(rules), Seq("host"), "left")
        .filter(!graft.functions.Robots.isBlocked(col("path"), col("prefixes")))
      // the rank signal comes from the link graph EXTRACTED out of the
      // archived HTML itself, via the PERSISTED rank index (crawlRanks) —
      // the query pays the scheduling join, not the 10-round walk
      allowed.join(crawlRanks(s, dir), Seq("node"))
        .select(col("url"), col("node"), round(col("rank"), 6).as("rank"))
        .orderBy(desc("rank"), asc("node")).limit(50)
    }),

    // Host-graph contraction + WEIGHTED PageRank — what Common Crawl
    // actually ranks: pages contract to their host (node % 7 here),
    // intra-host links drop, parallel links become edge WEIGHTS (link
    // multiplicity), and mass leaves a host proportional to per-link
    // share. 7 hosts either way; weights follow the extracted graph.
    "graph_pagerank_hosts" -> ((s, dir) => {
      // contraction over the EXTRACTED link graph: node % 7 IS the
      // fixture's actual host (canonical path ids carry their host in
      // the residue), so this ranks the hosts of real archived content —
      // intra-host links drop, parallel page-level links become edge
      // weights, mass leaves a host by per-link share
      val hostEdges = warcLinkEdges(s, dir)
        .select(pmod(col("src"), lit(7)).as("hsrc"), pmod(col("dst"), lit(7)).as("hdst"))
        .filter(col("hsrc") =!= col("hdst"))
        .groupBy("hsrc", "hdst").agg(count(lit(1)).cast("double").as("w"))
      graft.operators.Graph.pageRank(hostEdges, "hsrc", "hdst", iterations = 10,
          weightCol = Some("w"))
        .select(col("node"), round(col("rank"), 6).as("rank"))
        .orderBy("node")
    }),

    // INCREMENTAL PageRank — the crawl-cadence claim, gated: rank the
    // old graph (srcs below 0.8N — a previous crawl), append the new
    // segment, run only 5 WARM rounds on the grown graph, and gate the
    // warm vector within 1e-3 (max abs) of the from-scratch 10-round
    // walk. Output = the cold ranks (hash-replayed by the shared chain
    // oracle) + the pinned-TRUE gate, the events_dau_sketch convention;
    // NumPy margins ≥3x at both SFs (warm-5 diff 3.3e-4 / 7.6e-5).
    "graph_pagerank_incremental" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"))
      val nDocs = docs.count()
      def edgesFrom(ids: DataFrame) = ids
        .filter(pmod(col("doc_id"), lit(5)) =!= 0)
        .select(col("doc_id").as("src"),
          explode(sequence(lit(0L), pmod(col("doc_id"), lit(3L)))).as("j"))
        .select(col("src"),
          pmod(col("src") * 13 + col("j") * 17 + 1, lit(nDocs)).as("dst"))
      val edges = edgesFrom(docs)
      val oldEdges = edgesFrom(docs.filter(col("doc_id") < lit(nDocs * 4 / 5)))
      // the previous crawl's ranks are PERSISTED state (ranksFor,
      // fingerprint-keyed) — the warm start reads them, never re-walks
      val oldRanks = ranksFor(s, oldEdges)
      val warm = graft.operators.Graph.pageRank(edges, "src", "dst", 5,
          init = Some(oldRanks))
        .select(col("node"), col("rank").as("wrank"))
      val cold = graft.operators.Graph.pageRank(edges, "src", "dst", 10)
      val gate = warm.join(cold, Seq("node"))
        .agg(max(abs(col("wrank") - col("rank"))).as("m"))
        .first().getDouble(0) <= 1e-3
      cold.select(col("node"), round(col("rank"), 6).as("rank"),
          lit(gate).as("warm_within_tol"))
        .orderBy("node")
    }),

    // GLOBAL FETCH-BUDGET APPORTIONMENT across hosts — the cycle-level
    // decision above pipeline_crawl_polite's per-host cut: a crawl has
    // B fetch slots per cycle (bandwidth/politeness bound) and must
    // split them across hosts in proportion to demand so that the
    // allocations are integers SUMMING EXACTLY to B. Hamilton /
    // largest-remainder apportionment: integer-divide each host's
    // quota, then hand the leftover slots to the largest remainders
    // (host-ascending tiebreak) — the standard apportionment with no
    // FP anywhere, so the oracle replays it digit-exact. Scale shape:
    // demand is one hash aggregate; everything after runs on the
    // HOST-cardinality table (tiny — the global window is over hosts,
    // never pages) with scalar broadcasts.
    "pipeline_crawl_budget" -> ((s, dir) => {
      val B = 100L
      val parsed = graft.sources.Warc.httpParsed(
          graft.sources.Warc.responses(warcRecords(s, dir)).toDF())
        .filter(col("http_status") === 200)
      val demand = parsed.select(lower(try_parse_url(
          graft.functions.Url.canonicalizeUrl(col("uri")), lit("HOST"))).as("host"))
        .groupBy("host").agg(count(lit(1)).as("demand"))
      val tot = demand.agg(sum("demand").as("total"))
      val q = demand.crossJoin(broadcast(tot))
        .withColumn("base", expr(s"(demand * $B) div total"))
        .withColumn("rem", expr(s"(demand * $B) % total"))
      val leftover = q.agg((lit(B) - sum("base")).as("leftover"))
      val w = Window.orderBy(col("rem").desc, col("host"))
      q.crossJoin(broadcast(leftover))
        .withColumn("rk", row_number().over(w))
        .select(col("host"), col("demand"),
          (col("base") + when(col("rk") <= col("leftover"), 1L).otherwise(0L))
            .as("allocated"))
        .orderBy("host")
    }),

    // Politeness-capped frontier — the per-HOST fetch budget every crawl
    // scheduler enforces: top-3 urls per host by rank, selected through
    // the bounded smallest_k HEAP (map-side partial, shuffle carries ≤ k
    // rows per host per task — never a per-host sort of the frontier);
    // the oracle replays the same cut in WINDOW form, so the green row
    // is another heap ≡ window equivalence proof. Selection orders by
    // the ROUNDED rank + node so the cut is cross-engine deterministic.
    "pipeline_crawl_polite" -> ((s, dir) => {
      // ranks AND candidates come from the persisted crawl index (two
      // parquet reads, listing-keyed) — the scheduling query never
      // re-walks the graph and never re-parses the archive
      val ranks = crawlRanks(s, dir)
      val cand = crawlUrls(s, dir)
      val h = col("id")
      val rules = s.range(7).select(
        concat(lit("d"), h, lit(".ex.test")).as("host"),
        graft.functions.Robots.disallowPrefixes(concat(
          lit("User-agent: fetchbot\nDisallow: /\n\nUser-agent: *\n"),
          when(h === 5, lit("Disallow:\n"))
            .otherwise(concat(lit("Disallow: /d/"), h, lit("\n"))),
          when(h === 6, lit("Disallow: /d/16\n")).otherwise(lit("")),
          lit("Crawl-delay: 2\n"))).as("prefixes"))
      val allowed = cand.join(broadcast(rules), Seq("host"), "left")
        .filter(!graft.functions.Robots.isBlocked(col("path"), col("prefixes")))
        .join(ranks, Seq("node"))
        .withColumn("rank", round(col("rank"), 6))
      allowed
        .groupBy("host")
        .agg(graft.functions.TopK.smallestK(
          struct((-col("rank")).as("nr"), col("node"), col("url"), col("rank")), 3).as("ks"))
        .select(col("host"), explode(col("ks")).as("k"))
        .select(col("host"), col("k.url").as("url"), col("k.node").as("node"),
          col("k.rank").as("rank"))
        .orderBy("host", "node")
    }),

    // HITS hubs & authorities (Graph.hits) over the same link graph —
    // the directory-page/content-page decomposition a crawl uses to find
    // index pages. 8 L1-normalized rounds; oracle replays every
    // half-step as generated MATERIALIZED CTEs, NumPy-cross-checked.
    "graph_hits" -> ((s, dir) => {
      // hubs/authorities of the EXTRACTED link graph — the directory-
      // page/content-page decomposition over real archived content,
      // like the host contraction
      graft.operators.Graph.hits(warcLinkEdges(s, dir), "src", "dst",
          iterations = 8)
        .select(col("node"), round(col("hub"), 6).as("hub"),
          round(col("authority"), 6).as("authority"))
        .orderBy("node")
    }),

    // WEAKLY-CONNECTED components of the extracted link graph — the
    // site-cluster / mirror-family analysis a crawl runs before host
    // policies (a mirror farm is one component; budget it once). Reuses
    // the dedup tier's pointer-jump CC (log-diameter rounds, eager
    // per-round localCheckpoint — the 100 TB shape) over the symmetrized
    // edge set; component id = min node id, singletons via the left join
    // (a page that only self-links). Oracled as a recursive-CTE closure.
    "graph_components" -> ((s, dir) => {
      val edges = warcLinkEdges(s, dir).localCheckpoint() // extract once
      componentAssembly(edges,
        graft.operators.Dedup.duplicateClusters(componentPairs(edges)))
    }),

    // LABEL-PROPAGATION COMMUNITIES (Graph.labelPropagation, the
    // deterministic synchronous LPA): finer than weak components — a
    // component splits where link density does, the site-section /
    // topic-blob granularity crawl analysts budget by. 5 synchronized
    // rounds, ties to the smallest label, so the recursive oracle
    // replays every round exactly. Sizes as a window count, for the
    // reason componentAssembly gives.
    "graph_lpa" -> ((s, dir) => {
      graft.operators.Graph.labelPropagation(
          warcLinkEdges(s, dir), "src", "dst", iterations = 5)
        .select(col("node"), col("community"),
          count(lit(1)).over(Window.partitionBy("community")).as("community_size"))
        .orderBy("node")
    }),

    // INCREMENTAL component maintenance — the crawl-cadence form:
    // yesterday's labeling enters as star edges, only the pairs touching
    // the new node class (a re-crawled host's pages) are added, and the
    // relabeling must equal the from-scratch closure — SHARES
    // graph_components' recursive-CTE oracle, so green is the
    // equivalence proof (the dedup_phash_clusters_incremental posture,
    // on the link graph). Per-crawl cost = new pairs + touched history;
    // history is read as one labels table, never re-paired.
    "graph_components_incremental" -> ((s, dir) => {
      val edges = warcLinkEdges(s, dir).localCheckpoint()
      val pairs = componentPairs(edges).localCheckpoint()
      val isNew = (c: Column) => pmod(c, lit(13)) === 5
      val hist = pairs.filter(!isNew(col("doc_a")) && !isNew(col("doc_b")))
      val fresh = pairs.filter(isNew(col("doc_a")) || isNew(col("doc_b")))
      val prev = graft.operators.Dedup.duplicateClusters(hist)
      componentAssembly(edges,
        graft.operators.Dedup.incrementalClusters(prev, fresh))
    }),

    // Personalized PageRank: teleport restricted to every-17th doc id —
    // the domain-focused crawl-prioritization variant (rank pages by
    // proximity to a trusted seed set). Same operator, same oracle
    // generator with a seed-membership teleport CTE; mass leaks to
    // out-of-graph seeds by convention (they hold 1/|S| teleport shares
    // nobody can land on).
    "graph_pagerank_seeded" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"))
      val nDocs = docs.count()
      val edges = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)
        .select(col("doc_id").as("src"),
          explode(sequence(lit(0L), pmod(col("doc_id"), lit(3L)))).as("j"))
        .select(col("src"),
          pmod(col("src") * 13 + col("j") * 17 + 1, lit(nDocs)).as("dst"))
      val seeds = docs.filter(pmod(col("doc_id"), lit(17)) === 0)
      graft.operators.Graph.pageRank(edges, "src", "dst", iterations = 10,
          seeds = Some(seeds), seedCol = "doc_id")
        .select(col("node"), round(col("rank"), 6).as("rank"))
        .orderBy("node")
    }),

    // The WET stage end-to-end: HTTP split (Warc.httpParsed) -> 200s only
    // -> real html_text extraction -> whitespace token count + text md5.
    // The embedded fake-record literal rides through as plain text (no
    // markup), so the oracle's reconstruction covers it too.
    "warc_text" -> ((s, dir) => {
      val resp = graft.sources.Warc.responses(warcRecords(s, dir)).toDF()
      // body decodes through the DETECTED charset (identity on this
      // all-ASCII undeclared fixture — the default UTF-8 arm — but the
      // pipeline posture matches the bp family's charset-aware chain)
      val (cs, _) = graft.functions.Charset.detect(
        col("content_type"), col("body_bytes"))
      graft.sources.Warc.httpParsed(resp)
        .filter(col("http_status") === 200)
        .select(regexp_extract(col("record_id"), "doc-(\\d+)", 1).cast("long").as("doc_id"),
          lower(try_parse_url(col("uri"), lit("HOST"))).as("host"),
          graft.functions.HtmlTextColumn.htmlText(
            graft.functions.Charset.decodeWith(col("body_bytes"), cs)).as("text"))
        .select(col("doc_id"), col("host"),
          size(split(trim(col("text")), "\\s+")).cast("bigint").as("n_tokens"),
          md5(col("text")).as("text_md5"))
        .orderBy("doc_id")
    }),

    // TRUNCATED capture round-trip (ISO 28500 §5.13) — the crawler's
    // response-size cap as a storage feature: payloads over 64 bytes
    // export as their prefix with a `WARC-Truncated: length` header,
    // and the read-back surfaces the marker plus the STORED length —
    // what a downstream consumer needs to know a document is a
    // deliberate prefix, not a corrupt capture (the quarantine path)
    // nor a complete one. The flat fixture splits cleanly: every 200
    // page exceeds the cap (status line + headers + html alone pass
    // it), every 404 fits under it. Same file-granular sink/scan shape
    // as every WARC leg.
    "warc_truncated_export" -> ((s, dir) => {
      import graft.sources.Warc
      val docs = t(s, dir, "documents").select(col("doc_id"))
      val path = ensureIndex(s, docs, "warctrunca", "built") { p =>
        val fs = org.apache.hadoop.fs.FileSystem.get(
          s.sparkContext.hadoopConfiguration)
        fs.delete(new org.apache.hadoop.fs.Path(s"$p/files"), true)
        Warc.writeRecords(
          Warc.capPayloads(Warc.responses(warcRecords(s, dir)), maxBytes = 64),
          s"$p/files", nFiles = 8)
        s.range(1).select(lit(1L).as("ok")).write.mode("overwrite")
          .parquet(s"$p/built")
      }
      Warc.readRecords(s, s"$path/files").toDF()
        .filter(col("warc_type") === "response")
        .select(
          regexp_extract(col("record_id"), "doc-(\\d+)", 1).cast("long").as("doc_id"),
          col("content_length").as("stored_len"),
          col("truncated"))
        .orderBy("doc_id")
    }),

    // The WET PRODUCTION shape (ISO 28500 §6.8 / Common Crawl's WET
    // layer): extracted text written back as `conversion` records —
    // one per source page, id re-keyed wet-<d>, payload = the UTF-8
    // text — through the standard WARC sink, then read back by the same
    // Content-Length walk and re-scored. SHARES warc_text's oracle: a
    // green row proves extract → WET write → archive read recovers the
    // text byte-exactly, including the planted fake-record literal now
    // riding INSIDE a conversion payload (a delimiter-scanning reader
    // would split the WET file there too). Sink kind is versioned
    // ("wetsinka") because the cached dir derives from EXTRACTION
    // semantics, not just the corpus — a text-pipeline change must bump
    // it. Scale shape: same file-granular parallel write/read as every
    // WARC sink; nothing driver-side but the bounded written-count sum.
    "warc_wet_roundtrip" -> ((s, dir) => {
      import graft.sources.{Warc, WarcRecord}
      val docs = t(s, dir, "documents").select(col("doc_id"))
      val path = ensureIndex(s, docs, "wetsinka", "built") { p =>
        val fs = org.apache.hadoop.fs.FileSystem.get(
          s.sparkContext.hadoopConfiguration)
        fs.delete(new org.apache.hadoop.fs.Path(s"$p/files"), true)
        val resp = Warc.responses(warcRecords(s, dir)).toDF()
        val (cs, _) = graft.functions.Charset.detect(
          col("content_type"), col("body_bytes"))
        implicit val enc = org.apache.spark.sql.Encoders.product[WarcRecord]
        val conv = Warc.httpParsed(resp)
          .filter(col("http_status") === 200)
          .select(
            lit("").as("path"),
            lit("conversion").as("warc_type"),
            regexp_replace(col("record_id"), "doc-", "wet-").as("record_id"),
            col("uri"),
            lit(null).cast("long").as("content_length"),
            graft.functions.HtmlTextColumn.htmlText(
              graft.functions.Charset.decodeWith(col("body_bytes"), cs))
              .cast("binary").as("payload"),
            lit(false).as("truncated"))
          .as[WarcRecord]
        Warc.writeRecords(conv, s"$p/files", nFiles = 8)
        s.range(1).select(lit(1L).as("ok")).write.mode("overwrite")
          .parquet(s"$p/built")
      }
      Warc.readRecords(s, s"$path/files").toDF()
        .filter(col("warc_type") === "conversion")
        .select(
          regexp_extract(col("record_id"), "wet-(\\d+)", 1).cast("long").as("doc_id"),
          lower(try_parse_url(col("uri"), lit("HOST"))).as("host"),
          col("payload").cast("string").as("text"))
        .select(col("doc_id"), col("host"),
          size(split(trim(col("text")), "\\s+")).cast("bigint").as("n_tokens"),
          md5(col("text")).as("text_md5"))
        .orderBy("doc_id")
    }),

    "s10_ddl" -> ((s, dir) => {
      import s.implicits._
      Seq("region", "nation")
        .map(n => (n, graft.sinks.SqlDump.createTableDdl(t(s, dir, n), n)))
        .toDF("tbl", "ddl")
        .orderBy("tbl")
    }),

    // F14 — the per-publisher network DOI stages (doi.py:129-223) with
    // their offline halves REAL (recognizer regexes + response parsers)
    // and the fetch a replayable cache join: records and the (key, body)
    // response cache both derive deterministically from orders, and the
    // oracle replays recognizers, joins, and parses (bibtex DOI + XML
    // prism:doi + ReFindIt JSON) row-for-row.
    "doi_network_stages" -> ((s, dir) => {
      def m(c: Column, n: Int) = pmod(c, lit(n))
      val o = col("o_orderkey")
      val pii = concat(lit("S"), upper(substring(md5(o.cast("string")), 1, 16)))
      val camId = upper(substring(md5(o.cast("string")), 1, 12))
      val url = when(m(o, 6) === 0, concat(lit("see elsevier ref "), pii))
        .when(m(o, 6) === 1, concat(
          lit("http://www.ingentaconnect.com/content/brill/ctz/"),
          lit(1990) + m(o, 30), lit("/12/34/art"), lit(10000) + m(o, 90)))
        .when(m(o, 6) === 2, concat(
          lit("http://zookeys.pensoft.net/articles.php?version=2&id="), m(o, 9000)))
        .when(m(o, 6) === 3, concat(
          lit("https://subtbiol.pensoft.net/articles/"), m(o, 9000)))
        .when(m(o, 6) === 4, concat(
          lit("https://www.ncbi.nlm.nih.gov/pmc/articles/PMC"),
          lit(1000000) + m(o, 9000000)))
        .otherwise(concat(lit("www.cambridge.org/core/product/"), camId))
      // spread: the single-split orders scan serialized BOTH heavy map
      // phases (the recognizer battery on the records side and the regex
      // key/body derivation under the cache distinct) into one task each
      // — profiled 1.1 s + 0.75 s serial at sf0.1. Gated on the actual
      // scan width, so a many-split production table skips the shuffle.
      val records = Dedup.spread(t(s, dir, "orders")
        .select(o.cast("bigint").as("id"), url.as("url"),
          m(o, 6).cast("int").as("kind")), "id")
      // response cache FIXTURE: in production this table was written by
      // the fetch stage, so its keys are recorded values, not re-derived
      // — build them directly per kind (one cheap extract per row, the
      // same direct form the oracle's cache CTE uses), NOT through the
      // recognizer cascade: routing the fixture through the recognizers
      // ran the whole regex battery a second time and its null-filter a
      // third (predicate pushdown substitutes the key expression into the
      // filter), ~3 s of pure fixture overhead at sf0.1. The recognizers
      // still run where the operator under test runs them: on the records
      // side inside resolveFromCachesMelted. Body is a function of the
      // KEY-determining value, so colliding keys (pmod wraps) carry
      // identical bodies; distinct dedups them.
      val body = when(col("kind") === 0, concat(
          lit("<coredata><prism:doi>10.1016/j."),
          lower(regexp_extract(col("url"), "([SB][A-Z0-9]{16})", 1)),
          lit("</prism:doi></coredata>")))
        .when(col("kind") === 1, concat(lit("@article{a, doi = {10.1644/"),
          regexp_extract(col("url"), "art(\\d+)", 1), lit("}}")))
        .when(col("kind") === 2 || col("kind") === 3,
          concat(lit("@article{a, doi = {10.3897/zk."),
            regexp_extract(col("url"), "(\\d+)$", 1), lit("}}")))
        .when(col("kind") === 4, concat(lit("""[{"doi": "10.1093/pm"""),
          regexp_extract(col("url"), "(\\d{7})", 1), lit("\"}]")))
        .otherwise(concat(lit("@article{a, doi = {10.1017/"),
          regexp_extract(col("url"), "product/([A-F0-9]+)", 1), lit("}}")))
      val key = when(col("kind") === 0, concat(lit("elsevier:"),
          regexp_extract(col("url"), "([SB][A-Z0-9]{16})", 1)))
        .when(col("kind") === 1, concat(lit("ingenta:"),
          regexp_extract(col("url"),
            "(ingentaconnect\\.com/.+/\\d{4}/\\d+/\\d+/art\\d+)", 1)))
        .when(col("kind") === 2,
          concat(lit("pensoft:https://zookeys.pensoft.net/article/"),
            regexp_extract(col("url"), "(\\d+)$", 1), lit("/download/bibtex")))
        .when(col("kind") === 3,
          concat(lit("pensoft:https://subtbiol.pensoft.net/article/"),
            regexp_extract(col("url"), "(\\d+)$", 1), lit("/download/bibtex")))
        .when(col("kind") === 4, concat(lit("pubmed:PMC"),
          regexp_extract(col("url"), "(\\d{7})", 1)))
        .otherwise(concat(lit("cambridge:http://"), col("url")))
      val cache = records.select(key.as("key"), body.as("body")).distinct()
      // single-pass melt-join shape (full row rides the explode, one
      // cache join, one hash-agg fold, no id-rejoin) — A/B history: five
      // stage-sliced broadcast joins ~11-15 s (r10), rejoin melt ~8.1 s,
      // this form ~2.9 s steady at sf0.1 (r12, measured with the former `tools/DoiProbe`; includes
      // the recognizer dedup + direct fixture keys of the same round)
      graft.functions.DoiNetwork.resolveFromCachesMelted(records, "url", "id", cache)
        .select(col("id"), col("url"), col("k_elsevier"), col("k_cambridge"),
          col("k_ingenta"), col("k_pensoft"), col("k_pubmed"), col("doi"))
        .orderBy("id")
    }),


    // S12/F25 — SQL-dump sink statements as a distributed text column.
    "s12_sql_dump" -> ((s, dir) => {
      graft.sinks.SqlDump.insertStatements(
          t(s, dir, "region").orderBy("r_regionkey"), "region")
        .orderBy("stmt")
    }),

    // Sliding-window counts (graft.streaming.EventStreams.slidingCounts,
    // batch twin of the streaming query — 1h window, 30m slide).
    "w_sliding_events" -> ((s, dir) => {
      graft.streaming.EventStreams.slidingCounts(t(s, dir, "events"), "30 minutes")
        .select(fmt(col("window_start")).as("window_start"), col("event_type"), col("n"))
        .orderBy("window_start", "event_type")
    }),

    // Approximate distinct (HLL++) beside the exact count. DuckDB can't
    // reproduce Spark's sketch value, but it CAN check the contract: the
    // exact count matches and the sketch lands within 5% of it (rsd=0.01,
    // so 5% is a wide, deterministic bound) — a sketch regression becomes
    // a hash mismatch instead of an unchecked rows-only pass.
    "approx_distinct_users" -> ((s, dir) => {
      // The exact and HLL aggregates run as SEPARATE aggregations joined on
      // the 5-row key: in one agg, the distinct-rewrite plans
      // partial_approx_count_distinct grouped by (event_type, user_id) —
      // the 1641-long HLL buffer (rsd 0.01) per DISTINCT USER, ~850 MB of
      // aggregation state through the shuffle for 65k users. Split, the
      // exact arm shuffles (type, user) pairs with no payload and the HLL
      // arm keeps 5 sketches total: 2.2 s → 1.2 s at sf0.1.
      val ev = t(s, dir, "events")
      val exact = ev.groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("exact_users"))
      val approx = ev.groupBy(col("event_type"))
        .agg(approx_count_distinct(col("user_id"), 0.01).as("approx_users"))
      exact.join(approx, Seq("event_type"))
        .select(col("event_type"), col("exact_users"),
          (abs(col("approx_users") - col("exact_users")).cast("double") /
            col("exact_users") <= 0.05).as("approx_ok"))
        .orderBy("event_type")
    }),

    // --- LLM-data-pipeline operators (builder brief) ---

    // Exact dedup groups over md5(text) — one shuffle, map-side combine.
    "dedup_exact" -> ((s, dir) => {
      Dedup.exactGroups(t(s, dir, "documents"), "text", "doc_id")
        .orderBy("text_hash")
    }),

    // Exact n-gram Jaccard similarity pairs (verification-grade path;
    // MinHash LSH is the scale path, registered rows-only below).
    "dedup_jaccard_pairs" -> ((s, dir) => {
      Dedup.ngramJaccardPairs(t(s, dir, "documents"), "text", "doc_id",
          n = 3, threshold = 0.18)
        .orderBy("doc_a", "doc_b")
    }),

    // Brute-force cosine top-k over embeddings (ANN baseline).
    "ann_cosine_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 10), k = 5)
        .withColumn("rank", col("rank").cast("bigint"))
        .orderBy("query_id", "rank")
    }),

    // Embedding-cosine near-dup pairs (exact, norm-precomputed; LSH
    // prefilter is the scale path — see Similarity.cosinePairs docs).
    "dedup_embedding_pairs" -> ((s, dir) => {
      // sortOnce: the O(n²) nested-loop scoring is the segment under the
      // sort — without the cut the range-sampling pass ran it twice
      sortOnce(Similarity.cosinePairs(t(s, dir, "embeddings"), threshold = 0.45),
        col("doc_a"), col("doc_b"))
    }),

    // Text quality metrics (token counts, stopword ratio, quality score).
    "text_quality" -> ((s, dir) => {
      val stops = typedLit(Seq("the", "a"))
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextStats.tokenCount(col("text")).cast("bigint").as("n_tokens"),
          round(TextStats.stopwordRatio(col("text"), stops), 6).as("stop_ratio"),
          TextStats.qualityScore(col("text")).as("quality"))
        .orderBy("doc_id")
    }),

    // F23 POS-filter analog (classifiers.ipynb cell 12): per doc, tokens
    // surviving the stopword + suffix-heuristic noun/adj filter that
    // feeds the stemmer, with the first surviving surface forms emitted
    // for row-level checking (pre-stem — Porter itself is locked by
    // PorterSpec; the filter logic is what the oracle replays).
    "text_pos_filter" -> ((s, dir) => {
      val stops = typedLit(Seq("the", "a", "and", "of", "to", "in", "is", "was"))
      val toks = TextStats.tokenize(col("text"))
      val kept = TextStats.posFilterHeuristic(toks, stops)
      t(s, dir, "documents")
        .select(col("doc_id"),
          size(toks).cast("bigint").as("n_tokens"),
          size(kept).cast("bigint").as("n_kept"),
          when(size(toks) > 0,
            round(size(kept).cast("double") / size(toks), 4)).otherwise(0.0)
            .as("keep_ratio"),
          array_join(slice(kept, 1, 5), " ").as("first_kept"))
        .orderBy("doc_id")
    }),

    // Coarse POS tag histogram over the corpus — the positive rule-based
    // tagger (lexicon + suffix morphology, PosTag.scala), whose DuckDB
    // oracle CASE is GENERATED from the same rule table.
    "text_pos_tags" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(explode(TextStats.tokenize(col("text"))).as("tok"))
        .select(graft.functions.PosTagColumn.posTag(col("tok")).as("tag"))
        .groupBy("tag").agg(count(lit(1)).as("n"))
        .orderBy("tag")
    }),

    // The reference's keep-NOUN/ADJ filter via the positive tagger —
    // strictly closer to spaCy's contract than the subtractive heuristic
    // of text_pos_filter (rejects prepositions/aux/pronouns too).
    "text_pos_filter_strict" -> ((s, dir) => {
      val toks = TextStats.tokenize(col("text"))
      val kept = PosTag.filterNounAdjFast(toks)
      t(s, dir, "documents")
        .select(col("doc_id"),
          size(toks).cast("bigint").as("n_tokens"),
          size(kept).cast("bigint").as("n_kept"),
          when(size(toks) > 0,
            round(size(kept).cast("double") / size(toks), 4)).otherwise(0.0)
            .as("keep_ratio"),
          array_join(slice(kept, 1, 5), " ").as("first_kept"))
        .orderBy("doc_id")
    }),

    // Token totals per source — the "how many tokens per shard" pipeline stat.
    "text_token_totals" -> ((s, dir) => {
      t(s, dir, "documents")
        .groupBy(col("source"))
        .agg(sum(TextStats.tokenCount(col("text")).cast("bigint")).as("total_tokens"),
          count(lit(1)).as("n_docs"))
        .orderBy("source")
    }),

    // Incremental rebuild, additive algebra: the corpus split into 3
    // hash-batches, a per-source state table computed per batch, states
    // merged — SAME oracle as text_token_totals, so green proves the
    // split-merge reproduces the full recompute exactly (the 100 TB
    // nightly-delta shape: merge state, never rescan the corpus).
    "text_token_totals_incremental" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val states = (0 until 3).map { i =>
        Incremental.tokenTotalsState(
          docs.filter(pmod(xxhash64(col("doc_id")), lit(3)) === i),
          "text", "source")
      }
      Incremental.mergeTokenTotals(states, "source").orderBy("source")
    }),

    // Incremental rebuild, sketch algebra: per-batch DataSketches HLL
    // states union losslessly (the same user in two batches lands in the
    // same buckets), so the merged estimate carries the single-pass error
    // bound — gated against the full-recompute exact count, same shape as
    // approx_distinct_users.
    "approx_distinct_incremental" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val states = (0 until 4).map { i =>
        Incremental.distinctSketchState(
          ev.filter(pmod(xxhash64(col("event_id")), lit(4)) === i),
          "event_type", "user_id")
      }
      val merged = Incremental.mergeDistinctSketches(states, "event_type")
      val exact = ev.groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("exact_users"))
      exact.join(merged, Seq("event_type"))
        .select(col("event_type"), col("exact_users"),
          (abs(col("approx_distinct") - col("exact_users")).cast("double") /
            col("exact_users") <= 0.05).as("approx_ok"))
        .orderBy("event_type")
    }),

    // UNICODE SCRIPT DETECTION (TextStats.scriptChars) — the step
    // BEFORE language ID (script narrows the language candidate set;
    // CLD-family detectors branch on it first) and a spam/confusable
    // signal (mixed-script text). Planted per-class non-Latin runs make
    // every script counter load-bearing; foreign_script is the
    // dominant non-Latin script (disjoint classes ⇒ fixed precedence
    // replays exactly). Map-only codegen'd string ops, zero shuffle.
    "text_scripts" -> ((s, dir) => {
      val planted = concat(col("text"),
        when(col("doc_id") % 4 === 1, lit(" привет мир"))
          .when(col("doc_id") % 4 === 2, lit(" αβγ δε"))
          .when(col("doc_id") % 4 === 3, lit(" 你好世界"))
          .otherwise(lit("")))
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextStats.scriptChars(planted, "Latin").as("n_latin"),
          TextStats.scriptChars(planted, "Cyrillic").as("n_cyrillic"),
          TextStats.scriptChars(planted, "Greek").as("n_greek"),
          TextStats.scriptChars(planted, "Han").as("n_han"))
        .withColumn("foreign_script",
          when(col("n_cyrillic") > 0, lit("cyrillic"))
            .when(col("n_greek") > 0, lit("greek"))
            .when(col("n_han") > 0, lit("han"))
            .otherwise(lit(null).cast("string")))
        .withColumn("multiscript",
          (col("n_cyrillic") + col("n_greek") + col("n_han")) > 0 &&
            col("n_latin") > 0)
        .orderBy("doc_id")
    }),

    // TOKENIZER FERTILITY per language — pieces-per-word under the
    // BPE-ish length tokenizer, THE standard tokenizer-evaluation
    // metric (high fertility on a language = the vocab underserves it;
    // multilingual mixes are budgeted in tokens, so fertility skews
    // effective epoch counts). One explode + one codegen'd hash
    // aggregate; integer sums exact, the ratio rounded at 4 dp.
    "text_fertility" -> ((s, dir) => {
      val words = t(s, dir, "documents")
        .select(col("lang"), col("doc_id"),
          explode(split(trim(col("text")), "\\s+")).as("word"))
        .filter(length(col("word")) > 0)
      words.groupBy("lang")
        .agg(countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_words"),
          sum(ceil(length(col("word")) / lit(4.0)).cast("long")).as("n_pieces"))
        .withColumn("fertility",
          round(col("n_pieces").cast("double") / col("n_words"), 4))
        .orderBy("lang")
    }),

    // Rule-based language ID (function-word hits, profile order tiebreak).
    "text_lang_id" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextStats.langIdRules(col("text"), Seq(
            "en" -> Seq("the", "a"),
            "fr" -> Seq("le", "la"),
            "es" -> Seq("el", "los"))).as("lang_pred"))
        .orderBy("doc_id")
    }),

    // PII scrub over synthesized dirty text (email + phone + IPv4 injected
    // deterministically per doc so the oracle validates every redaction
    // pattern, not just the no-op path).
    "text_pii_scrub" -> ((s, dir) => {
      val dirty = concat(
        lit("contact u"), col("doc_id"), lit("@mail.example.org or +1-555-01"),
        lpad((col("doc_id") % 100).cast("string"), 2, "0"),
        lit(" ip 10.0.0."), (col("doc_id") % 256).cast("string"),
        lit(" :: "), col("text"))
      t(s, dir, "documents")
        .select(col("doc_id"), TextStats.scrubPii(dirty).as("clean"))
        .orderBy("doc_id")
    }),

    // CONSISTENT-surrogate PII scrub (pseudonymization): the same
    // entity maps to the SAME hash-keyed surrogate everywhere, so
    // entity-level statistics survive redaction. The planted entities
    // are keyed doc_id % 10 / % 5 so they RECUR across documents —
    // consistency is observable, not vacuous (the oracle reconstructs
    // each surrogate from the entity value alone, which only matches
    // if identical entities got identical tokens). Content-keyed ids
    // need no corpus-wide numbering pass — the 100 TB shape.
    "text_pii_surrogates" -> ((s, dir) => {
      val dirty = concat(
        lit("contact u"), col("doc_id") % 10,
        lit("@mail.example.org from 10.0.0."), col("doc_id") % 5,
        lit(" :: "), col("text"))
      t(s, dir, "documents")
        .select(col("doc_id"), TextStats.scrubPiiConsistent(dirty).as("clean"))
        .orderBy("doc_id")
    }),

    // Within-doc repetition score (Gopher-style duplicate-bigram fraction).
    // Staged projections keep toks/bigrams as bound attributes — inlining
    // them re-runs the regex tokenizer per array element (30× slower).
    "text_repetition" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), TextStats.tokenize(col("text")).as("toks"))
        .select(col("doc_id"), TextStats.bigramsOf(col("toks")).as("bigrams"))
        .select(col("doc_id"),
          TextStats.repetitionFromBigrams(col("bigrams")).as("rep_score"))
        .orderBy("doc_id")
    }),

    // Interval-join attribution (batch twin of the stream-stream join):
    // purchases attributed to preceding views of the same user within
    // 30 minutes; per-user counts + attributed value.
    "events_attribution" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      graft.streaming.EventStreams.viewPurchaseAttribution(
          ev.filter(col("event_type") === "view"),
          ev.filter(col("event_type") === "purchase"), windowMinutes = 30)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_attributed"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("attributed_value"))
        .orderBy("user_id")
    }),

    // The WHOLE curation build as one oracled query: quality gate →
    // near-dup cluster keeper (banded MinHash pairs + connected components
    // AMONG SURVIVORS) → per-source cap → exact stratified split, with a
    // per-document disposition. Stage COMPOSITION is what this proves
    // cross-engine: each downstream stage's windows/counts run over the
    // upstream survivors only — which is exactly where composition bugs
    // (caps computed pre-filter, split fractions over the raw corpus)
    // would hide. The oracle replays the full chain in one CTE, including
    // the recursive transitive closure over brute-force Jaccard pairs.
    "pipeline_e2e" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      // persist + count: the HOF-heavy gate would otherwise re-run in every
      // downstream branch (pair gen, assignment, keeper join, final select)
      val gated = docs.select(col("doc_id"), col("source"), col("text"),
        Curation.gopherPass(col("text"), stopwords = Seq("the", "a", "and"),
          minWords = 30).as("q_pass"))
        .persist()
      gated.count()
      val survivors = gated.filter(col("q_pass"))
      val pairs = Dedup.minhashBandedPairs(survivors, "text", "doc_id",
        n = 3, threshold = 0.7)
      // cutLineage on the two SHARED subtrees (r17 before-plan: 842 lines —
      // the final assembly re-derived them per join arm): `assign` feeds
      // the keeper filter AND the assembly AND (via ranked) the split, so
      // its post-CC join+size-aggregate ran 3× per action; `ranked` feeds
      // the split and the assembly (2×). One materialization each, then
      // every consumer scans the checkpointed blocks (guide §2.4 — share
      // one execution instead of re-deriving per consumer).
      val assign = Dedup.clusterAssignments(survivors, "doc_id", pairs)
        .cutLineage()
      val keepers = survivors
        .join(assign.filter(col("is_keeper")).select("doc_id"), Seq("doc_id"))
      val ranked = keepers.withColumn("cap_rank",
        row_number().over(Window.partitionBy(col("source"))
          .orderBy(Curation.hashFraction(col("doc_id")), col("doc_id")))
          .cast("bigint"))
        .select(col("doc_id"), col("source"), col("cap_rank"))
        .cutLineage()
      val capped = ranked.filter(col("cap_rank") <= 15)
      val split = Curation.stratifiedSplit(capped, "doc_id", "source",
          testFrac = 0.1, valFrac = 0.1)
        .select(col("doc_id"), col("split"))
      sortOnce(gated.select(col("doc_id"), col("source"), col("q_pass"))
        .join(assign.select(col("doc_id"), col("is_keeper")), Seq("doc_id"), "left")
        .join(ranked.select(col("doc_id"), col("cap_rank")), Seq("doc_id"), "left")
        .join(split, Seq("doc_id"), "left")
        .select(col("doc_id"), col("source"),
          when(!col("q_pass"), "quality")
            .when(!col("is_keeper"), "near_duplicate")
            .when(col("cap_rank") > 15, "source_cap")
            .otherwise("kept").as("reason"),
          coalesce(col("split"), lit("")).as("split")),
        col("doc_id"))
    }),

    // Daily + cumulative active users: DAU per day, first-seen new users,
    // and the running total of known users (cumulative DISTINCT expressed
    // as a running SUM over first-seen counts — no re-scan per day). The
    // running window is 30 rows (days), not the event stream.
    "events_dau" -> ((s, dir) => {
      dauShape(t(s, dir, "events")
        .select(col("user_id"), date_trunc("day", col("ts")).as("day")))
    }),

    // The streamed twin: each micro-batch appends its DISTINCT
    // (user_id, day) pairs (set-union accumulation — the idempotent merge
    // class, vs events_hourly_streamed's additive partials); the serving
    // read unions the set and runs the SAME dauShape derivation. Shares
    // events_dau's oracle verbatim — distinct-user stats computed exactly
    // from accumulated pairs, no sketches.
    "events_dau_streamed" -> ((s, dir) => {
      dauShape(graft.streaming.EventIngest.activityFromAccumulated(
        s, activityPath(s, dir),
        t(s, dir, "events").schema("user_id").dataType))
    }),

    // Per-user activity deciles: ntile(10) over per-user event counts —
    // the power-user segmentation cut. The window ranks one row per USER
    // (not the event stream); deterministic order (count desc, user asc).
    "events_user_deciles" -> ((s, dir) => {
      val counts = t(s, dir, "events")
        .groupBy(col("user_id")).agg(count(lit(1)).as("n_events"))
      counts
        .withColumn("decile",
          ntile(10).over(Window.orderBy(col("n_events").desc, col("user_id")))
            .cast("bigint"))
        .groupBy(col("decile"))
        .agg(count(lit(1)).as("n_users"),
          sum(col("n_events")).as("total_events"),
          min(col("n_events")).as("min_events"),
          max(col("n_events")).as("max_events"))
        .orderBy("decile")
    }),

    // Rolling 7-day active users: each (user, active-day) pair is exploded
    // to the 7 report-days it supports, then one distinct-count per
    // report-day — the scale idiom for sliding DISTINCT windows (explode
    // ×7 then ONE keyed agg, never a re-scan per day); report days
    // restricted to observed days.
    "events_wau" -> ((s, dir) => {
      wauShape(t(s, dir, "events")
        .select(col("user_id"), date_trunc("day", col("ts")).as("day")))
    }),

    // THIRD serving view off the streamed activity set (after DAU and
    // retention) — the accumulation's whole point: every distinct-user
    // statistic, one table. Shares events_wau's oracle verbatim.
    "events_wau_streamed" -> ((s, dir) => {
      wauShape(graft.streaming.EventIngest.activityFromAccumulated(
        s, activityPath(s, dir),
        t(s, dir, "events").schema("user_id").dataType))
    }),

    // Event-rate anomaly detection: hourly counts per type, z-score from
    // EXACT integer sums (s1, s2 as bigints — both engines derive
    // mean/var/z through the identical IEEE operation chain, so the
    // compare is exact without tolerance). Two aggs + a broadcast join;
    // the hourly frame feeds both, so persist + count.
    "events_anomaly" -> ((s, dir) => {
      val hourly = t(s, dir, "events")
        .groupBy(date_trunc("hour", col("ts")).as("h"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .persist()
      hourly.count()
      val stats = hourly.groupBy(col("event_type"))
        .agg(count(lit(1)).as("nh"), sum(col("n")).as("s1"),
          sum(col("n") * col("n")).as("s2"))
      hourly.join(broadcast(stats), Seq("event_type"))
        .withColumn("vr",
          (col("s2").cast("double") - col("s1").cast("double") * col("s1") / col("nh")) /
            (col("nh") - 1))
        .withColumn("z",
          when(col("vr") > 0,
            round((col("n").cast("double") - col("s1").cast("double") / col("nh")) /
              sqrt(col("vr")), 6))
            .otherwise(lit(0.0)))
        .select(col("event_type"), unix_micros(col("h")).as("hour_us"),
          col("n"), col("z"), (abs(col("z")) > 2.5).as("is_anomaly"))
        // ORACLE-DETERMINISM SORT, NOT THE PRODUCTION CONTRACT: the tail
        // orderBy exists so the driver's hash compare sees one row order;
        // the operator itself is the unordered frame above it. At 100 TB
        // ship the unordered form — a global sort of per-hour rows would
        // be a pure artifact of the test harness. (COVERAGE.md "Ordered
        // outputs" note.)
        .orderBy("event_type", "hour_us")
    }),

    // Ordered funnel conversion: per user, earliest view, earliest click
    // STRICTLY AFTER it, earliest purchase strictly after that — the
    // classic product-analytics sequence query as three keyed
    // aggregate-then-join stages (no window over the full event stream).
    // Times emitted as unix micros (-1 = stage not reached).
    "events_funnel" -> ((s, dir) => {
      val ev = t(s, dir, "events").select(col("user_id"), col("event_type"), col("ts"))
      val v = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts")).as("t_view"))
      val c = ev.filter(col("event_type") === "click")
        .join(v, Seq("user_id"))
        .filter(col("ts") > col("t_view"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("t_click"))
      val p = ev.filter(col("event_type") === "purchase")
        .join(c, Seq("user_id"))
        .filter(col("ts") > col("t_click"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("t_purchase"))
      v.join(c, Seq("user_id"), "left")
        .join(p, Seq("user_id"), "left")
        .select(col("user_id"),
          unix_micros(col("t_view")).as("view_us"),
          coalesce(unix_micros(col("t_click")), lit(-1L)).as("click_us"),
          coalesce(unix_micros(col("t_purchase")), lit(-1L)).as("purchase_us"))
        // ORACLE-DETERMINISM SORT, NOT THE PRODUCTION CONTRACT: a global
        // sort of per-USER rows is the single worst tail to ship at
        // 100 TB — the operator ends at the unordered join above; this
        // orderBy exists solely for the driver's hash compare.
        // (COVERAGE.md "Ordered outputs" note.)
        .orderBy("user_id")
    }),

    // Cohort retention: users grouped by the week of their first event;
    // for each cohort, distinct active users at each whole-week offset.
    // Two aggregations + one keyed join; offsets are exact bigint
    // arithmetic on aligned week boundaries (UTC, no DST).
    "events_retention" -> ((s, dir) => {
      retentionShape(t(s, dir, "events")
        .select(col("user_id"), date_trunc("day", col("ts")).as("day")))
    }),

    // The SKETCH tier of streamed DAU — per-batch per-day HLL binaries,
    // O(days) rows per batch, CONSTANT in users: the 100 TB shape where
    // even the distinct (user, day) set is too big to keep. Accuracy is
    // gated the recall-gate way: Spark emits the exact DAU (which the
    // oracle replays) plus a pinned-TRUE bound that the sketch estimate
    // lands within 5% of it — a sketch regression becomes a hash mismatch.
    "events_dau_sketch" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val est = graft.streaming.EventIngest.dauEstimateFromSketches(
        s, sketchPath(s, dir))
      val exact = ev.select(col("user_id"), date_trunc("day", col("ts")).as("day"))
        .distinct().groupBy(col("day")).agg(count(lit(1)).as("dau"))
      exact.join(est, Seq("day"))
        .select(unix_micros(col("day")).as("day_us"), col("dau"),
          (abs(col("dau_est") - col("dau")) <= col("dau") * 0.05).as("est_ok"))
        .orderBy("day_us")
    }),

    // WAU off the SKETCH tier — completing the three-tier story (raw →
    // activity set → sketch) for BOTH distinct-user statistics: the
    // trailing-7-day union is just seven more HLL merges over the same
    // per-day sketches events_dau_sketch reads, O(days·7) sketch rows
    // per report, constant in users. Same recall-gate convention: exact
    // WAU replayed by the oracle, estimate pinned within 5%.
    "events_wau_sketch" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val est = graft.streaming.EventIngest.wauEstimateFromSketches(
          s, sketchPath(s, dir))
        .select(unix_micros(col("report_day")).as("day_us"), col("wau_est"))
      wauShape(ev.select(col("user_id"), date_trunc("day", col("ts")).as("day")))
        .join(est, Seq("day_us"))
        .select(col("day_us"), col("wau"),
          (abs(col("wau_est") - col("wau")) <= col("wau") * 0.05).as("est_ok"))
        .orderBy("day_us")
    }),

    // SLIDING RETENTION off the SKETCH tier — the intersection estimate
    // the union-only HLL algebra doesn't give directly: retained(w) =
    // |active(w) ∩ active(w+1)| via INCLUSION–EXCLUSION on the same
    // per-day sketches (est(w) + est(w+1) − est(w ∪ w+1), the w∪w+1
    // sketch being one more pairwise merge). O(weeks) sketch rows,
    // constant in users — closing the last distinct-user statistic still
    // priced exact at window scale. Estimate error compounds across the
    // three terms, so the gate is the same 5% recall-gate convention:
    // the oracle replays the EXACT retained count; the pinned-TRUE bound
    // turns estimator drift into a hash mismatch.
    "events_retention_sketch" -> ((s, dir) =>
      retentionSketchShape(s, t(s, dir, "events"), sketchPath(s, dir))),

    // The CHURN cohort through the same gate — the degenerate case the
    // union-scaled floor exists for: alternating-week activity makes
    // every consecutive pair's EXACT retained 0 (the parities are
    // disjoint), so the relative bound term is 0 and the floor is the
    // ONLY thing between benign inclusion–exclusion noise and a red row.
    // Both terms per pair at both SFs were measured with the former
    // `tools/RetentionProbe` before the floor was pinned.
    "events_retention_sketch_churn" -> ((s, dir) =>
      retentionSketchShape(s, churnEvents(t(s, dir, "events")),
        churnSketchPath(s, dir))),

    // SECOND serving view off the SAME accumulated activity table as
    // events_dau_streamed — the point of set-union accumulation: one
    // streamed (user, day) set serves every distinct-user statistic.
    // Week cohorts are invariant to the day truncation (week(min(day)) =
    // week(min(ts))), so this shares events_retention's oracle verbatim.
    "events_retention_streamed" -> ((s, dir) => {
      retentionShape(graft.streaming.EventIngest.activityFromAccumulated(
        s, activityPath(s, dir),
        t(s, dir, "events").schema("user_id").dataType))
    }),

    // Composed keep/drop decision — the C4/Gopher-shape filter pipeline
    // end-to-end: quality floor + language gate + repetition ceiling +
    // exact-dup keeper, one boolean per document. The keeper window is the
    // r6 addition and its one md5-partitioned exchange is the whole
    // r5→r6 cost delta (0.5→1.2 s at sf0.1); the aggregate-then-
    // broadcast-join alternative was A/B-measured SLOWER here (1.5-1.7 s)
    // because it scans and hashes the text column twice — see PLANS.md.
    "pipeline_keep" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(md5(col("text"))).orderBy(col("doc_id"))
      t(s, dir, "documents")
        .select(col("doc_id"), col("text"),
          TextStats.qualityScore(col("text")).as("quality"),
          TextStats.langIdRules(col("text"), Seq(
            "en" -> Seq("the", "a"),
            "fr" -> Seq("le", "la"),
            "es" -> Seq("el", "los"))).as("lang"),
          (row_number().over(w) === 1).as("is_keeper"))
        .select(col("doc_id"), col("quality"), col("lang"), col("is_keeper"),
          TextStats.tokenize(col("text")).as("toks"))
        .select(col("doc_id"), col("quality"), col("lang"), col("is_keeper"),
          TextStats.bigramsOf(col("toks")).as("bigrams"))
        .select(col("doc_id"), col("quality"), col("lang"), col("is_keeper"),
          TextStats.repetitionFromBigrams(col("bigrams")).as("rep_score"))
        .withColumn("keep",
          col("quality") >= 0.8 && col("lang") === "en" &&
            col("rep_score") < 0.1 && col("is_keeper"))
        .orderBy("doc_id")
    }),


    "events_sessions" -> ((s, dir) => {
      graft.streaming.EventStreams.sessionize(t(s, dir, "events"), gapMinutes = 30)
        .groupBy(col("user_id"))
        .agg(max(col("session_seq")).cast("bigint").as("n_sessions"),
          count(lit(1)).as("n_events"))
        .orderBy("user_id")
    }),

    // STREAMED sessionization (EventIngest.processSessionBatch): the
    // ORDER-DEPENDENT state class — open sessions span micro-batch
    // cuts, so each batch carries (last event time, counters) per user
    // and appends delta state rows only. 4 event-time-sliced batches;
    // SHARES events_sessions' oracle, so green proves the carried
    // state reproduces the one-pass batch window exactly, including
    // sessions straddling every batch boundary.
    "events_sessions_streamed" -> ((s, dir) => {
      val path = sessionsStreamPath(s, dir)
      graft.streaming.EventIngest.sessionStateFromAccumulated(s, path)
        .select(col("user_id"), col("n_sessions"), col("n_events"))
        .orderBy("user_id")
    }),

    // As-of join: each purchase matched to the user's most recent view
    // at-or-before it (graft.operators.AsOf — tagged union + carry-forward
    // window, one shuffle, no join node). View side deduped per (user, ts)
    // so the carried winner is deterministic; the oracle is DuckDB's
    // native ASOF LEFT JOIN.
    "events_asof" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val views = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id"), col("ts").as("view_ts"))
        .agg(max(col("event_id")).as("view_id"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"),
          col("ts").as("purchase_ts"))
      graft.operators.AsOf.asofJoin(purchases, views,
          key = "user_id", leftTs = "purchase_ts", rightTs = "view_ts")
        .select(col("purchase_id"), col("user_id"),
          unix_micros(col("purchase_ts")).as("purchase_us"), col("view_id"),
          (unix_micros(col("purchase_ts")) - unix_micros(col("view_ts"))).as("lag_us"))
        .orderBy("purchase_id")
    }),

    // Multimodal plumbing — opaque binary column + byte-level metadata
    // (decode itself is the stubbed stage, see graft.operators.Multimodal).
    // REAL image decode round-trip (javax.imageio — no stub in this path):
    // per doc, synthesize an actual PNG whose dimensions and pixels are
    // arithmetic in doc_id, then recover width/height/pixel-sum from the
    // ENCODED BYTES via ImageIO. The oracle replays the arithmetic — so a
    // green row proves the encode→parse→pixel-access loop, not the
    // formula. byte_len/content_md5 of the payload are encoder-dependent
    // and deliberately not compared.
    "multimodal_meta" -> ((s, dir) => {
      // single-file id table → repartition so codec work is 32-way (see
      // multimodal_video)
      val media = Multimodal.synthesizeImages(
        t(s, dir, "documents").select("doc_id")
          .repartition(s.sparkContext.defaultParallelism, col("doc_id")))
      Multimodal.decodeImageMeta(media).toDF()
        .select(col("media_id").as("doc_id"), col("width"), col("height"),
          col("pixel_sum"), col("decoded"))
        .orderBy("doc_id")
    }),

    // REAL audio decode round-trip (javax.sound.sampled — WAV/PCM is JDK
    // stdlib, same pattern as the image leg): per doc, synthesize an
    // actual 16-bit mono WAV whose rate/length/samples are arithmetic in
    // doc_id, then recover sample rate, frame count, integer-microsecond
    // duration and the signed-sample sum from the ENCODED RIFF CONTAINER
    // BYTES. The oracle replays the arithmetic — a green row proves the
    // encode→container-parse→PCM-decode loop, not the formula. Video
    // remains the one documented decode stub (no codec libs here).
    "multimodal_audio" -> ((s, dir) => {
      // single-file id table → repartition so codec work is 32-way (see
      // multimodal_video)
      val media = Multimodal.synthesizeWavs(
        t(s, dir, "documents").select("doc_id")
          .repartition(s.sparkContext.defaultParallelism, col("doc_id")))
      Multimodal.decodeAudioMeta(media).toDF()
        .select(col("media_id").as("doc_id"),
          col("sample_rate").cast("bigint").as("sample_rate"),
          col("n_samples").cast("bigint").as("n_samples"),
          col("duration_us"), col("sample_sum"), col("decoded"))
        .orderBy("doc_id")
    }),

    // REAL spectral analysis from encoded bytes: synthesize pure-tone
    // WAVs whose dominant frequency is arithmetic in doc_id, then RECOVER
    // that frequency from the container bytes by measuring actual DFT-bin
    // energies (Goertzel per candidate). The oracle states the ground
    // truth; a green row proves the encode→parse→PCM-decode→spectral-
    // measurement loop found it, with >=50% of candidate-set energy in
    // the winning bin (peak_ok) — detection, not argmax luck.
    "multimodal_audio_spectrum" -> ((s, dir) => {
      val media = Multimodal.synthesizeToneWavs(
        t(s, dir, "documents").select("doc_id")
          .repartition(s.sparkContext.defaultParallelism, col("doc_id")))
      Multimodal.audioSpectrum(media).toDF()
        .select(col("media_id").as("doc_id"), col("sample_rate"),
          col("n_samples"), col("dominant_hz"), col("peak_ok"),
          col("decoded"))
        .orderBy("doc_id")
    }),

    // REAL video-container decode round-trip (animated GIF — the one
    // multi-frame format the JDK encodes AND decodes; MP4-class codecs
    // stay documented out-of-scope): per doc synthesize an actual
    // animation whose frame count/dims/pixels are arithmetic in doc_id
    // over a lossless 256-gray palette, then SAMPLE every 2nd frame from
    // the ENCODED CONTAINER BYTES — real frame extraction, the
    // row-multiplying shape of a production video pipeline. The oracle
    // replays the arithmetic over (doc, frame, x, y); green proves the
    // encode→container-walk→frame-decode loop.
    "multimodal_video" -> ((s, dir) => {
      // the id table is one parquet file = ONE partition; the per-row
      // codec work is the cost here, so spread it across the session's
      // parallelism before the map-side encode/decode (a shuffle of 500
      // longs buys 32-way frame work). The partition count is EXPLICIT:
      // a bare repartition(col) is AQE-coalescible, and AQE folds these
      // few kilobytes straight back into one partition — serializing the
      // codec work AND letting the oracle sort's range-sampling pass
      // recompute it single-threaded a second time (measured 5.5 s vs
      // 0.3 s for the identical pipeline at explicit 32)
      val media = Multimodal.synthesizeGifs(
        t(s, dir, "documents").select("doc_id")
          .repartition(s.sparkContext.defaultParallelism, col("doc_id")))
      sortOnce(Multimodal.sampleVideoFrames(media, every = 2).toDF()
        .select(col("media_id").as("doc_id"),
          col("frame_no").cast("bigint").as("frame_no"),
          col("width").cast("bigint").as("width"),
          col("height").cast("bigint").as("height"),
          col("pixel_sum")),
        col("doc_id"), col("frame_no"))
    }),

    // REAL perceptual hash from encoded bytes: synthesize md5-pixel 9x8
    // PNGs (ids in one family of 4 share a base image; variants perturb
    // one pixel), decode and dHash them — 64 bits of adjacent-pixel
    // comparisons carried as two 32-bit words. The oracle replays the
    // md5 pixel arithmetic and re-derives every bit in SQL; green proves
    // the encode→decode→hash loop recovers the ground truth from actual
    // PNG bytes.
    "multimodal_phash" -> ((s, dir) => {
      // single-file id table → repartition so codec work is 32-way (see
      // multimodal_video)
      val media = Multimodal.synthesizePhashImages(
        t(s, dir, "documents").select("doc_id")
          .repartition(s.sparkContext.defaultParallelism, col("doc_id")))
      sortOnce(Multimodal.imageDHash(media).toDF()
        .select(col("media_id").as("doc_id"), col("hash_hi"),
          col("hash_lo"), col("decoded")),
        col("doc_id"))
    }),

    // Image near-dup pairs at hamming <= 3 over the perceptual hashes —
    // the LAION-shape image-dedup join, banded with the same pigeonhole
    // completeness proof as dedup_simhash_pairs (4 bands > 3 differing
    // bits ⇒ every qualifying pair shares a band). The oracle recomputes
    // ALL pairs brute-force from the replayed hashes — an equality check
    // on the banding, not a recall gate. Multimodal decode feeding the
    // dedup family end-to-end.
    "dedup_phash_pairs" -> ((s, dir) => {
      val media = Multimodal.synthesizePhashImages(
        t(s, dir, "documents").select("doc_id")
          .repartition(s.sparkContext.defaultParallelism, col("doc_id")))
      val sigs = Multimodal.imageDHash(media).toDF()
        .filter(col("decoded"))
        .select(col("media_id").as("doc_id"), col("hash_hi"), col("hash_lo"))
      Dedup.hammingPairsHiLo(sigs, maxHamming = 3, bands = 4)
        .orderBy("doc_a", "doc_b")
    }),

    // REAL image feature extraction from encoded bytes: 16-bin
    // red-channel intensity histogram of the decoded pixels — integer
    // counts, the classic model-free retrieval descriptor. The oracle
    // re-bins the md5 pixel arithmetic; green proves decode recovers
    // every pixel of every image.
    // The image curation pipeline END-TO-END, in production order:
    // decode → quality gate → near-dup clusters over the SURVIVORS →
    // keepers. Gating before dedup is the load-bearing order at 100 TB
    // (the failing class here is identical flat frames — ungated they
    // would form one giant spurious cluster; gated they never reach the
    // banded join). Output: every doc with its gate verdict, its cluster
    // assignment if it survived, and the final kept flag.
    "pipeline_multimodal" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id")
        .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      // cut the synthesized media ONCE (r17): it feeds TWO decode passes
      // (quality gate + dHash), and without the cut the md5-pixel + PNG
      // encode synthesis ran once per consumer; the payload frame is a few
      // KB/row, far cheaper to hold than to recompute
      val media = Multimodal.synthesizePhashImages(
          docs.filter(col("doc_id") % 5 =!= 0))
        .unionByName(Multimodal.synthesizeFlatImages(
          docs.filter(col("doc_id") % 5 === 0)))
        .cutLineage()
      val quality = Multimodal.imageQuality(media).toDF()
        .select(col("media_id").as("doc_id"),
          (col("decoded") && col("quality_ok")).as("quality_ok"))
        .localCheckpoint() // decode once; blocks reclaim on reference drop
      val passing = quality.filter(col("quality_ok")).select("doc_id")
      val sigs = Multimodal.imageDHash(media).toDF()
        .filter(col("decoded"))
        .select(col("media_id").as("doc_id"), col("hash_hi"), col("hash_lo"))
        .join(passing, Seq("doc_id"))
      val pairs = Dedup.hammingPairsHiLo(sigs, maxHamming = 3, bands = 4)
      val assigned = Dedup.clusterAssignments(passing, "doc_id", pairs)
      val keeper = coalesce(col("is_keeper"), lit(false))
      sortOnce(docs.join(quality, Seq("doc_id"), "left")
        .join(assigned, Seq("doc_id"), "left")
        .select(col("doc_id"), col("quality_ok"), col("cluster_id"),
          col("cluster_size"), keeper.as("is_keeper"),
          (col("quality_ok") && keeper).as("kept")),
        col("doc_id"))
    }),

    // Video QUALITY curation gate over REAL decoded frames — mean
    // absolute inter-frame motion per pixel; static clips (doc_id % 5 =
    // 0 drops the frame term, every frame identical) fail, moving
    // content passes. Completes the per-modality curation quartet
    // (Gopher rules : text :: contrast/entropy : image :: RMS/clip :
    // audio :: motion : video), every gate over real decodes with an
    // exact arithmetic oracle.
    // Threshold is DERIVED FROM THE DATA, not a planted constant: the
    // motion floor is the 10th-percentile cut over the decoded corpus
    // (exact interpolated percentile — DuckDB replays it as
    // quantile_cont), broadcast back as a one-row frame. The planted
    // static class (20% of docs, motion exactly 0) pins the cut at 0
    // deterministically in both engines, so the gate transfers to a real
    // corpus without retuning while staying hash-exact here.
    "multimodal_video_quality" -> ((s, dir) => {
      val media = Multimodal.synthesizeQualityGifs(
        t(s, dir, "documents").select("doc_id")
          .repartition(s.sparkContext.defaultParallelism, col("doc_id")))
      val st = Multimodal.videoQuality(media).toDF()
        .filter(col("decoded"))
        .select(col("media_id").as("doc_id"), col("n_frames"), col("motion"))
        // localCheckpoint, not persist: threshold agg + output pass share
        // one decode, and the blocks reclaim when the frame's reference
        // drops (a persist here leaked cached decode blocks across the
        // bench run unless the caller clearCache'd)
        .localCheckpoint()
      val thr = st.agg(expr("percentile(motion, 0.10)").as("thr_m"))
      st.crossJoin(broadcast(thr))
        .select(col("doc_id"), col("n_frames"), col("motion"),
          (col("n_frames") >= 2 && col("motion") > col("thr_m")).as("quality_ok"))
        .orderBy("doc_id")
    }),

    // MP4/ISO-BMFF CONTAINER metadata without a codec
    // (Multimodal.decodeMp4Meta): a pure byte-walk of the box structure —
    // ftyp brand, mvhd timescale/duration (the id%7==3 class writes the
    // 64-bit v1 layout and must parse to the same values), trak count
    // split by mdia/hdlr handler — in the same mapPartitions decode shape
    // as every modality, gated on duration + having a video track. The
    // id%11==0 poison class declares a box size overrunning the payload
    // and must land decoded=false with zeroed stats, never a crash.
    // The id%13==6 class is FRAGMENTED (mvhd.duration 0, moof/traf/trun
    // fragments — the streaming-era layout where a movie-level read
    // reports 0 s and wrongly fails the gate): the walk must sum the
    // fragment runs under §8.8 precedence (per-sample trun durations over
    // a decoy tfhd default; tfhd defaults; the mvex/trex default for the
    // default-less traf) to report the true duration and PASS the gate.
    "multimodal_video_meta" -> ((s, dir) => {
      val media = Multimodal.synthesizeMp4s(
        t(s, dir, "documents").select("doc_id")
          .repartition(s.sparkContext.defaultParallelism, col("doc_id")))
      sortOnce(Multimodal.decodeMp4Meta(media).toDF()
        .select(col("media_id").as("doc_id"), col("major_brand"),
          col("timescale"), col("duration_units"), col("duration_s"),
          col("n_tracks").cast("long").as("n_tracks"),
          col("n_video_tracks").cast("long").as("n_video_tracks"),
          col("n_audio_tracks").cast("long").as("n_audio_tracks"),
          col("decoded"),
          (col("decoded") && col("n_video_tracks") >= 1 &&
            col("duration_s") >= 1.0).as("quality_ok")),
        col("doc_id"))
    }),

    // Audio QUALITY curation gate over REAL decoded PCM — silence (RMS
    // floor) and saturation (clip-ratio cap) drop, healthy takes pass.
    // Mixed-class fixture by doc_id % 5: 0 → dead air, 1 → full-scale
    // alternation, else integer-mixer noise; every class's samples are
    // integer arithmetic, so DuckDB replays peak/RMS/ratio exactly.
    // Both cuts percentile-derived like the video gate: RMS floor at the
    // 10th percentile (dead air — 20% of docs at exactly 0 — pins it at
    // 0), clip-ratio cap at the 90th (full-scale alternation — 20% at
    // exactly 1 — pins it at 1); strict comparisons drop the pinned
    // classes in both engines.
    "multimodal_audio_quality" -> ((s, dir) => {
      val media = Multimodal.synthesizeQualityWavs(
        t(s, dir, "documents").select("doc_id")
          .repartition(s.sparkContext.defaultParallelism, col("doc_id")))
      val st = Multimodal.audioQuality(media).toDF()
        .filter(col("decoded"))
        .select(col("media_id").as("doc_id"), col("n_samples"), col("peak"),
          col("rms"), col("clip_ratio"))
        .localCheckpoint() // decode once; blocks reclaim on reference drop
      val thr = st.agg(expr("percentile(rms, 0.10)").as("thr_r"),
        expr("percentile(clip_ratio, 0.90)").as("thr_c"))
      st.crossJoin(broadcast(thr))
        .select(col("doc_id"), col("n_samples"), col("peak"), col("rms"),
          col("clip_ratio"),
          (col("rms") > col("thr_r") && col("clip_ratio") < col("thr_c"))
            .as("quality_ok"))
        .orderBy("doc_id")
    }),

    // Image QUALITY curation gate over REAL decoded pixels — the image
    // modality's Gopher rules: mean / contrast (population stddev) /
    // histogram entropy per image, gated at percentile cuts derived from
    // the decoded corpus itself.
    // Fixture plants both classes: md5-noise frames (pass) and flat
    // placeholder frames (doc_id % 5 = 0 — contrast 0, entropy 0, fail).
    // All stats are exact functions of integer pixel sums, so DuckDB
    // replays them from the md5 pixel arithmetic at 4 dp.
    "multimodal_quality" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id")
        .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      val media = Multimodal.synthesizePhashImages(
          docs.filter(col("doc_id") % 5 =!= 0))
        .unionByName(Multimodal.synthesizeFlatImages(
          docs.filter(col("doc_id") % 5 === 0)))
      // contrast/entropy floors at the 10th percentile over the decoded
      // corpus (the flat class — 20% at exactly 0/0 — pins both cuts at
      // 0), same data-derived posture as the audio/video gates
      val st = Multimodal.imageQuality(media, bins = 16).toDF()
        .filter(col("decoded"))
        .select(col("media_id").as("doc_id"), col("n_px"), col("mean_px"),
          col("contrast"), col("entropy"))
        .localCheckpoint() // decode once; blocks reclaim on reference drop
      val thr = st.agg(expr("percentile(contrast, 0.10)").as("thr_c"),
        expr("percentile(entropy, 0.10)").as("thr_e"))
      st.crossJoin(broadcast(thr))
        .select(col("doc_id"), col("n_px"), col("mean_px"), col("contrast"),
          col("entropy"),
          (col("contrast") > col("thr_c") && col("entropy") > col("thr_e"))
            .as("quality_ok"))
        .orderBy("doc_id")
    }),

    "multimodal_features" -> ((s, dir) => {
      val media = Multimodal.synthesizePhashImages(
        t(s, dir, "documents").select("doc_id")
          .repartition(s.sparkContext.defaultParallelism, col("doc_id")))
      sortOnce(Multimodal.imageFeatures(media, bins = 16).toDF()
        .select(col("media_id").as("doc_id"),
          posexplode(col("histogram")).as(Seq("bin", "n")))
        .select(col("doc_id"), col("bin").cast("bigint").as("bin"), col("n")),
        col("doc_id"), col("bin"))
    }),

    // Image similarity search over the REAL extracted features: cosine
    // top-5 neighbors per query image (doc_id < 10) on the histogram
    // vectors — decode → feature-extract → ANN, the multimodal retrieval
    // composition with every stage oracled (integer histograms make the
    // cosine exactly replayable).
    "ann_image_topk" -> ((s, dir) => {
      val media = Multimodal.synthesizePhashImages(
        t(s, dir, "documents").select("doc_id")
          .repartition(s.sparkContext.defaultParallelism, col("doc_id")))
      val vecs = Multimodal.imageFeatures(media, bins = 16).toDF()
        .filter(col("decoded"))
        .select(col("media_id").as("vec_id"),
          col("histogram").cast("array<double>").as("embedding"))
      Similarity.bruteForceTopK(vecs, vecs.filter(col("vec_id") < 10), k = 5)
        .withColumn("rank", col("rank").cast("bigint"))
        .orderBy("query_id", "rank")
    }),

    // The SCALE PATH for image retrieval: the same decode → histogram
    // features, served through the persisted-centroid IVF index instead
    // of ann_image_topk's (deliberately brute-force) baseline — at 100 TB
    // the brute scan is the recall reference, this is the query path.
    // Centroids are trained once on the feature vectors and persisted
    // (ensureIndex keyed by the doc_id set — the pixels are a pure
    // function of doc_id); the DuckDB oracle re-derives the histograms
    // from the md5 pixel arithmetic, reads the SAME centroids parquet,
    // and replays assignment → probe → cosine row-for-row.
    "ann_image_ivf" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id")
      val media = Multimodal.synthesizePhashImages(
        docs.repartition(s.sparkContext.defaultParallelism, col("doc_id")))
      val vecs = Multimodal.imageFeatures(media, bins = 16).toDF()
        .filter(col("decoded"))
        .select(col("media_id").as("vec_id"),
          col("histogram").cast("array<double>").as("embedding"))
      val path = ensureIndex(s, docs, "ivfimg", "centroids") { p =>
        Similarity.writeIvfCentroids(vecs, p, nCells = 8)
      }
      Similarity.ivfTopKFromCentroids(path, vecs, vecs.filter(col("vec_id") < 10),
          k = 5, nProbe = 4)
        .withColumn("rank", col("rank").cast("bigint"))
        .orderBy("query_id", "rank")
    }),

    // The image search over the CELL-PARTITIONED feature layout — the
    // same partition-column shape as ann_ivf_pruned, over decoded image
    // features: vectors ship hive-partitioned by assigned cell, the query
    // batch's probed cells become scan-time literals, and the vectors
    // scan carries a `cell` PartitionFilter (PlanInvariantsSpec pins it).
    // At 100 TB this is the layout an image-retrieval index actually
    // stores; the flat ann_image_ivf must scan the corpus to recompute
    // assignments. Oracle = ann_image_ivf's replay over this index's own
    // centroids table.
    "ann_image_pruned" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id")
      val media = Multimodal.synthesizePhashImages(
        docs.repartition(s.sparkContext.defaultParallelism, col("doc_id")))
      val vecs = Multimodal.imageFeatures(media, bins = 16).toDF()
        .filter(col("decoded"))
        .select(col("media_id").as("vec_id"),
          col("histogram").cast("array<double>").as("embedding"))
      val path = ensureIndex(s, docs, "ivfimgpart", "vectors") { p =>
        Similarity.writeIvfPartitioned(vecs, p, nCells = 8)
      }
      Similarity.ivfTopKFromPartitioned(s, path,
          vecs.filter(col("vec_id") < 10), k = 5, nProbe = 4)
        .withColumn("rank", col("rank").cast("bigint"))
        .orderBy("query_id", "rank")
    }),

    // Duplicate-VIDEO detection via aligned frame perceptual hashes — the
    // YouTube-dedup shape: every container frame crosses the video→image
    // bridge (extractFrameImages), gets a dHash, and two videos pair when
    // ≥ 2 temporally ALIGNED frames match within hamming 3. Frames ride
    // the banded join as surrogate ids (video·1000 + frame), so the
    // pigeonhole-complete kernel is reused unchanged and the same-frame
    // restriction is a post-filter — exact, no all-pairs. The oracle
    // re-derives every frame hash from the md5 pixel arithmetic and
    // brute-forces the aligned comparison.
    "dedup_video_pairs" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id")
        .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      val media = Multimodal.synthesizeDupGifs(docs)
      val frames = Multimodal.extractFrameImages(media, every = 1).toDF()
      val sigs = Multimodal.imageDHash(
          frames.select(
            (col("media_id") * 1000 + col("frame_no")).as("media_id"),
            col("payload"), col("media_type"))).toDF()
        .filter(col("decoded"))
        .select(col("media_id").as("doc_id"), col("hash_hi"), col("hash_lo"))
      Dedup.hammingPairsHiLo(sigs, maxHamming = 3, bands = 4)
        .filter(pmod(col("doc_a"), lit(1000)) === pmod(col("doc_b"), lit(1000)))
        .groupBy(floor(col("doc_a") / 1000).cast("long").as("vid_a"),
          floor(col("doc_b") / 1000).cast("long").as("vid_b"))
        .agg(count(lit(1)).as("n_matching_frames"))
        .filter(col("n_matching_frames") >= 2)
        .orderBy("vid_a", "vid_b")
    }),

    // KEYFRAME-SAMPLED video dedup at realistic clip lengths — the
    // 100 TB plan: real clips run 10³–10⁴ frames, and per-frame dHash +
    // banded-join work grows LINEARLY with clip length while the
    // near-dup verdict is decided by a handful of aligned keyframes.
    // The long-clip fixture (64–66 frames, same family/perturbation
    // arithmetic as dedup_video_pairs) is hashed from every 8TH frame
    // only — extractFrameImages emits (and PNG-encodes) just the
    // sampled frames, so the expensive half of the bridge scales with
    // frames/8, not frames. The ORACLE replays the FULL-frame
    // comparison (every frame, ≥2 aligned matches): a green row is the
    // proof that sampling before hashing lands the full-frame pair set
    // on this class — sample-then-hash, never hash-then-sample.
    "dedup_video_pairs_sampled" -> ((s, dir) => {
      // a fixed 200-clip long-form library (50 families of 4): clip
      // COUNT is the scale axis the banded join handles; clip LENGTH is
      // what sampling must neutralize
      val docs = t(s, dir, "documents").select("doc_id")
        .filter(col("doc_id") < 200)
        .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      val media = Multimodal.synthesizeLongDupGifs(docs)
      val frames = Multimodal.extractFrameImages(media, every = 8).toDF()
      val sigs = Multimodal.imageDHash(
          frames.select(
            (col("media_id") * 1000 + col("frame_no")).as("media_id"),
            col("payload"), col("media_type"))).toDF()
        .filter(col("decoded"))
        .select(col("media_id").as("doc_id"), col("hash_hi"), col("hash_lo"))
      Dedup.hammingPairsHiLo(sigs, maxHamming = 3, bands = 4)
        .filter(pmod(col("doc_a"), lit(1000)) === pmod(col("doc_b"), lit(1000)))
        .groupBy(floor(col("doc_a") / 1000).cast("long").as("vid_a"),
          floor(col("doc_b") / 1000).cast("long").as("vid_b"))
        .agg(count(lit(1)).as("n_matching_frames"))
        .filter(col("n_matching_frames") >= 2)
        .select(col("vid_a"), col("vid_b"))
        .orderBy("vid_a", "vid_b")
    }),

    // SCENE-CUT DETECTION (shot segmentation) — the step BEFORE
    // keyframe policy in a real video pipeline: sample per SHOT, not
    // per fixed stride (a 3-hour lecture is one shot; a music video is
    // hundreds). Per clip: dHash every frame, hamming distance between
    // CONSECUTIVE frames (one lag window per clip — bounded
    // partitions), cut where the distance exceeds the threshold;
    // within a static shot the distance is 0 by construction. The
    // oracle replays the ENTIRE hash chain (pixel arithmetic → dHash
    // bits → consecutive hamming) so the verdict is compared at the
    // hash level, not assumed from the fixture's scene arithmetic.
    "multimodal_video_scenes" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id")
        .filter(col("doc_id") < 100)
        .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      val media = Multimodal.synthesizeSceneGifs(docs)
      val frames = Multimodal.extractFrameImages(media, every = 1).toDF()
      val sigs = Multimodal.imageDHash(
          frames.select(
            (col("media_id") * 1000 + col("frame_no")).as("media_id"),
            col("payload"), col("media_type"))).toDF()
        .filter(col("decoded"))
        .select(expr("media_id div 1000").as("vid"),
          pmod(col("media_id"), lit(1000)).as("f"),
          col("hash_hi"), col("hash_lo"))
      val w = Window.partitionBy("vid").orderBy("f")
      sigs
        .withColumn("ph", lag(col("hash_hi"), 1).over(w))
        .withColumn("pl", lag(col("hash_lo"), 1).over(w))
        .withColumn("cut", col("ph").isNotNull &&
          (bit_count(col("hash_hi").bitwiseXOR(col("ph"))) +
            bit_count(col("hash_lo").bitwiseXOR(col("pl")))) > 8)
        .groupBy(col("vid"))
        .agg(count(lit(1)).as("n_frames"),
          sum(when(col("cut"), 1L).otherwise(0L)).as("n_cuts"),
          (sum(when(col("cut"), 1L).otherwise(0L)) + 1L).as("n_scenes"))
        .orderBy("vid")
    }),

    // The STREAMED image-feature index: VectorIngest is modality-agnostic
    // (it ingests any (vec_id, embedding) frame), so two doc-disjoint
    // micro-batches of decoded histogram features land on the same
    // cell-partitioned layout the text embeddings use — centroids trained
    // by the first batch, reused by the second, BatchMarker exactly-once.
    // nProbe = nCells makes the search EXACT, so the brute-force image
    // oracle verifies the ACCUMULATION itself: every batch's vectors
    // present exactly once, correctly assigned and scored. Completes the
    // flat / pruned / streamed index symmetry between the text and image
    // families.
    "ann_image_streamed" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents").select("doc_id")
      val media = Multimodal.synthesizePhashImages(
        docs.repartition(s.sparkContext.defaultParallelism, col("doc_id")))
      val vecs = Multimodal.imageFeatures(media, bins = 16).toDF()
        .filter(col("decoded"))
        .select(col("media_id").as("vec_id"),
          col("histogram").cast("array<double>").as("embedding"))
      val path = ensureIndex(s, docs, "ivfimgstream", "built") { p =>
        graft.streaming.VectorIngest.processBatch(
          vecs.filter(pmod(col("vec_id"), lit(2)) === 0), 0L, p, nCells = 8)
        graft.streaming.VectorIngest.processBatch(
          vecs.filter(pmod(col("vec_id"), lit(2)) === 1), 1L, p, nCells = 8)
        Seq(2).toDF("n_batches").coalesce(1).write.mode("overwrite")
          .parquet(s"$p/built")
      }
      Similarity.ivfTopKFromPartitioned(s, path, vecs.filter(col("vec_id") < 10),
          k = 5, nProbe = 8)
        .withColumn("rank", col("rank").cast("bigint"))
        .orderBy("query_id", "rank")
    }),

    // Incremental image dedup — the daily-crawl shape: only pairs
    // touching the incoming batch (docs with doc_id % 7 = 3 play the new
    // crawl) are computed; the corpus×corpus quadratic term never forms,
    // and per-ingest work scales with the batch. The oracle brute-forces
    // ALL pairs from the same replayed hashes and keeps those touching
    // the batch — the banded incremental path must produce exactly that
    // set (completeness restricted to the emitted scope).
    "dedup_phash_incremental" -> ((s, dir) => {
      val media = Multimodal.synthesizePhashImages(
        t(s, dir, "documents").select("doc_id")
          .repartition(s.sparkContext.defaultParallelism, col("doc_id")))
      val sigs = Multimodal.imageDHash(media).toDF()
        .filter(col("decoded"))
        .select(col("media_id").as("doc_id"), col("hash_hi"), col("hash_lo"))
      Dedup.hammingPairsHiLoIncremental(
          existing = sigs.filter(col("doc_id") % 7 =!= 3),
          incoming = sigs.filter(col("doc_id") % 7 === 3),
          maxHamming = 3, bands = 4)
        .orderBy("doc_a", "doc_b")
    }),

    // STREAMED image dedup ingest (PhashIngest): two micro-batches of
    // encoded images land on the persisted signature index — each batch
    // decodes, hashes, pairs against the accumulated history (new-new +
    // new-old only) and appends its signatures, under the BatchMarker
    // exactly-once protocol. Every pair lands exactly once, in the batch
    // of its LATER member, so the accumulated pair table must equal the
    // brute-force ALL-pairs set — dedup_phash_pairs' oracle verbatim, and
    // the green row proves the streamed accumulation loses nothing and
    // double-emits nothing.
    "dedup_phash_streamed" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents").select("doc_id")
      val media = Multimodal.synthesizePhashImages(
        docs.repartition(s.sparkContext.defaultParallelism, col("doc_id")))
      val path = ensureIndex(s, docs, "phashstream", "built") { p =>
        graft.streaming.PhashIngest.processBatch(
          media.filter(col("media_id") % 7 =!= 3), 0L, p)
        graft.streaming.PhashIngest.processBatch(
          media.filter(col("media_id") % 7 === 3), 1L, p)
        Seq(2).toDF("n_batches").coalesce(1).write.mode("overwrite")
          .parquet(s"$p/built")
      }
      graft.streaming.PhashIngest.readPairs(s, path)
        .orderBy("doc_a", "doc_b")
    }),

    // Image near-dup CLUSTERS: the perceptual-hash pair set closed to
    // connected components (pointer-jumped min-label CC) with one keeper
    // per cluster — decode → dHash → banded pairs → CC, the full image
    // dedup pipeline a crawl dedup stage runs. The oracle re-derives the
    // hashes, recomputes ALL pairs brute-force and closes them with a
    // recursive CTE — labels, sizes and keepers checked end-to-end.
    "dedup_phash_clusters" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val media = Multimodal.synthesizePhashImages(
        docs.select("doc_id")
          .repartition(s.sparkContext.defaultParallelism, col("doc_id")))
      val sigs = Multimodal.imageDHash(media).toDF()
        .filter(col("decoded"))
        .select(col("media_id").as("doc_id"), col("hash_hi"), col("hash_lo"))
      val pairs = Dedup.hammingPairsHiLo(sigs, maxHamming = 3, bands = 4)
      Dedup.clusterAssignments(docs, "doc_id", pairs).orderBy("doc_id")
    }),

    // Incremental image CLUSTERING — the crawl composition end-to-end:
    // yesterday's labeling (CC over old-old pairs) enters as star edges,
    // only the incoming batch's pairs (hammingPairsHiLoIncremental — the
    // old-old quadratic term never recomputes) are added, and the
    // relabeling must equal the from-scratch closure: SHARES
    // dedup_phash_clusters' recursive-CTE oracle, so green is the
    // equivalence proof. Per-crawl cost = new pairs + touched history.
    "dedup_phash_clusters_incremental" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val media = Multimodal.synthesizePhashImages(
        docs.select("doc_id")
          .repartition(s.sparkContext.defaultParallelism, col("doc_id")))
      val sigs = Multimodal.imageDHash(media).toDF()
        .filter(col("decoded"))
        .select(col("media_id").as("doc_id"), col("hash_hi"), col("hash_lo"))
        .localCheckpoint() // decode once, split twice
      val hist  = sigs.filter(col("doc_id") % 7 =!= 3)
      val fresh = sigs.filter(col("doc_id") % 7 === 3)
      val prev = Dedup.duplicateClusters(
        Dedup.hammingPairsHiLo(hist, maxHamming = 3, bands = 4))
      val newPairs = Dedup.hammingPairsHiLoIncremental(hist, fresh,
        maxHamming = 3, bands = 4)
      Dedup.clusterAssignmentsFromLabels(docs, "doc_id",
          Dedup.incrementalClusters(prev, newPairs))
        .orderBy("doc_id")
    }),

    // Benchmark decontamination: every 50th doc plays the eval set; flag
    // corpus docs sharing >= 3 word-3-gram shingles with any of them.
    "dedup_contamination" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.contaminationFlags(
          docs.filter(col("doc_id") % 50 =!= 0),
          docs.filter(col("doc_id") % 50 === 0),
          "text", "doc_id", n = 3, minShared = 3)
        .orderBy("doc_id")
    }),

    // SEMANTIC decontamination — the embedding-space sibling of
    // dedup_contamination: corpus vectors within 0.35 cosine of ANY eval
    // vector (every 50th id plays the benchmark) leak it semantically
    // even with zero shared n-grams. Broadcast-eval map-side pass — the
    // eval set is small by definition, so O(|corpus| × |eval|) with no
    // shuffle IS the 100 TB plan, not a bucketed approximation. Exact
    // and fully oracled.
    "dedup_contamination_embedding" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.crossCosinePairs(
          emb.filter(col("vec_id") % 50 =!= 0),
          emb.filter(col("vec_id") % 50 === 0),
          threshold = 0.35)
        .orderBy("doc_id", "eval_id")
    }),

    // MinHash banded-LSH near-dup pairs (the 100 TB scale path): candidates
    // form only inside (band, band-hash) buckets, then an exact-Jaccard
    // verify pass makes the output equal brute-force Jaccard at the same
    // threshold — which is exactly what the DuckDB oracle computes.
    "dedup_minhash" -> ((s, dir) => {
      Dedup.minhashBandedPairs(t(s, dir, "documents"), "text", "doc_id",
          n = 3, threshold = 0.7)
        .orderBy("doc_a", "doc_b")
    }),

    // Signature-estimate prefilter between banding and exact verify — the
    // 100 TB shape: the wide shingle-set re-join only runs on candidates
    // whose estimated Jaccard clears threshold - margin. Same oracle as
    // dedup_minhash: green = the prefilter dropped nothing.
    "dedup_minhash_prefiltered" -> ((s, dir) => {
      Dedup.minhashEstimatedPairs(t(s, dir, "documents"), "text", "doc_id",
          n = 3, threshold = 0.7)
        .orderBy("doc_a", "doc_b")
    }),

    // Estimator audit for the prefilter: avg/max |estimate - exact| bounds
    // over every banded candidate, plus the exact >= 0.7 pair count DuckDB
    // recomputes brute-force (ANN-recall-gate contract).
    "dedup_minhash_est_gate" -> ((s, dir) => {
      Dedup.minhashEstimateErrors(t(s, dir, "documents"), "text", "doc_id",
        n = 3, threshold = 0.7)
    }),

    // SimHash signatures + band buckets. The query uses the portable
    // md5-derived 60-bit hash so DuckDB can replicate the full pipeline
    // (tokenize → per-token hash → 60 bit-votes → signature → bucket);
    // the xxhash64 form stays the in-Spark default for dedup joins.
    "dedup_simhash" -> ((s, dir) => {
      Dedup.simhashBuckets(t(s, dir, "documents"), "text", "doc_id",
          bandBits = 12, portableHash = true)
        .orderBy("doc_id")
    }),

    // SimHash pairs at hamming <= 3 with the pigeonhole completeness
    // guarantee (4 bands > 3 differing bits ⇒ every qualifying pair shares
    // a band). The oracle recomputes ALL pairs brute-force from the
    // portable signatures — an equality check on the banding, not a recall
    // gate.
    "dedup_simhash_pairs" -> ((s, dir) => {
      Dedup.simhashPairs(t(s, dir, "documents"), "text", "doc_id",
          maxHamming = 3, bands = 4, portableHash = true)
        .orderBy("doc_a", "doc_b")
    }),

    // Containment (|A∩B| / min set size) near-dup pairs — catches the
    // doc-inside-doc copy symmetric Jaccard misses (a 10x-larger wrapper
    // caps Jaccard at ~0.1 while containment is 1.0).
    "dedup_containment" -> ((s, dir) => {
      Dedup.containmentPairs(t(s, dir, "documents"), "text", "doc_id",
          n = 3, threshold = 0.9)
        .orderBy("doc_a", "doc_b")
    }),

    // Near-dup CLUSTERS over the banded-LSH pair set: min-label propagation
    // to connected components, one keeper per cluster. The oracle recomputes
    // the >= 0.7 Jaccard pairs brute-force and closes them transitively with
    // a recursive CTE — so this checks the component labels, sizes and
    // keeper flags end-to-end, not just the edges.
    "dedup_clusters" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.minhashBandedPairs(docs, "text", "doc_id",
        n = 3, threshold = 0.7)
      Dedup.clusterAssignments(docs, "doc_id", pairs)
        .orderBy("doc_id")
    }),

    // The daily-crawl form: 20% of the corpus "arrives today". Yesterday's
    // labeling (CC over the historical pairs) folds the new batch's pairs
    // in via incrementalClusters — history collapses to star edges, so
    // rounds depend on the new batch, never on historical component size.
    // Shares dedup_clusters' oracle VERBATIM: green = the incremental fold
    // is row-identical to re-clustering the full corpus from scratch.
    "dedup_clusters_incremental" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.minhashBandedPairs(docs, "text", "doc_id",
        n = 3, threshold = 0.7).localCheckpoint() // pair gen once, split twice
      def isNew(c: Column) = pmod(c, lit(5)) === 0
      val hist  = pairs.filter(!isNew(col("doc_a")) && !isNew(col("doc_b")))
      val fresh = pairs.filter(isNew(col("doc_a")) || isNew(col("doc_b")))
      val prev = Dedup.duplicateClusters(hist)
      Dedup.clusterAssignmentsFromLabels(docs, "doc_id",
          Dedup.incrementalClusters(prev, fresh))
        .orderBy("doc_id")
    }),

    // Declarative data-quality expectations (Deequ-shaped): the checklist
    // an ingestion runs before publishing a snapshot. Row-local checks
    // fold into ONE aggregation pass; uniqueness is one groupBy (never an
    // Expand of mixed countDistincts); FK containment one broadcast
    // anti-join count.
    "quality_report" -> ((s, dir) => {
      import Expectations._
      report(t(s, dir, "lineitem"), Seq(
        NotNull("l_orderkey"),
        InRange("l_quantity", 1.0, 50.0),
        Unique(Seq("l_orderkey", "l_linenumber")),
        FkIn("l_orderkey", t(s, dir, "orders"), "o_orderkey"),
        RowCountBetween(1L, 10000000000L)))
    }),

    // Distributed BPE training (Sennrich 2016): one corpus pass builds the
    // word-frequency dict, then each merge step shuffles only vocab-sized
    // (pair, freq) rows. Merge table is deterministic (count desc,
    // lexicographic tiebreak); BpeSpec pins the paper's canonical example.
    "bpe_merges" -> ((s, dir) => {
      import s.implicits._
      Bpe.learnMergesCached(t(s, dir, "documents"), "text", nMerges = 10, corpusId = dir)
        .toDF("step", "left", "right")
        .select(col("step").cast("bigint"), col("left"), col("right"))
        .orderBy("step")
    }),

    // BPE acceptance gate (recall-gate convention): the learned table has
    // the requested size, merges are distinct, and applying them strictly
    // shrinks the corpus token count (every merge had count >= 2).
    "bpe_gate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val merges = Bpe.learnMergesCached(docs, "text", nMerges = 10, corpusId = dir)
      val t0 = Bpe.segment(docs, "text", "doc_id", Nil)
        .agg(sum(size(col("tokens"))).as("t0"))
      val tN = Bpe.segment(docs, "text", "doc_id", merges)
        .agg(sum(size(col("tokens"))).as("tN"))
      t0.crossJoin(tN).select(
        lit(merges.size.toLong).as("n_merges"),
        lit(merges.map(m => (m.left, m.right)).distinct.size == merges.size)
          .as("distinct_ok"),
        (col("tN") < col("t0")).as("shrink_ok"))
    }),

    // The trained tokenizer APPLIED to the corpus (Bpe.segment — the
    // deploy path of a tokenizer: map-only, merge table in the task
    // closure): per doc, the subword sequence and its length. The oracle
    // replays the training chain per distinct WORD (the bpe_merges CTE,
    // here carrying the surface form through every stage) so the final
    // state IS the per-word segmentation table, then re-assembles each
    // doc word-by-word in order — the apply path becomes as
    // hash-verified as the training path.
    "bpe_encode" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val merges = Bpe.learnMergesCached(docs, "text", nMerges = 10, corpusId = dir)
      Bpe.segment(docs, "text", "doc_id", merges)
        .select(col("doc_id"),
          size(col("tokens")).cast("bigint").as("n_tokens"),
          array_join(col("tokens"), " ").as("tokens_str"))
        .orderBy("doc_id")
    }),

    // Subword vocabulary histogram of the encoded corpus — the unit
    // frequency table a tokenizer trainer reports. Bpe.vocabulary weights
    // unit counts by the word-frequency dictionary, so the merge replay
    // is vocab-sized: the corpus is aggregated once, never re-segmented
    // occurrence-by-occurrence.
    "bpe_vocab" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val merges = Bpe.learnMergesCached(docs, "text", nMerges = 10, corpusId = dir)
      Bpe.vocabulary(docs, "text", merges).orderBy("unit")
    }),

    // §2.10 ML pipeline acceptance gate (the reference's only quantitative
    // quality gate, classifiers.ipynb cell 18, as a CORRECTNESS row): the
    // synthetic corpus' lang/source labels carry no text signal, so the
    // gate injects a deterministic lexical marker derived from doc_id —
    // what is under test is the PIPELINE (tokenize → TF-IDF → balanced
    // weights → LR and the notebook's literal LinearSVC → held-out
    // accuracy) over the exact hash-ranked stratified split, whose sizes
    // the oracle replays arithmetically.
    "classifier_gate" -> ((s, dir) => {
      val marker = when(pmod(col("doc_id"), lit(2)) === 0, "qqalpha")
        .otherwise("qqbravo")
      val docs = t(s, dir, "documents")
        .withColumn("topic", marker)
        .withColumn("text", concat_ws(" ", col("text"), marker))
      graft.analysis.Classifier.classifierGate(
        docs, "text", "topic", testFrac = 0.2, bar = 0.95)
    }),

    // Quality-aware dedup: per near-dup cluster, keep the HIGHEST-quality
    // member (rounded qualityScore — cross-engine equality proven by
    // text_quality — with id tiebreak) instead of the arbitrary min-id.
    "dedup_keep_best" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.minhashBandedPairs(docs, "text", "doc_id",
        n = 3, threshold = 0.7)
      sortOnce(Dedup.clusterKeepersByScore(
          docs.withColumn("quality", TextStats.qualityScore(col("text"))),
          "doc_id", "quality", pairs),
        col("doc_id"))
    }),

    // Gopher-style rule-based quality gate (word-count / mean-word-length /
    // alphabetic-ratio / stopword floors), measurements + per-rule flags.
    "curation_gopher" -> ((s, dir) => {
      Curation.gopherFlags(t(s, dir, "documents"), "text", "doc_id",
          stopwords = Seq("the", "a", "and"), minWords = 30)
        .orderBy("doc_id")
    }),

    // Deterministic hash-based subsample: the sampling decision is a pure
    // function of doc_id (md5 fraction < 0.25), so retries/re-runs/other
    // engines agree row-for-row — which is exactly what the oracle checks.
    "curation_sample" -> ((s, dir) => {
      Curation.sampleByHash(t(s, dir, "documents"), "doc_id", 0.25)
        .select(col("doc_id"), col("source"),
          round(Curation.hashFraction(col("doc_id")), 6).as("hash_frac"))
        .orderBy("doc_id")
    }),

    // Per-source cap (the per-domain cap of web-corpus builds): keep at
    // most 15 docs per source, chosen by hash order with id tiebreak.
    "curation_source_cap" -> ((s, dir) => {
      Curation.perSourceCap(t(s, dir, "documents"), "doc_id", "source", cap = 15)
        .select(col("doc_id"), col("source"), col("sample_rank"))
        .orderBy("doc_id")
    }),

    // Per-source cap through the bounded smallest_k heap — same oracle as
    // curation_source_cap: green = heap ≡ window. The heap form shuffles
    // ≤ cap rows per (map task, source) instead of sorting every source's
    // documents inside the exchange.
    "curation_cap_topk" -> ((s, dir) => {
      Curation.perSourceCapViaTopKAgg(t(s, dir, "documents"), "doc_id", "source",
          cap = 15)
        .orderBy("doc_id")
    }),

    // Z-order (Morton) clustering key over two range-filter dimensions —
    // the write-time sort key that gives parquet min/max pruning on BOTH
    // columns. Pure codegen'd bit arithmetic; the oracle replays the
    // identical shift/mask chain in DuckDB.
    "curation_zorder" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      o.select(col("o_orderkey"),
          graft.functions.ZOrder.interleave(
            col("o_custkey"), floor(col("o_totalprice")).cast("bigint")).as("zkey"))
        .orderBy("o_orderkey")
    }),

    // Deterministic shuffle-and-shard export: md5-mod shard id + in-shard
    // position by hash order — the reproducible global shuffle a trainer
    // streams shards from (replaces orderBy(rand())).
    "curation_shards" -> ((s, dir) => {
      Curation.shuffledShards(t(s, dir, "documents"), "doc_id", nShards = 8)
        .select(col("doc_id"), col("source"), col("shard"), col("shard_pos"))
        .orderBy("doc_id")
    }),

    // EPOCH-aware reshuffle (Curation.epochShards): training loaders
    // re-permute the corpus every epoch — deterministically, so a
    // resumed job lays out the identical epoch. Per (epoch, shard):
    // doc count and the md5 of the shard's doc order — equal order_md5
    // across engines proves the PERMUTATION, not just membership; the
    // two epochs' digests differ (uncorrelated layouts) while their
    // membership counts rebalance independently. Per-shard windows
    // only — no global sort at any scale.
    "curation_epochs" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val perEpoch = (0 to 1).map { e =>
        Curation.epochShards(docs, "doc_id", nShards = 8, epoch = e)
          .groupBy(col("epoch"), col("shard"))
          .agg(count(lit(1)).as("n_docs"),
            md5(array_join(transform(
              array_sort(collect_list(struct(col("shard_pos"), col("doc_id")))),
              x => x.getField("doc_id").cast("string")), ",")).as("order_md5"))
      }
      perEpoch.reduce(_ unionByName _)
        .orderBy("epoch", "shard")
    }),

    // Per-group exact heavy hitters: which tokens exceed 2% of THEIR
    // source's occurrences — the sketch keyed by source (k counters per
    // group per task), exact recount of candidates only. Oracled as
    // equality with DuckDB's plain per-source group-count.
    "text_heavy_hitters_by_source" -> ((s, dir) => {
      val toks = t(s, dir, "documents")
        .select(col("source"), explode(split(col("text"), " ")).as("word"))
        .persist()
      toks.count()
      Curation.heavyHittersPerGroup(toks, "word", "source", k = 256,
          minShare = 0.02)
        .select(col("source"), col("word"), col("cnt"), col("n_total"))
        .orderBy(col("source"), col("cnt").desc, col("word"))
    }),

    // Weighted sampling without replacement (Efraimidis-Spirakis): top-100
    // by u^(1/w) with u = md5 fraction, w = token count — token-budget
    // sampling whose draw is a pure function of the data. Plans as
    // TakeOrderedAndProject (per-task top-k, no global sort).
    "curation_weighted_sample" -> ((s, dir) => {
      Curation.weightedSample(t(s, dir, "documents"), "doc_id",
          TextStats.tokenCount(col("text")), k = 100)
        .select(col("doc_id"),
          TextStats.tokenCount(col("text")).cast("bigint").as("n_tokens"),
          round(col("es_key"), 6).as("es_key"))
        .orderBy("doc_id")
    }),

    // Exact heavy hitters via the Misra-Gries two-pass: k=256 bounded
    // counters find candidates (complete above N/257), exact counts verify
    // — output is exact, so the oracle is a plain DuckDB GROUP BY. The
    // token frame feeds both passes: persist + count (explode-trap rule).
    "text_heavy_hitters" -> ((s, dir) => {
      val toks = t(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("word"))
        .persist()
      toks.count()
      Curation.heavyHitters(toks, "word", k = 256, minShare = 0.005)
        .select(col("word"), col("cnt"), col("n_total"))
        .orderBy(col("cnt").desc, col("word"))
    }),

    // Exact stratified train/val/test split: per source, rank by md5 hex
    // and cut at floor(n*0.1) / floor(n*0.2) — proportions exact per
    // stratum, assignment a pure function of the data (oracle replays the
    // same rank/count windows row-for-row).
    "curation_split" -> ((s, dir) => {
      Curation.stratifiedSplit(t(s, dir, "documents"), "doc_id", "source",
          testFrac = 0.1, valFrac = 0.1)
        .select(col("doc_id"), col("source"), col("split_rank"),
          col("n_stratum"), col("split"))
        .orderBy("doc_id")
    }),

    // Sliding-window token chunking (the embedding/RAG chunk pass):
    // 64-token windows advancing by 16 — every token covered, tail window
    // kept short. Map-only, zero shuffle.
    "text_chunks" -> ((s, dir) => {
      Curation.slidingChunks(t(s, dir, "documents"), "text", "doc_id",
          chunkTokens = 64, stride = 16)
        .orderBy("doc_id", "chunk_id")
    }),

    // Repeated-span statistics (substring-level dedup signal, Lee et al.
    // 2021): per doc, distinct 4-gram spans occurring in >= 3 documents.
    "text_span_dup" -> ((s, dir) => {
      Curation.repeatedSpanStats(t(s, dir, "documents"), "text", "doc_id",
          n = 4, minDocs = 3)
        .orderBy("doc_id")
    }),

    // --- rows-only entries (not ANSI-SQL-expressible; weaker check) ---

    // Document fingerprint of the normalized token stream (md5 form — the
    // cross-engine-checkable variant; TextStats.fingerprint is the xxhash64
    // join-key form, same normalization, oracle-equivalent by construction).
    "text_fingerprint" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), TextStats.fingerprintMd5(col("text")).as("fp"))
        .orderBy("doc_id")
    }),

    // F16 — partial_ratio fuzzy score (native Catalyst expression).
    "fuzzy_partial_ratio" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          Fuzzy.partialRatio(substring(col("text"), 1, 40),
            lit("spark table join filter")).as("score"))
        .orderBy("doc_id")
    }),

    // The SAME computation through the TEXTUAL SQL surface — temp view +
    // spark.sql + the GraftExtensions-registered partial_ratio function.
    // Shares fuzzy_partial_ratio's oracle: green = the SQL API path
    // (parser → function registry → same Catalyst expression) is
    // row-identical to the DataFrame API path.
    "fuzzy_partial_ratio_sql" -> ((s, dir) => {
      t(s, dir, "documents").createOrReplaceTempView("documents_v")
      s.sql("""SELECT doc_id,
                 partial_ratio(substring(text, 1, 40),
                               'spark table join filter') AS score
               FROM documents_v ORDER BY doc_id""")
    }),

    // S7 END-TO-END, oracled (the cassette pattern — see
    // httpCassettePath): per-document DOI keys enriched from the recorded
    // response cache. The join is a plain equi-join keyed on the DOI (at
    // 100 TB the cache table is corpus-proportional — no broadcast hint,
    // AQE picks), JSON fields parsed map-side. `covered` pins the
    // recording contract: every key the corpus derives has a cassette
    // row (the anti-join in fetchMisses guarantees it at record time);
    // `fetched_ok` carries the REAL 404 leg — the every-`…3` keys were
    // refused by the server and must surface as misses, not as rows
    // invented by the replay.
    "etl_enrich_replay" -> ((s, dir) => {
      val cas = s.read.parquet(s"${httpCassettePath(s, dir)}/works")
      val keys = t(s, dir, "documents")
        .filter(pmod(col("doc_id"), lit(5)) =!= 4)
        .select(col("doc_id"),
          concat(lit("10."), (pmod(col("doc_id"), lit(900)) + 100).cast("string"),
            lit("/k"), col("doc_id").cast("string")).as("key"))
      keys.join(cas, Seq("key"), "left")
        .select(col("doc_id"), col("key"),
          coalesce(col("ok"), lit(false)).as("fetched_ok"),
          get_json_object(col("value"), "$.publisher").as("publisher"),
          get_json_object(col("value"), "$.cited").cast("long").as("cited"),
          col("ok").isNotNull.as("covered"))
        .orderBy("doc_id")
    }),

    // S8 END-TO-END, oracled: the recorded search-candidate cassette
    // replayed through the fuzzy gate (resources.py:259-302's pick-best-
    // match-above-threshold). Explode the candidate list, score each with
    // partial_ratio (the REAL UDF — if a decoy ever cleared the 90 gate,
    // `matched`/`best` would flip and the row would go red), take the
    // (score, candidate) max per query. Map-side explode + one hash
    // aggregation keyed on the query — scales as the candidate lists do.
    "etl_search_replay" -> ((s, dir) => {
      val cas = s.read.parquet(s"${httpCassettePath(s, dir)}/search")
      cas.select(col("key").as("query"),
          explode(split(col("value"), "\\|")).as("cand"))
        .select(col("query"), col("cand"),
          Fuzzy.partialRatio(col("query"), col("cand")).as("score"))
        .groupBy("query")
        .agg(count(lit(1)).as("n_candidates"),
          max(struct(col("score"), col("cand"))).as("top"))
        .select(col("query"), col("n_candidates"),
          (col("top.score") >= 90).as("matched"),
          when(col("top.score") >= 90, col("top.cand")).as("best"))
        .orderBy("query")
    }),

    // F11/F12/F13/O5 — the real DOI extraction cascade over synthesized
    // URLs that exercise EVERY offline stage (doc_id % 6 picks the shape:
    // standard DOI / strict-only / mapress / nature / cambridge / no-match),
    // so the oracle validates stage precedence, normalization and the
    // winning-stage name, not just the happy path.
    "doi_extract" -> ((s, dir) => {
      val id = col("doc_id")
      val url = when(id % 6 === 0,
          concat(lit("https://doi.org/10.1"), (id % 1000 + 1000).cast("string"),
            lit("/j."), col("source"), lit("."), id.cast("string"), lit(".pdf")))
        .when(id % 6 === 1,
          concat(lit("https://org.example/10-"), (id % 9000 + 1000).cast("string"),
            lit("/item-"), id.cast("string"), lit(".abstract")))
        .when(id % 6 === 2,
          concat(lit("https://www.biotaxa.org/zootaxa."), (id % 400 + 2000).cast("string"),
            lit(".5."), (id % 9 + 1).cast("string")))
        .when(id % 6 === 3,
          concat(lit("https://www.nature.com/articles/s"), (id % 90000 + 10000).cast("string"),
            lit("-"), (id % 900 + 100).cast("string"),
            lit("-"), (id * 7 % 90000 + 10000).cast("string"), lit("-x")))
        .when(id % 6 === 4,
          concat(lit("https://www.cambridge.org/core/article?fileId=S"),
            (id % 9000000 + 1000000).cast("string")))
        .otherwise(lit("https://example.com/plain/article.html"))
      // F15 (doi.py:32-34): the urls arrive URL-ENCODED ('/' as %2F, noise
      // '+' and %20) and Doi.urlFix must restore them before the cascade
      // can match — an unfixed url matches NO stage, so every non-null doi
      // below also proves the fix. The oracle replays the fix with plain
      // replaces (the fixture's encoding alphabet is exactly {%2F, +, %20},
      // so url_decode degenerates to string substitution there).
      val enc = concat(lit("+"), regexp_replace(url, "/", "%2F"), lit("%20"))
      t(s, dir, "documents")
        .select(col("doc_id"), Doi.urlFix(enc).as("url"))
        // materialize the stage array ONCE (bound attribute): the winning
        // doi is its first element (the array preserves cascade order), so
        // the 5-stage regex battery runs a single time per row instead of
        // once for extractDoi and again for the stage name.
        .select(col("doc_id"), col("url"),
          Doi.extractAllStages(col("url")).as("stages"))
        .select(col("doc_id"), col("url").as("url_fixed"),
          // try_element_at: the no-match shape yields an EMPTY stage array,
          // and ANSI-mode element_at throws on out-of-bounds instead of null
          try_element_at(col("stages"), lit(1)).getField("doi").as("doi"),
          try_element_at(col("stages"), lit(1)).getField("stage").as("stage"))
        .orderBy("doc_id")
    }),

    // J9/F17/F18/A8/U2 — the journal-ranking analytics pipeline
    // (graft.analysis.Journals) over synth-shaped frames derived from
    // documents; rows-only (dropDuplicates keeper is plan-dependent).
    "j9_journal_coverage" -> ((s, dir) => {
      def issnOf(c: Column): Column =
        concat(lpad((c % 40).cast("string"), 4, "0"), lit("-"),
          lpad(((c + 7) % 40).cast("string"), 4, "0"))
      val outputs = t(s, dir, "documents")
        .select(col("doc_id"), issnOf(col("doc_id")).as("issns"))
      val scopus = t(s, dir, "documents").filter(col("doc_id") % 4 === 0)
        .select(concat(lit("J"), col("doc_id")).as("title"),
          issnOf(col("doc_id")).as("issns"),
          (col("doc_id") % 10).cast("string").as("citescore"))
      val sjr = t(s, dir, "documents").filter(col("doc_id") % 4 === 1)
        .select(issnOf(col("doc_id")).as("issns"),
          concat((col("doc_id") % 3).cast("string"), lit(",5")).as("sjr"),
          (col("doc_id") % 100).cast("string").as("h_index"))
      graft.analysis.Journals.coverageWithTotal(
        graft.analysis.Journals.rankedJournals(
          graft.analysis.Journals.journalCounts(outputs, "issns"), scopus, sjr))
        .orderBy("ranking")
    }),

    // LSH-bucketed ANN (multi-table SRP signatures — the 100 TB path;
    // recall<1 by construction, measured by ann_lsh_recall below).
    // Multi-table SRP-LSH against PERSISTED hyperplanes (the planes ARE
    // the index). Fully oracled: DuckDB reads the same planes table and
    // replays sign-bit bucket assignment, the any-table candidate union,
    // and the cosine top-5 row-for-row. Recall gated by ann_lsh_recall.
    "ann_lsh_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val path = ensureIndex(s, emb, "lsh", "planes") { p =>
        Similarity.writeLshPlanes(emb, p, dim = 64, bits = 4, tables = 16)
      }
      Similarity.lshTopKFromPlanes(path, emb, emb.filter(col("vec_id") < 10), k = 5)
        .withColumn("rank", col("rank").cast("bigint"))
        .orderBy("query_id", "rank")
    }),

    // IVF ANN against PERSISTED centroids (seeded sample-fit KMeans; the
    // build-once/query-many split). Given the centroids table, assignment
    // and ranking are pure functions of the data — so this query is FULLY
    // oracled: DuckDB reads the same parquet centroids and replays
    // cell assignment, the nProbe=4 probe set, and the cosine top-k
    // row-for-row. Recall vs brute force is gated by ann_ivf_recall.
    "ann_ivf_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val path = ensureIndex(s, emb, "ivf", "centroids") { p =>
        Similarity.writeIvfCentroids(emb, p, nCells = 8)
      }
      Similarity.ivfTopKFromCentroids(path, emb, emb.filter(col("vec_id") < 10),
          k = 5, nProbe = 4)
        .withColumn("rank", col("rank").cast("bigint"))
        .orderBy("query_id", "rank")
    }),

    // The SAME IVF search over the cell-partitioned vector layout (the
    // partition-column shape the IVF-PQ scaladoc names as the 100 TB
    // index): vectors ship hive-partitioned by assigned cell, the query
    // batch's probed cells become scan-time literals, and the vectors scan
    // carries a `cell` PartitionFilter (PlanInvariantsSpec pins it) —
    // non-probed directories are never listed, where the flat path must
    // scan the corpus to recompute assignments. Same oracle as
    // ann_ivf_topk read from the partitioned index's centroids.
    "ann_ivf_pruned" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val path = ensureIndex(s, emb, "ivfpart", "vectors") { p =>
        Similarity.writeIvfPartitioned(emb, p, nCells = 8)
      }
      Similarity.ivfTopKFromPartitioned(s, path, emb.filter(col("vec_id") < 10),
          k = 5, nProbe = 4)
        .withColumn("rank", col("rank").cast("bigint"))
        .orderBy("query_id", "rank")
    }),

    // The STREAMED cell-partitioned IVF index (VectorIngest): two
    // doc-disjoint micro-batches land on the layout (centroids trained by
    // the first, reused by the second), then the standard partitioned
    // search runs over the accumulation. nProbe = nCells probes every
    // cell, making the search EXACT — so the brute-force oracle verifies
    // the accumulation itself: every batch's vectors present exactly
    // once, correctly assigned and scored. A one-row sentinel is written
    // LAST so ensureIndex's marker can never see a half-built stream.
    "ann_ivf_streamed" -> ((s, dir) => {
      import s.implicits._
      val emb = t(s, dir, "embeddings")
      val path = ensureIndex(s, emb, "ivfstream", "built") { p =>
        graft.streaming.VectorIngest.processBatch(
          emb.filter(pmod(col("vec_id"), lit(2)) === 0), 0L, p, nCells = 8)
        graft.streaming.VectorIngest.processBatch(
          emb.filter(pmod(col("vec_id"), lit(2)) === 1), 1L, p, nCells = 8)
        Seq(2).toDF("n_batches").coalesce(1).write.mode("overwrite")
          .parquet(s"$p/built")
      }
      Similarity.ivfTopKFromPartitioned(s, path, emb.filter(col("vec_id") < 10),
          k = 5, nProbe = 8)
        .withColumn("rank", col("rank").cast("bigint"))
        .orderBy("query_id", "rank")
    }),

    // Recall gates for the two approximate ANN paths: avg recall@5 against
    // the brute-force baseline must clear 0.6 (measured 0.86/0.96 LSH and
    // 0.80/0.78 IVF at sf0.01/sf0.1, measured with the former `tools/AnnProbe`). The DuckDB
    // oracle asserts the boolean, so a silent recall regression becomes a
    // hash mismatch. Everything is seeded, so the value is deterministic.
    "ann_lsh_recall" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 10)
      val brute = Similarity.bruteForceTopK(emb, q, k = 5)
      val lsh = Similarity.lshTopK(emb, q, k = 5, dim = 64, bits = 4, tables = 16)
      Similarity.recallAtK(lsh, brute)
        .agg(count(lit(1)).as("n_queries"), (avg(col("recall")) >= 0.6).as("recall_ok"))
    }),

    "ann_ivf_recall" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 10)
      val brute = Similarity.bruteForceTopK(emb, q, k = 5)
      val ivf = Similarity.ivfTopK(emb, q, k = 5, nCells = 8, nProbe = 4,
        corpusId = Some(dir))
      Similarity.recallAtK(ivf, brute)
        .agg(count(lit(1)).as("n_queries"), (avg(col("recall")) >= 0.6).as("recall_ok"))
    }),

    // Recall gate for the image-retrieval scale path (ann_image_ivf's
    // parameters) against its own brute baseline — measured avg recall@5:
    // 1.00 at sf0.01, 0.88 at sf0.1 (measured with the former `tools/ImgAnnProbe`), gated at the
    // same 0.6 floor as the text-embedding IVF gate. A regression in the
    // decode → feature → quantizer chain becomes a hash mismatch.
    "ann_image_recall" -> ((s, dir) => {
      val media = Multimodal.synthesizePhashImages(
        t(s, dir, "documents").select("doc_id")
          .repartition(s.sparkContext.defaultParallelism, col("doc_id")))
      // persist: the decode → feature pass feeds both arms' corpus AND
      // query sides (4 consumers); Verify/Bench clearCache per query
      val vecs = Multimodal.imageFeatures(media, bins = 16).toDF()
        .filter(col("decoded"))
        .select(col("media_id").as("vec_id"),
          col("histogram").cast("array<double>").as("embedding"))
        .persist()
      val q = vecs.filter(col("vec_id") < 10)
      val brute = Similarity.bruteForceTopK(vecs, q, k = 5)
      val ivf = Similarity.ivfTopK(vecs, q, k = 5, nCells = 8, nProbe = 4,
        corpusId = Some(s"img:$dir"))
      Similarity.recallAtK(ivf, brute)
        .agg(count(lit(1)).as("n_queries"), (avg(col("recall")) >= 0.6).as("recall_ok"))
    }),

    // PQ-compressed ANN (ADC scan over m-byte codes + exact re-rank of a
    // refine*k shortlist) — the memory-bound scale path — against the
    // PERSISTED index. Given the codebooks + codes tables, the ADC lookup
    // tables, shortlist and re-rank are deterministic, so the query is
    // FULLY oracled: DuckDB reads the same parquet index and replays the
    // whole search row-for-row. Recall is gated by ann_pq_recall.
    "ann_pq_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val path = ensureIndex(s, emb, "pq", "codes") { p =>
        Similarity.writePqIndex(emb, p)
      }
      Similarity.pqTopKFromIndex(path, emb, emb.filter(col("vec_id") < 10),
          k = 5, refine = 32)
        .withColumn("rank", col("rank").cast("bigint"))
        .orderBy("query_id", "rank")
    }),

    "ann_pq_recall" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 10)
      val brute = Similarity.bruteForceTopK(emb, q, k = 5)
      val pq = Similarity.pqTopK(emb, q, k = 5, refine = 32, corpusId = Some(dir))
      Similarity.recallAtK(pq, brute)
        .agg(count(lit(1)).as("n_queries"), (avg(col("recall")) >= 0.6).as("recall_ok"))
    }),

    // IVF-PQ: coarse cells prune the scan (nProbe/nCells of the corpus),
    // PQ codes compress what is scanned — the canonical 100 TB index
    // layout — against BOTH persisted index halves. Fully oracled: given
    // the centroids and codebooks tables, cell assignment, PQ encoding,
    // ADC scoring and re-rank are all deterministic, and DuckDB replays
    // the composition row-for-row. Recall gated by ann_ivfpq_recall.
    "ann_ivfpq_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val ivfPath = ensureIndex(s, emb, "ivf", "centroids") { p =>
        Similarity.writeIvfCentroids(emb, p, nCells = 8)
      }
      // the PQ half at the r12 accuracy budget: ksub=32 direct-coded
      // books (residual coding was A/B'd and REJECTED on this corpus —
      // near-isotropic unit vectors make residuals carry more energy
      // than the vectors; see fitPqCodebooksResidual's scaladoc), and
      // nProbe=6 because the probe-4 IVF ceiling is 0.78 recall@5 at
      // sf0.1 — no code quality can clear 0.80 under it
      val pqPath = ensureIndex(s, emb, "pq32", "codes") { p =>
        Similarity.writePqIndex(emb, p, ksub = 32)
      }
      Similarity.ivfPqTopKFromIndexes(ivfPath, pqPath, emb,
          emb.filter(col("vec_id") < 10), k = 5, nProbe = 6)
        .withColumn("rank", col("rank").cast("bigint"))
        .orderBy("query_id", "rank")
    }),

    // The production vector-index read path in full: ONE persisted package
    // (centroids + codebooks + cell-partitioned codes with NO stored
    // vectors — m one-byte codes per vector is the whole payload), probed
    // cells as scan-time literals so the codes scan carries a cell
    // PartitionFilter, ADC over the pruned slice, exact re-rank fetching
    // true vectors from the live corpus. Same oracle shape as
    // ann_ivfpq_topk, read from this index's own tables.
    "ann_ivfpq_pruned" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val path = ensureIndex(s, emb, "ivfpqpart32", "codes") { p =>
        Similarity.writeIvfPqPartitioned(emb, p, nCells = 8, ksub = 32)
      }
      Similarity.ivfPqTopKFromPartitioned(s, path, emb,
          emb.filter(col("vec_id") < 10), k = 5, nProbe = 6)
        .withColumn("rank", col("rank").cast("bigint"))
        .orderBy("query_id", "rank")
    }),

    // The streamed build of the SAME production package (PqIngest):
    // meta bootstrapped from the corpus snapshot with the same seeded
    // fits as the batch writer, then two doc-disjoint micro-batches
    // encode against the frozen codebooks and append their codes under
    // cell=/batch_id=. The shared assignment/encoding kernels make the
    // accumulated codes — and therefore the search — row-identical to
    // ann_ivfpq_pruned, so the same replay oracle verifies that a
    // streamed index can never drift from its batch-built twin.
    "ann_ivfpq_streamed" -> ((s, dir) => {
      import s.implicits._
      val emb = t(s, dir, "embeddings")
      val path = ensureIndex(s, emb, "ivfpqstream32", "built") { p =>
        // crash-reentrant: a run killed between the first processBatch and
        // the built sentinel leaves codes/ behind, and bootstrap
        // (correctly) refuses to re-fit meta over live codes — so a
        // re-entered build clears the partial index first; the seeded
        // fits make the rebuild byte-identical.
        val fsP = new org.apache.hadoop.fs.Path(p)
        fsP.getFileSystem(s.sessionState.newHadoopConf()).delete(fsP, true)
        graft.streaming.PqIngest.bootstrap(emb, p, nCells = 8, ksub = 32)
        graft.streaming.PqIngest.processBatch(
          emb.filter(pmod(col("vec_id"), lit(2)) === 0), 0L, p)
        graft.streaming.PqIngest.processBatch(
          emb.filter(pmod(col("vec_id"), lit(2)) === 1), 1L, p)
        Seq(2).toDF("n_batches").coalesce(1).write.mode("overwrite")
          .parquet(s"$p/built")
      }
      Similarity.ivfPqTopKFromPartitioned(s, path, emb,
          emb.filter(col("vec_id") < 10), k = 5, nProbe = 6)
        .withColumn("rank", col("rank").cast("bigint"))
        .orderBy("query_id", "rank")
    }),

    // Gate raised 0.6 → 0.8 this round with the budget that honestly buys
    // it: ksub 16→32 (fine-grained ADC) + nProbe 4→6 (the probe-4 IVF
    // ceiling is 0.78 at sf0.1, so no code quality clears 0.8 under it).
    // Residual coding was A/B'd for this gate and rejected — on this
    // corpus's near-isotropic unit vectors it LOWERS recall (see
    // fitPqCodebooksResidual).
    "ann_ivfpq_recall" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 10)
      val brute = Similarity.bruteForceTopK(emb, q, k = 5)
      val ivfpq = Similarity.ivfPqTopK(emb, q, k = 5, nProbe = 6, ksub = 32,
        corpusId = Some(dir))
      Similarity.recallAtK(ivfpq, brute)
        .agg(count(lit(1)).as("n_queries"), (avg(col("recall")) >= 0.8).as("recall_ok"))
    }),

    // SemDeDup-style semantic dedup (Abbas et al. 2023): KMeans cells, exact
    // cosine within a cell only — against the PERSISTED centroids (the
    // same table ann_ivf_topk searches). Given the cells, the whole pass
    // is deterministic, so the query is FULLY oracled: DuckDB replays
    // normalized assignment, the 2-probe overlap, intra-cell cosine and
    // the pair dedup row-for-row. Subset of dedup_embedding_pairs by
    // construction (precision 1); recall measured by dedup_semantic_recall.
    "dedup_semantic" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val path = ensureIndex(s, emb, "ivf", "centroids") { p =>
        Similarity.writeIvfCentroids(emb, p, nCells = 8)
      }
      Similarity.semanticPairsFromCentroids(path, emb, threshold = 0.45,
          assignProbes = 2)
        .orderBy("doc_a", "doc_b")
    }),

    // Recall gate for the semantic path: fraction of the exact cosine pairs
    // (threshold 0.45) that survive the cluster partition. The DuckDB
    // oracle recomputes the exact pair count and asserts the boolean, so a
    // silent recall regression becomes a hash mismatch.
    "dedup_semantic_recall" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val exact = Similarity.cosinePairs(emb, threshold = 0.45)
      val sem = Similarity.semanticPairs(emb, threshold = 0.45,
        nCells = 8, corpusId = Some(dir), assignProbes = 2)
      Similarity.pairRecall(sem, exact, bar = 0.5)
    }),

    // Corpus-trained unigram-LM quality score (CCNet-shaped perplexity
    // filter, self-trained — no external LM in a zero-egress engine).
    "text_unigram_lm" -> ((s, dir) => {
      Curation.unigramLmScore(t(s, dir, "documents"), "text", "doc_id")
        .orderBy("doc_id")
    }),

    // Salted skew join (operators/SkewJoin): identical ROWS to the plain
    // equi-join — the salt only changes the partitioning — so the plain
    // join IS the oracle. AQE skew handling is the first line of defense;
    // salting is the plan-level fallback this query keeps honest.
    "j_salted_skew" -> ((s, dir) => {
      val orders = t(s, dir, "orders")
      val cust = t(s, dir, "customer")
        .select(col("c_custkey").as("o_custkey"), col("c_nationkey"))
      graft.operators.SkewJoin.saltedJoin(orders, cust, "o_custkey",
          saltFactor = 4, saltBy = "o_orderkey")
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total"))
        .orderBy("c_nationkey")
    }),

    // The documented scale path of text_length_quantiles made real:
    // approx_percentile (t-digest-style sketch, mergeable, bounded
    // memory) beside the exact interpolated percentile, with the sketch
    // value asserted within 10% — same contract pattern as
    // approx_distinct_users (DuckDB can't reproduce the sketch, but it
    // CAN check the exact column and the bound).
    "text_length_quantiles_approx" -> ((s, dir) => {
      t(s, dir, "documents")
        .groupBy(col("source"))
        .agg(
          round(expr("percentile(n_chars, 0.5)"), 4).as("p50"),
          expr("approx_percentile(n_chars, 0.5, 100)").as("p50_sketch"),
          count(lit(1)).as("n_docs"))
        .select(col("source"), col("p50"),
          (abs(col("p50_sketch") - col("p50")) <= col("p50") * 0.1).as("approx_ok"),
          col("n_docs"))
        .orderBy("source")
    }),

    // Bigram step-up of the LM score: add-one-smoothed P(w2|w1) — catches
    // shuffled/noisy token streams whose unigrams look normal.
    "text_bigram_lm" -> ((s, dir) => {
      Curation.bigramLmScore(t(s, dir, "documents"), "text", "doc_id")
        .orderBy("doc_id")
    }),

    // GPT-style concat-and-chunk sequence packing: per source, docs in id
    // order cut every 2048 tokens; per-doc chunk span.
    "pack_chunks" -> ((s, dir) => {
      Curation.packChunks(t(s, dir, "documents"), "text", "doc_id", "source",
          budget = 2048L)
        .orderBy("doc_id")
    }),

    // Per-vector int8 quantization (4x embedding storage cut) with the
    // reconstruction-error bound proven per row. The quantized vector is
    // emitted as its JSON text (both engines print int lists as compact
    // `[1,-2,...]`) so the driver's row-sort compares a plain string —
    // an array column crashes pandas' sort_values in the harness.
    "embed_quantize" -> ((s, dir) => {
      Similarity.quantizeInt8(t(s, dir, "embeddings"))
        .withColumn("q8", to_json(col("q8")))
        .orderBy("vec_id")
    }),

    // Quantization quality gate: top-5 cosine neighbors computed on the
    // DEQUANTIZED int8 vectors vs the float baseline — avg recall@5 emitted
    // as a value (fully oracled: DuckDB replicates the dequantization
    // bit-for-bit, so the recall itself is cross-checked, not just a bar).
    "ann_quantized_recall" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val deq = Similarity.quantizeInt8(emb)
        .select(col("vec_id"),
          transform(col("q8"), x => x * col("scale") / lit(127.0d)).as("embedding"))
      val q = emb.filter(col("vec_id") < 10)
      val deqQ = deq.filter(col("vec_id") < 10)
      val brute = Similarity.bruteForceTopK(emb, q, k = 5)
      val qtop = Similarity.bruteForceTopK(deq, deqQ, k = 5)
      Similarity.recallAtK(qtop, brute)
        .agg(count(lit(1)).as("n_queries"),
          round(avg(col("recall")), 4).as("avg_recall"))
    }),

    // Dimension-truncation ANN gate (matryoshka-style storage knob: keep a
    // 16-dim prefix of the 64-dim embedding — 4x less memory/IO per probe)
    // — same FULLY-oracled ranking-loss shape as ann_quantized_recall:
    // DuckDB replicates the truncation, so the recall VALUE is
    // cross-checked, not just bounded. Measured verdict on THIS corpus:
    // 0.08 — the synthetic embeddings are iid across dimensions, so a
    // prefix keeps ~1/4 of the energy and none of the ranking (real
    // matryoshka-trained embeddings front-load variance and pass). That
    // is the point of shipping the gate: int8 measured 0.98 (enable),
    // truncation measured 0.08 (do not enable) — the knob is gated by
    // measurement, not by assumption.
    "ann_truncated_recall" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val tr = emb.select(col("vec_id"), slice(col("embedding"), 1, 16).as("embedding"))
      val brute = Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 10), k = 5)
      val ttop = Similarity.bruteForceTopK(tr, tr.filter(col("vec_id") < 10), k = 5)
      Similarity.recallAtK(ttop, brute)
        .agg(count(lit(1)).as("n_queries"),
          round(avg(col("recall")), 4).as("avg_recall"))
    }),

    // BM25 full-text search served from the PERSISTED inverted index
    // (token→postings + doc lengths under the corpus-size-keyed dir —
    // build-once/query-many like the ANN indexes). Queries = the first 8
    // tokens of every doc_id ≡ 7 (mod 100); the search scans ONLY
    // postings rows matching the broadcast query-term set, never the
    // documents, and ranks through the bounded smallest_k heap. Fully
    // oracled: DuckDB recomputes df/N/avgdl from the same persisted
    // tables and replays the per-term rounded-decimal scoring row-for-row.
    "text_bm25_topk" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val path = ensureIndex(s, docs, "bm25", "stats") { p =>
        Retrieval.writeIndex(docs, "text", "doc_id", p)
      }
      val q = docs.filter(pmod(col("doc_id"), lit(100)) === 7)
        .select(col("doc_id").as("query_id"),
          array_join(slice(split(lower(trim(col("text"))), " "), 1, 8), " ")
            .as("qtext"))
      Retrieval.bm25TopKFromIndex(s, path, q, k = 10)
        .orderBy("query_id", "rank")
    }),

    // The SAME search over the token-partitioned index layout (the 100 TB
    // path the flat index's scaladoc promises): postings are written
    // hive-partitioned on pmod(xxhash64(token), 16) and the search's
    // PartitionFilters prune non-matching tok_bucket directories before a
    // file is opened (PlanInvariantsSpec pins the prune). Scores via the
    // shared bm25Score path — same oracle shape as text_bm25_topk, read
    // from the partitioned files.
    "text_bm25_pruned" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val path = ensureIndex(s, docs, "bm25part", "stats") { p =>
        Retrieval.writeIndexPartitioned(docs, "text", "doc_id", p, nBuckets = 16)
      }
      val q = docs.filter(pmod(col("doc_id"), lit(100)) === 7)
        .select(col("doc_id").as("query_id"),
          array_join(slice(split(lower(trim(col("text"))), " "), 1, 8), " ")
            .as("qtext"))
      Retrieval.bm25TopKPruned(s, path, q, k = 10)
        .orderBy("query_id", "rank")
    }),

    // The STREAMED partitioned BM25 index as a driver-oracled row (it was
    // spec-verified only): two doc-disjoint micro-batches append their
    // postings under the tok_bucket= dirs via IndexIngest, then the
    // pruned searcher runs over the accumulation. The oracle recomputes
    // df/N/avgdl from the streamed tables themselves and replays scoring —
    // so the hash proves the accumulated postings/doclens, not just the
    // search. Same query set as text_bm25_pruned: equal rows = the
    // streamed index answers exactly like the batch-built one.
    "text_bm25_streamed" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
      val path = ensureIndex(s, docs, "bm25stream", "built") { p =>
        graft.streaming.IndexIngest.processBatchPartitioned(
          docs.filter(pmod(col("doc_id"), lit(2)) === 0), 0L, p,
          "text", "doc_id", nBuckets = 16)
        graft.streaming.IndexIngest.processBatchPartitioned(
          docs.filter(pmod(col("doc_id"), lit(2)) === 1), 1L, p,
          "text", "doc_id", nBuckets = 16)
        Seq(2).toDF("n_batches").coalesce(1).write.mode("overwrite")
          .parquet(s"$p/built")
      }
      val q = docs.filter(pmod(col("doc_id"), lit(100)) === 7)
        .select(col("doc_id").as("query_id"),
          array_join(slice(split(lower(trim(col("text"))), " "), 1, 8), " ")
            .as("qtext"))
      graft.streaming.IndexIngest.bm25TopKPruned(s, path, q, k = 10)
        .orderBy("query_id", "rank")
    }),

    // The incremental-maintenance contract for the inverted index, proven
    // under text_bm25_topk's SHARED oracle: the index is built as two
    // doc-disjoint batch halves whose postings/doclens tables simply
    // union (per-(token, doc) counts are additive and batches are
    // doc-disjoint, so no re-aggregation is even needed), and the search
    // over the union must equal the search over the one-shot index — at
    // 100 TB a new batch appends its postings partition instead of
    // rebuilding the corpus index.
    "text_bm25_incremental" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      // the SHARED oracle replays from the persisted index — ensure it
      // exists so this query verifies standalone, not only after its
      // sibling happens to have built the index
      ensureIndex(s, docs, "bm25", "stats") { p =>
        Retrieval.writeIndex(docs, "text", "doc_id", p)
      }
      val (p1, d1) = Retrieval.invertedIndex(
        docs.filter(pmod(col("doc_id"), lit(2)) === 0), "text", "doc_id")
      val (p2, d2) = Retrieval.invertedIndex(
        docs.filter(pmod(col("doc_id"), lit(2)) === 1), "text", "doc_id")
      val q = docs.filter(pmod(col("doc_id"), lit(100)) === 7)
        .select(col("doc_id").as("query_id"),
          array_join(slice(split(lower(trim(col("text"))), " "), 1, 8), " ")
            .as("qtext"))
      Retrieval.bm25TopK(p1.unionAll(p2), d1.unionAll(d2), q, k = 10)
        .orderBy("query_id", "rank")
    }),

    // Hybrid lexical+vector retrieval: BM25 top-20 (from the persisted
    // index) fused with cosine top-20 (vec_id aligns with doc_id) by
    // reciprocal-rank fusion, 1/(60+rank) rounded-decimal sums. The fused
    // ordering depends only on RANKS, so the two systems' incomparable
    // scores never mix; the oracle replays both rankings and the fusion.
    "hybrid_rrf_topk" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val emb = t(s, dir, "embeddings")
      // lexical leg rides the PARTITIONED index — the production layout:
      // query-term buckets prune the postings listing before any file
      // opens; row-identical to the flat search (Retrieval scaladoc +
      // shared oracle shape), just with the 100 TB-shaped scan
      val path = ensureIndex(s, docs, "bm25part", "stats") { p =>
        Retrieval.writeIndexPartitioned(docs, "text", "doc_id", p, nBuckets = 16)
      }
      val q = docs.filter(pmod(col("doc_id"), lit(100)) === 7)
        .select(col("doc_id").as("query_id"),
          array_join(slice(split(lower(trim(col("text"))), " "), 1, 8), " ")
            .as("qtext"))
      val lexical = Retrieval.bm25TopKPruned(s, path, q, k = 20)
      val vector = Similarity.bruteForceTopK(emb,
          emb.filter(pmod(col("vec_id"), lit(100)) === 7), k = 20)
        .select(col("query_id"), col("neighbor_id").as("doc_id"),
          col("rank").cast("bigint").as("rank"))
      Retrieval.rrfFuse(Seq(lexical.select("query_id", "doc_id", "rank"),
          vector), k = 10)
        .orderBy("query_id", "rank")
    }),

    // Keyed upsert (MERGE), copy-on-write shape: base minus updated keys,
    // union the updates — updated keys carry new values, unseen keys
    // insert. One broadcast anti-join; the oracle replays it as plain SQL.
    "etl_upsert" -> ((s, dir) => {
      val (base, updates) = upsertFixture(s, dir)
      graft.sinks.Upsert.merged(base, updates, "cust_id")
        .orderBy("cust_id")
    }),

    // The streamed merge-on-read twin: base and updates land as two
    // changelog batches under the BatchMarker protocol (UpsertIngest —
    // appends only, batch id = version), the COMPACTION POLICY then
    // collapses the log (depth 2 > maxBatches 1 → resolve → fresh
    // single-batch log, markers preserved), and a deliberate REPLAY of
    // batch 1 after the compaction proves the exactly-once contract
    // survived it (the preserved marker short-circuits — no double
    // append). The serving read resolves latest-batch-per-key as before.
    // Shares etl_upsert's oracle VERBATIM — green = changelog resolve ≡
    // copy-on-write MERGE row-for-row, through a compaction cycle.
    "etl_upsert_streamed" -> ((s, dir) => {
      import s.implicits._
      val (base, updates) = upsertFixture(s, dir)
      val path = ensureIndex(s, t(s, dir, "customer"), "upsertstreamc", "built") { p =>
        // crash-reentrant (the ann_ivfpq_streamed pattern): a run killed
        // between the compaction and the built sentinel would otherwise
        // re-enter with the log ALREADY collapsed to depth 1 — the
        // markers short-circuit both processBatch calls — and the
        // depth-2 assert below would fail forever
        val fsP = new org.apache.hadoop.fs.Path(p)
        fsP.getFileSystem(s.sessionState.newHadoopConf()).delete(fsP, true)
        graft.streaming.UpsertIngest.processBatch(base, 0L, p)
        graft.streaming.UpsertIngest.processBatch(updates, 1L, p)
        assert(graft.streaming.UpsertIngest.maybeCompact(s, p, "cust_id",
          maxBatches = 1), "compaction policy must fire at depth 2")
        assert(graft.streaming.UpsertIngest.logStats(s, p).nBatches == 1,
          "log must be collapsed to one batch")
        graft.streaming.UpsertIngest.processBatch(updates, 1L, p) // replay
        Seq(2).toDF("n_batches").coalesce(1).write.mode("overwrite")
          .parquet(s"$p/built")
      }
      graft.streaming.UpsertIngest.readLatest(s, path, "cust_id")
        .select("cust_id", "c_acctbal", "c_mktsegment")
        .orderBy("cust_id")
    }),

    // TIME TRAVEL on the changelog: the table AS OF batch 0 — the state
    // before the update batch landed — must equal the base table exactly.
    // The as-of read is the same per-key resolve restricted to
    // batch_id <= N (partition-pruning the log scan to the surviving
    // early dirs); the index is built WITHOUT compaction so the history
    // is still on disk — after a compaction, as-of reads older than the
    // horizon see an empty state, the lakehouse cleaning contract
    // (spec-pinned in UpsertIngestSpec).
    "etl_upsert_asof" -> ((s, dir) => {
      import s.implicits._
      val (base, updates) = upsertFixture(s, dir)
      val path = ensureIndex(s, t(s, dir, "customer"), "upsertasof", "built") { p =>
        graft.streaming.UpsertIngest.processBatch(base, 0L, p)
        graft.streaming.UpsertIngest.processBatch(updates, 1L, p)
        Seq(2).toDF("n_batches").coalesce(1).write.mode("overwrite")
          .parquet(s"$p/built")
      }
      graft.streaming.UpsertIngest.readAsOf(s, path, "cust_id", asOfBatch = 0L)
        .select("cust_id", "c_acctbal", "c_mktsegment")
        .orderBy("cust_id")
    }),

    // INCREMENTAL consumption off the changelog: the per-key delta
    // between version 0 and version 1 — exactly the update batch
    // (changed rows with their new attributes + inserted keys), so a
    // downstream pipeline processes deltas instead of rescanning.
    // Shares the upsertasof index.
    "etl_upsert_changes" -> ((s, dir) => {
      import s.implicits._
      val (base, updates) = upsertFixture(s, dir)
      val path = ensureIndex(s, t(s, dir, "customer"), "upsertasof", "built") { p =>
        graft.streaming.UpsertIngest.processBatch(base, 0L, p)
        graft.streaming.UpsertIngest.processBatch(updates, 1L, p)
        Seq(2).toDF("n_batches").coalesce(1).write.mode("overwrite")
          .parquet(s"$p/built")
      }
      graft.streaming.UpsertIngest.readChanges(s, path, "cust_id",
          fromBatch = 0L, toBatch = 1L)
        .select("cust_id", "c_acctbal", "c_mktsegment")
        .orderBy("cust_id")
    }),

    // The CHANGE FEED (Delta-CDF convention): every changed key's
    // post-image tagged insert / update_postimage, plus the
    // update_preimage rows an incremental consumer retracts with. Same
    // delta-shaped plan as etl_upsert_changes; shares the upsertasof
    // index.
    "etl_upsert_cdc" -> ((s, dir) => {
      import s.implicits._
      val (base, updates) = upsertFixture(s, dir)
      val path = ensureIndex(s, t(s, dir, "customer"), "upsertasof", "built") { p =>
        graft.streaming.UpsertIngest.processBatch(base, 0L, p)
        graft.streaming.UpsertIngest.processBatch(updates, 1L, p)
        Seq(2).toDF("n_batches").coalesce(1).write.mode("overwrite")
          .parquet(s"$p/built")
      }
      graft.streaming.UpsertIngest.readChangeFeed(s, path, "cust_id",
          fromBatch = 0L, toBatch = 1L)
        .select(col("cust_id"), col("c_acctbal"), col("c_mktsegment"),
          col("_change_type").as("change_type"))
        .orderBy("cust_id", "change_type")
    }),

    // INCREMENTAL aggregate maintenance off the change feed — the CDC
    // payoff made concrete: the per-segment balance/count aggregate is
    // maintained by RETRACTION (post-images add, pre-images subtract,
    // in exact decimal) on top of the version-0 aggregate, instead of
    // rescanning the table. The oracle computes the version-1 aggregate
    // FROM SCRATCH, so a green row is the maintenance ≡ recompute
    // equivalence proof. At 100 TB this is the only sane consumption
    // shape: O(delta) rows move per refresh, never O(table).
    "etl_upsert_incr_agg" -> ((s, dir) => {
      import s.implicits._
      val (base, updates) = upsertFixture(s, dir)
      val path = ensureIndex(s, t(s, dir, "customer"), "upsertasof", "built") { p =>
        graft.streaming.UpsertIngest.processBatch(base, 0L, p)
        graft.streaming.UpsertIngest.processBatch(updates, 1L, p)
        Seq(2).toDF("n_batches").coalesce(1).write.mode("overwrite")
          .parquet(s"$p/built")
      }
      val dec = col("c_acctbal").cast("decimal(18,2)")
      val v0 = graft.streaming.UpsertIngest.readAsOf(s, path, "cust_id", 0L)
        .groupBy(col("c_mktsegment"))
        .agg(sum(dec).as("t0"), count(lit(1)).as("n0"))
      val deltas = graft.streaming.UpsertIngest
        .readChangeFeed(s, path, "cust_id", 0L, 1L)
        .select(col("c_mktsegment"),
          when(col("_change_type") === "update_preimage", -dec)
            .otherwise(dec).as("dt"),
          when(col("_change_type") === "update_preimage", lit(-1L))
            .otherwise(lit(1L)).as("dn"))
        .groupBy(col("c_mktsegment"))
        .agg(sum(col("dt")).as("dt"), sum(col("dn")).as("dn"))
      v0.join(deltas, Seq("c_mktsegment"), "full_outer")
        .select(col("c_mktsegment"),
          (coalesce(col("t0"), lit(0).cast("decimal(18,2)")) +
            coalesce(col("dt"), lit(0).cast("decimal(18,2)")))
            .cast("double").as("total_acctbal"),
          (coalesce(col("n0"), lit(0L)) + coalesce(col("dn"), lit(0L)))
            .as("n_customers"))
        .filter(col("n_customers") > 0) // a fully-vacated segment has no
                                        // row in a from-scratch recompute
        .orderBy("c_mktsegment")
    }),

    // SCD2 interval versioning: each customer's order-priority history as
    // [valid_from, valid_to) dimension rows, no-op changes collapsed —
    // the warehouse-dimension build the as-of join consumes.
    "etl_scd2" -> ((s, dir) => {
      val changes = t(s, dir, "orders")
        .select(col("o_custkey").cast("bigint").as("cust_id"),
          col("o_orderdate").as("ts"), col("o_orderkey").as("tie"),
          col("o_orderpriority").as("priority"))
      graft.operators.Scd.scd2(changes, "cust_id", "ts",
          attrCols = Seq("priority"), tieCols = Seq("tie"))
        .select(col("cust_id"), col("priority"),
          date_format(col("valid_from"), "yyyy-MM-dd").as("valid_from"),
          date_format(col("valid_to"), "yyyy-MM-dd").as("valid_to"),
          col("is_current"))
        // valid_to keeps the sort total when a key changes priority twice
        // on one date (pa → pb → pa ties on the first three columns)
        .orderBy("cust_id", "valid_from", "priority", "valid_to")
    }),

    // OHLC downsampling: per (type, hour) the first/last values in event
    // order plus the extremes — the time-series compaction a metrics
    // store applies before retention. One exchange (the per-bucket
    // window); first/last are exact row values picked by (ts, event_id)
    // order, so no float arithmetic is introduced at all.
    "events_ohlc" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("event_type"), date_trunc("hour", col("ts")).as("h"),
          col("ts"), col("event_id"), col("value"))
      val wAsc = Window.partitionBy(col("event_type"), col("h"))
        .orderBy(col("ts"), col("event_id"))
      val wDesc = Window.partitionBy(col("event_type"), col("h"))
        .orderBy(col("ts").desc, col("event_id").desc)
      ev.withColumn("rn_a", row_number().over(wAsc))
        .withColumn("rn_d", row_number().over(wDesc))
        .groupBy(col("event_type"), col("h"))
        .agg(max(when(col("rn_a") === 1, col("value"))).as("open"),
          max(col("value")).as("high"),
          min(col("value")).as("low"),
          max(when(col("rn_d") === 1, col("value"))).as("close"),
          count(lit(1)).as("n"))
        .select(col("event_type"), fmt(col("h")).as("hour"), col("open"),
          col("high"), col("low"), col("close"), col("n"))
        .orderBy("event_type", "hour")
    }),

    // TPC-H-Q5-shaped star join: revenue per nation through the full
    // customer→orders→lineitem→supplier chain with the local-supplier
    // condition (c_nationkey = s_nationkey) and dim filters. The two fact
    // joins shuffle on their keys; customer/supplier/nation/region
    // broadcast; revenue sums as DECIMAL (order-free exact).
    "j_star_revenue" -> ((s, dir) => {
      val cust = t(s, dir, "customer")
      val ord = t(s, dir, "orders")
        .filter(col("o_orderdate") >= "1994-01-01" && col("o_orderdate") < "1997-01-01")
      val li = t(s, dir, "lineitem")
      val supp = t(s, dir, "supplier")
      val nat = t(s, dir, "nation")
      val reg = t(s, dir, "region").filter(col("r_name") =!= "EUROPE")
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .join(broadcast(supp), col("l_suppkey") === col("s_suppkey")
          && col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .cast("decimal(18,4)")).cast("double").as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("n_name")
    }),

    // Multi-granularity reporting in ONE pass: rollup(event_type, day)
    // yields per-(type, day), per-type and grand-total rows from a single
    // aggregation (Expand), not three scans. grouping_id disambiguates
    // the null-key levels.
    "events_rollup" -> ((s, dir) => {
      t(s, dir, "events")
        .select(col("event_type"), to_date(col("ts")).as("day"),
          col("value"))
        .rollup(col("event_type"), col("day"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"),
          grouping_id().cast("bigint").as("gid"))
        .select(coalesce(col("event_type"), lit("ALL")).as("event_type"),
          coalesce(date_format(col("day"), "yyyy-MM-dd"), lit("ALL")).as("day"),
          col("n"), col("total_value"), col("gid"))
        .orderBy("gid", "event_type", "day")
    }),

    // Wide-format pivot: per-source language histogram as columns — one
    // groupBy with conditional aggregates (what .pivot plans), never a
    // per-language scan.
    "a_pivot_langs" -> ((s, dir) => {
      t(s, dir, "documents")
        .groupBy(col("source"))
        .pivot("lang", Seq("de", "en", "es", "fr", "zh"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy("source")
    }),

    // Lee-et-al-style duplicated-span cut lists: positions whose corpus
    // 4-gram repeats, merged into maximal per-doc runs ≥ 8 tokens — the
    // spans an exact-substring-dedup rewrite removes.
    "text_span_cuts" -> ((s, dir) => {
      sortOnce(Curation.duplicatedSpanCuts(t(s, dir, "documents"), "text", "doc_id"),
        col("doc_id"), col("start_pos"))
    }),

    // The rewrite half: corpus with every ≥8-token duplicated span removed
    // (docs without cuts pass through verbatim). Oracled end-to-end — the
    // DuckDB replay rebuilds the cut lists and filters token positions
    // with a correlated NOT EXISTS.
    "text_span_rewrite" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val cuts = Curation.duplicatedSpanCuts(docs, "text", "doc_id")
      sortOnce(Curation.applySpanCuts(docs, "text", "doc_id", cuts),
        col("doc_id"))
    }),

    // Bucketized range join: events against keyed campaign windows (per
    // event_type, 5 weekly windows of 3 days). The bin equi-join replaces
    // the quadratic per-key pairing a raw BETWEEN join plans; the oracle
    // is DuckDB's plain BETWEEN join — green row = the binning dropped
    // and duplicated nothing.
    "events_range_join" -> ((s, dir) => {
      val base = lit(java.time.LocalDate.parse("2024-01-01")
        .atStartOfDay(java.time.ZoneOffset.UTC).toInstant.toEpochMilli * 1000L)
      val day = 86400000000L
      val pts = t(s, dir, "events")
        .select(col("event_id"), col("event_type"),
          unix_micros(col("ts")).as("tsu"), col("value"))
      val iv = t(s, dir, "events").select(col("event_type")).distinct()
        .withColumn("week", explode(sequence(lit(0L), lit(4L))))
        .select(col("event_type"), col("week"),
          (base + col("week") * lit(7L * day)).as("w_start"))
        .withColumn("w_end", col("w_start") + lit(3L * day))
      RangeJoin.binnedRangeJoin(pts, iv, "tsu", "w_start", "w_end",
          binWidth = day, keys = Seq("event_type"))
        .groupBy(col("event_type"), col("week"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
        .orderBy("event_type", "week")
    }),

    // Blocked fuzzy record linkage: within-block (first-two-token key)
    // document-prefix pairs gated at partial_ratio ≥ 80 — the ER blocking
    // pattern; candidates are an equi-join, never all-pairs. Fully
    // oracled: DuckDB replays the block join and the windowed Levenshtein.
    "er_fuzzy_pairs" -> ((s, dir) => {
      val recs = t(s, dir, "documents")
        .select(col("doc_id").as("rec_id"),
          substring(col("text"), 1, 48).as("name"))
      graft.operators.EntityResolution.blockedFuzzyPairs(recs, "rec_id",
          "name", substring_index(col("name"), " ", 2), threshold = 80)
        .orderBy("id_a", "id_b")
    }),

    // Diversity-aware re-ranking: MMR over the brute-force top-20
    // shortlist — near-duplicates of an already-picked result are
    // demoted by the max-similarity penalty. Fully oracled: DuckDB
    // replays the greedy selection as a recursive CTE.
    "ann_mmr_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(pmod(col("vec_id"), lit(100)) === 7)
      val cand = Similarity.bruteForceTopK(emb, q, k = 20)
        .select(col("query_id"), col("neighbor_id").as("doc_id"),
          col("sim").as("rel"))
        .join(emb.select(col("vec_id").as("doc_id"),
          col("embedding").cast("array<double>").as("vec")), Seq("doc_id"))
      Retrieval.mmrRerank(cand, k = 10)
        .orderBy("query_id", "rank")
    }),

    // CCNet head/middle/tail perplexity buckets over the corpus-trained
    // unigram LM score — tercile cut points as a broadcast scalar, never a
    // global ntile window.
    "curation_ccnet_buckets" -> ((s, dir) => {
      Curation.ccnetBuckets(t(s, dir, "documents"), "text", "doc_id")
        .orderBy("doc_id")
    }),

    // DSIR importance weights: hashed-bigram log-likelihood ratio of the
    // English-labeled target slice vs the raw corpus, deterministic top-20%
    // selection. Fully oracled — DuckDB replays hashing, smoothing, decimal
    // sums and the percentile threshold.
    "curation_dsir" -> ((s, dir) => {
      Curation.dsirLogWeights(t(s, dir, "documents"), "text", "doc_id",
          isTarget = col("lang") === "en")
        .orderBy("doc_id")
    }),

    // Cluster-balanced subsample from the persisted IVF centroids: per-cell
    // cap in hash order — the semantic-diversity curation pass. Replayed
    // row-for-row from the same centroid table the ANN queries use.
    "curation_cluster_balance" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val path = ensureIndex(s, emb, "ivf", "centroids") { p =>
        Similarity.writeIvfCentroids(emb, p, nCells = 8)
      }
      Similarity.clusterBalancedSample(path, emb, cap = 40)
        .orderBy("vec_id")
    }),

    // Exact length quantiles per source — the corpus-profiling stat a
    // curation pass thresholds against (exact interpolated percentile;
    // DuckDB's quantile_cont has the same definition). Scale note: exact
    // percentile buffers each group's values — fine for per-source groups
    // of profile stats; at extreme group sizes swap to approx_percentile
    // (t-digest sketch, mergeable, bounded memory) and drop the oracle to
    // a bound check like approx_distinct_users.
    "text_length_quantiles" -> ((s, dir) => {
      t(s, dir, "documents")
        .groupBy(col("source"))
        .agg(
          round(expr("percentile(n_chars, 0.5)"), 4).as("p50"),
          round(expr("percentile(n_chars, 0.9)"), 4).as("p90"),
          round(expr("percentile(n_chars, 0.99)"), 4).as("p99"),
          count(lit(1)).as("n_docs"))
        .orderBy("source")
    }),

    // Incremental dedup: the src0 shard plays the "new batch" arriving
    // against the rest of the corpus — exact content-hash flag + capped
    // shingle-overlap near-dup flag per new doc.
    // Split-leakage audit — the eval-contamination check a training
    // pipeline runs AT SPLIT TIME: near-duplicate pairs (banded MinHash +
    // exact verify, the dedup_minhash kernel) that straddle the
    // deterministic stratified train/val/test split. Any row here means an
    // eval document has a near-copy in train — the within-pipeline twin of
    // dedup_contamination's external-benchmark check. Composition of two
    // already-oracled kernels, replayed end-to-end by the composed oracle.
    "curation_split_leakage" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val split = Curation.stratifiedSplit(docs, "doc_id", "source",
          testFrac = 0.1, valFrac = 0.1)
        .select(col("doc_id"), col("split"))
      val pairs = Dedup.minhashBandedPairs(docs, "text", "doc_id",
        n = 3, threshold = 0.7)
      pairs
        .join(split.select(col("doc_id").as("doc_a"), col("split").as("split_a")), "doc_a")
        .join(split.select(col("doc_id").as("doc_b"), col("split").as("split_b")), "doc_b")
        .filter(col("split_a") =!= col("split_b"))
        .select(col("doc_a"), col("doc_b"), col("split_a"), col("split_b"),
          col("jaccard"))
        .orderBy("doc_a", "doc_b")
    }),

    // The FIX for what the leakage audit finds: split decided per near-dup
    // CLUSTER (hash of cluster_id), so duplicate families are indivisible
    // across train/val/test — leakage-free by construction, the group-aware
    // split production corpus builds use. CurationSpec pins the invariant;
    // the oracle replays clusters (recursive CTE) + the portable hash cut.
    "curation_split_grouped" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.minhashBandedPairs(docs, "text", "doc_id",
        n = 3, threshold = 0.7)
      val assign = Dedup.clusterAssignments(docs, "doc_id", pairs)
        .select(col("doc_id"), col("cluster_id"))
      sortOnce(Curation.groupAwareSplit(assign, testFrac = 0.1, valFrac = 0.1),
        col("doc_id"))
    }),

    "dedup_incremental" -> ((s, dir) => {
      val docs = docsWithNullTextFixture(t(s, dir, "documents"))
      Dedup.incrementalDedupFlags(
          docs.filter(col("source") === "src0"),
          docs.filter(col("source") =!= "src0"),
          "text", "doc_id", n = 3, minShared = 10)
        .orderBy("doc_id")
    }),

    // Same computation through the bloom-prefiltered exact arm (Spark's
    // internal BloomFilterMightContain over a corpus-hash sketch): the
    // batch side of the digest semi-join shrinks to dups + fpp before the
    // shuffle. Same oracle as dedup_incremental — green = equivalent.
    "dedup_incremental_bloom" -> ((s, dir) => {
      val docs = docsWithNullTextFixture(t(s, dir, "documents"))
      Dedup.incrementalDedupFlags(
          docs.filter(col("source") === "src0"),
          docs.filter(col("source") =!= "src0"),
          "text", "doc_id", n = 3, minShared = 10, bloomFpp = Some(0.01))
        .orderBy("doc_id")
    }),

    // Source-mixture sampling: 20k-token budget split across sources by an
    // integer weight derived from the source name (stand-in for a curated
    // weights table); big-share sources exercise the keep-whole cap at
    // sf0.01, small-share ones the hash downsample.
    "curation_mix" -> ((s, dir) => {
      Curation.sourceMix(t(s, dir, "documents"), "text", "doc_id", "source",
          weight = substring(col("source"), 4, 10).cast("int") % 4 + 1,
          tokenBudget = 20000L)
        .orderBy("doc_id")
    }),

    // Source upsampling (the repeat pass for tail sources): each doc
    // emitted (source-derived) 1-3 times with an epoch column. Map-only
    // row explosion, no shuffle.
    "curation_upsample" -> ((s, dir) => {
      Curation.upsampleRepeats(
          t(s, dir, "documents").select(col("doc_id"), col("source")),
          repeats = substring(col("source"), 4, 10).cast("int") % 3 + 1)
        .select(col("doc_id"), col("source"), col("epoch").cast("bigint"))
        .orderBy("doc_id", "epoch")
    }),

    // Temperature-2 source mixing: weights derived from the corpus itself
    // (⌊√tokens_s⌋ — integer-exact sum, IEEE-exact sqrt, so the kept set
    // is bit-reproducible; other temperatures would need cross-libm pow).
    "curation_mix_temp" -> ((s, dir) => {
      Curation.sourceMixTemperature2(t(s, dir, "documents"), "text", "doc_id",
          "source", tokenBudget = 10000L)
        .orderBy("doc_id")
    }),

    // Distinctive keywords: top-3 tokens per doc by tf, df-capped at 80%
    // of the corpus (integer-exact tf-idf shape; the harness corpus has a
    // deliberately tiny common vocabulary, so 50% would keep ~1 token).
    "text_keywords" -> ((s, dir) => {
      Curation.distinctiveKeywords(t(s, dir, "documents"), "text", "doc_id",
          k = 3, maxDfFrac = 0.8)
        .orderBy("doc_id", "rank")
    }),

    // Same keywords through the bounded SmallestK heap aggregate (map-side
    // partial top-k, no per-group sort) — same oracle as text_keywords, so
    // the driver's green row proves the aggregate agrees with the window.
    "text_keywords_topk" -> ((s, dir) => {
      Curation.distinctiveKeywordsViaTopKAgg(t(s, dir, "documents"), "text", "doc_id",
          k = 3, maxDfFrac = 0.8)
        .orderBy("doc_id", "rank")
    })
  )

  // -------------------------------------------------------------- oracleSql

  /** Shared by `curation_source_cap` (row_number window) and
    * `curation_cap_topk` (bounded smallest_k heap): same (hash, id) total
    * order, so one oracle checks both — the green pair is the equivalence
    * proof.
    */
  /** Replay oracle for the persisted-centroid IVF searches: assignments
    * are recomputed as a pure function of the live embeddings × the
    * persisted centroids, probed (cr ≤ 4), scored and top-5-cut exactly
    * as ivfSearch does. Shared by `ann_ivf_topk` and (with the `ivfpart`
    * glob) `ann_ivf_pruned` — the partitioned layout changes WHERE the
    * vectors live, not what the search returns.
    */
  private val ivfTopkOracle: String =
    """WITH cent AS (
      |  SELECT cell, centroid
      |  FROM read_parquet('/tmp/graft_ann_index/ivf/*/centroids/*.parquet')
      |  WHERE n_corpus = (SELECT count(*) FROM embeddings)),
      |v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      |d AS (SELECT vec_id, cell,
      |        list_inner_product(centroid, centroid)
      |          - 2.0 * list_inner_product(e, centroid) AS d2
      |      FROM v, cent),
      |ranked AS (SELECT vec_id, cell,
      |             row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS cr
      |           FROM d),
      |cells AS (SELECT r.vec_id AS neighbor_id, v.e AS nvec, r.cell
      |          FROM ranked r JOIN v USING (vec_id) WHERE cr = 1),
      |probes AS (SELECT r.vec_id AS query_id, v.e AS qvec, r.cell
      |           FROM ranked r JOIN v USING (vec_id)
      |           WHERE cr <= 4 AND r.vec_id < 10),
      |scored AS (SELECT query_id, neighbor_id,
      |             round(list_cosine_similarity(qvec, nvec), 4) AS sim
      |           FROM cells JOIN probes USING (cell)
      |           WHERE neighbor_id <> query_id)
      |SELECT query_id, rn AS rank, neighbor_id, sim
      |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
      |        ORDER BY sim DESC, neighbor_id) AS rn FROM scored)
      |WHERE rn <= 5 ORDER BY query_id, rank""".stripMargin

  /** Replay oracle for the persisted IVF-PQ searches: assignments replay
    * from the centroids table, ADC lookup tables from the codebooks, ADC
    * scores from the codes table, and the exact re-rank from the live
    * embeddings — row-identical to ivfPqSearch. Shared by
    * `ann_ivfpq_topk` and (with the `ivfpqpart32` globs) `ann_ivfpq_pruned`.
    */
  private val ivfPqTopkOracle: String =
    """WITH nn AS (SELECT count(*) AS n FROM embeddings),
      |cent AS (
      |  SELECT cell, centroid
      |  FROM read_parquet('/tmp/graft_ann_index/ivf/*/centroids/*.parquet')
      |  WHERE n_corpus = (SELECT n FROM nn)),
      |books AS (
      |  SELECT subspace, centroid_id, centroid
      |  FROM read_parquet('/tmp/graft_ann_index/pq32/*/codebooks/*.parquet')
      |  WHERE n_corpus = (SELECT n FROM nn)),
      |codes AS (
      |  SELECT * FROM read_parquet('/tmp/graft_ann_index/pq32/*/codes/*.parquet')
      |  WHERE n_corpus = (SELECT n FROM nn)),
      |v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      |d AS (SELECT vec_id, cell,
      |        list_inner_product(centroid, centroid)
      |          - 2.0 * list_inner_product(e, centroid) AS d2
      |      FROM v, cent),
      |ranked AS (SELECT vec_id, cell,
      |             row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS cr
      |           FROM d),
      |nv AS (SELECT vec_id,
      |         CASE WHEN nrm > 0 THEN list_transform(e, x -> x / nrm) ELSE e END AS nvec
      |       FROM (SELECT vec_id, e,
      |               sqrt(list_inner_product(e, e)) AS nrm FROM v)),
      |cells AS (SELECT vec_id AS neighbor_id, cell FROM ranked WHERE cr = 1),
      |probes AS (SELECT r.vec_id AS query_id, n.nvec AS qv, r.cell
      |           FROM ranked r JOIN nv n USING (vec_id)
      |           WHERE cr <= 6 AND r.vec_id < 10),
      |qt AS (SELECT DISTINCT p.query_id, b.subspace, b.centroid_id,
      |         list_inner_product(p.qv[(b.subspace * 8 + 1):(b.subspace * 8 + 8)],
      |                            b.centroid) AS t
      |       FROM probes p, books b),
      |scored AS (
      |  SELECT p.query_id, c.neighbor_id,
      |    round(t0.t + t1.t + t2.t + t3.t + t4.t + t5.t + t6.t + t7.t, 4) AS adc
      |  FROM codes c
      |  JOIN cells ce ON c.neighbor_id = ce.neighbor_id
      |  JOIN probes p ON ce.cell = p.cell
      |  JOIN qt t0 ON t0.query_id = p.query_id AND t0.subspace = 0 AND t0.centroid_id = c.code_0 - 1
      |  JOIN qt t1 ON t1.query_id = p.query_id AND t1.subspace = 1 AND t1.centroid_id = c.code_1 - 1
      |  JOIN qt t2 ON t2.query_id = p.query_id AND t2.subspace = 2 AND t2.centroid_id = c.code_2 - 1
      |  JOIN qt t3 ON t3.query_id = p.query_id AND t3.subspace = 3 AND t3.centroid_id = c.code_3 - 1
      |  JOIN qt t4 ON t4.query_id = p.query_id AND t4.subspace = 4 AND t4.centroid_id = c.code_4 - 1
      |  JOIN qt t5 ON t5.query_id = p.query_id AND t5.subspace = 5 AND t5.centroid_id = c.code_5 - 1
      |  JOIN qt t6 ON t6.query_id = p.query_id AND t6.subspace = 6 AND t6.centroid_id = c.code_6 - 1
      |  JOIN qt t7 ON t7.query_id = p.query_id AND t7.subspace = 7 AND t7.centroid_id = c.code_7 - 1
      |  WHERE c.neighbor_id <> p.query_id),
      |short AS (SELECT query_id, neighbor_id FROM
      |  (SELECT *, row_number() OVER (PARTITION BY query_id
      |     ORDER BY adc DESC, neighbor_id) AS rn FROM scored)
      |  WHERE rn <= 160),
      |rescored AS (SELECT s.query_id, s.neighbor_id,
      |    round(list_inner_product(q.nvec, n.nvec), 4) AS sim
      |  FROM short s
      |  JOIN nv n ON s.neighbor_id = n.vec_id
      |  JOIN nv q ON s.query_id = q.vec_id)
      |SELECT query_id, rn AS rank, neighbor_id, sim
      |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
      |        ORDER BY sim DESC, neighbor_id) AS rn FROM rescored)
      |WHERE rn <= 5 ORDER BY query_id, rank""".stripMargin

  private val bm25TopkOracle: String =
    """WITH posts AS (
      |  SELECT token, doc_id, tf
      |  FROM read_parquet('/tmp/graft_ann_index/bm25/*/postings/*.parquet')
      |  WHERE n_corpus = (SELECT count(*) FROM documents)),
      |lens AS (
      |  SELECT doc_id, dl
      |  FROM read_parquet('/tmp/graft_ann_index/bm25/*/doclens/*.parquet')
      |  WHERE n_corpus = (SELECT count(*) FROM documents)),
      |stats AS (SELECT count(*) AS n_docs,
      |            CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM lens),
      |dfs AS (SELECT token, count(*) AS df FROM posts GROUP BY 1),
      |q AS (SELECT doc_id AS query_id,
      |        list_distinct(list_slice(string_split(lower(trim(text)), ' '), 1, 8)) AS qt
      |      FROM documents WHERE doc_id % 100 = 7),
      |qterms AS (SELECT query_id, unnest(qt) AS token FROM q),
      |scored AS (
      |  SELECT qt.query_id, p.doc_id,
      |    sum(CAST(round(
      |      ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
      |      * (p.tf * 2.5 / (p.tf + 1.5 * (0.25 + 0.75 * l.dl / s.avgdl))),
      |      6) AS DECIMAL(18,6))) AS sc
      |  FROM posts p
      |  JOIN qterms qt USING (token)
      |  JOIN dfs d USING (token)
      |  JOIN lens l ON p.doc_id = l.doc_id
      |  CROSS JOIN stats s
      |  GROUP BY 1, 2)
      |SELECT query_id, rn AS rank, doc_id, CAST(sc AS DOUBLE) AS score
      |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
      |        ORDER BY sc DESC, doc_id) AS rn FROM scored)
      |WHERE rn <= 10 ORDER BY query_id, rank""".stripMargin

  // shared by dedup_clusters AND dedup_clusters_incremental: the oracle
  // recomputes the >= 0.7 Jaccard pairs brute-force and closes them
  // transitively with a recursive CTE — the incremental fold must land on
  // exactly this from-scratch answer
  private val dedupClustersOracle: String =
    """WITH RECURSIVE toks AS (
      |  SELECT doc_id,
      |    list_filter(string_split(regexp_replace(lower(text), '[^a-z\- ]', ' ', 'g'), ' '),
      |                x -> len(x) > 1) AS toks
      |  FROM documents),
      |sh AS (
      |  SELECT doc_id,
      |    list_distinct(list_transform(generate_series(1, len(toks) - 2),
      |                  i -> array_to_string(list_slice(toks, i, i + 2), ' '))) AS shingles
      |  FROM toks WHERE len(toks) >= 3),
      |ex AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
      |sizes AS (SELECT doc_id, len(shingles) AS n_sh FROM sh),
      |inter AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
      |  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  GROUP BY 1,2),
      |pairs AS (
      |  SELECT doc_a, doc_b FROM inter
      |  JOIN sizes sa ON sa.doc_id = doc_a
      |  JOIN sizes sb ON sb.doc_id = doc_b
      |  WHERE n_inter * 1.0 / (sa.n_sh + sb.n_sh - n_inter) >= 0.7),
      |edges AS (
      |  SELECT doc_a AS a, doc_b AS b FROM pairs
      |  UNION ALL SELECT doc_b, doc_a FROM pairs),
      |reach(a, b) AS (
      |  SELECT a, b FROM edges
      |  UNION
      |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
      |labels AS (
      |  SELECT a AS doc_id, least(a, min(b)) AS cluster_id FROM reach GROUP BY a),
      |lab AS (
      |  SELECT d.doc_id, coalesce(l.cluster_id, d.doc_id) AS cluster_id
      |  FROM documents d LEFT JOIN labels l ON l.doc_id = d.doc_id),
      |csizes AS (SELECT cluster_id, count(*) AS cluster_size FROM lab GROUP BY 1)
      |SELECT lab.doc_id, lab.cluster_id, csizes.cluster_size,
      |  lab.doc_id = lab.cluster_id AS is_keeper
      |FROM lab JOIN csizes USING (cluster_id)
      |ORDER BY lab.doc_id""".stripMargin

  // shared by etl_upsert AND etl_upsert_streamed: the changelog resolve
  // must reproduce the copy-on-write merge exactly
  private val etlUpsertOracle: String =
    """WITH base AS (
      |  SELECT CAST(c_custkey AS BIGINT) AS cust_id, c_acctbal, c_mktsegment
      |  FROM customer),
      |up AS (
      |  SELECT CAST(c_custkey AS BIGINT) AS cust_id,
      |    c_acctbal + 1000.0 AS c_acctbal, 'UPSERTED' AS c_mktsegment
      |  FROM customer WHERE c_custkey % 10 = 3
      |  UNION ALL
      |  SELECT CAST(c_custkey + 1000000 AS BIGINT), c_acctbal, 'INSERTED'
      |  FROM customer WHERE c_custkey % 100 = 7),
      |m AS (
      |  SELECT b.* FROM base b
      |  WHERE NOT EXISTS (SELECT 1 FROM up u WHERE u.cust_id = b.cust_id)
      |  UNION ALL SELECT * FROM up)
      |SELECT * FROM m ORDER BY cust_id""".stripMargin

  // shared by events_wau AND events_wau_streamed: trailing-7-day WAU from
  // the same distinct (user, day) set the activity table accumulates
  private val eventsWauOracle: String =
    """WITH d AS (SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events),
      |s AS (
      |  SELECT user_id,
      |    unnest(generate_series(day, day + INTERVAL 6 DAY, INTERVAL 1 DAY))
      |      AS report_day
      |  FROM d),
      |o AS (SELECT DISTINCT day AS report_day FROM d)
      |SELECT epoch_us(s.report_day) AS day_us,
      |  count(DISTINCT s.user_id) AS wau
      |FROM s JOIN o ON s.report_day = o.report_day
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // shared by events_retention AND events_retention_streamed: week
  // cohorts are invariant to day truncation, so the activity-set replay
  // must land on these exact numbers
  private val eventsRetentionOracle: String =
    """WITH f AS (SELECT user_id, min(ts) AS first_ts FROM events GROUP BY 1),
      |co AS (SELECT user_id, date_trunc('week', first_ts) AS cw FROM f),
      |a AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS aw FROM events)
      |SELECT epoch_us(co.cw) AS cohort_week_us,
      |  (epoch_us(a.aw) - epoch_us(co.cw)) // 604800000000 AS week_offset,
      |  count(DISTINCT a.user_id) AS n_users
      |FROM a JOIN co ON a.user_id = co.user_id
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // shared by events_dau AND events_dau_streamed: the streamed activity
  // set (distinct user-day pairs) must reproduce these numbers exactly
  private val eventsDauOracle: String =
    """WITH d AS (SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events),
      |dau AS (SELECT day, count(*) AS dau FROM d GROUP BY 1),
      |f AS (SELECT user_id, min(day) AS day FROM d GROUP BY 1),
      |nu AS (SELECT day, count(*) AS new_users FROM f GROUP BY 1)
      |SELECT epoch_us(dau.day) AS day_us, dau.dau,
      |  coalesce(nu.new_users, 0) AS new_users,
      |  CAST(sum(coalesce(nu.new_users, 0)) OVER (ORDER BY dau.day
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_users
      |FROM dau LEFT JOIN nu ON dau.day = nu.day
      |ORDER BY day_us""".stripMargin

  // shared by events_hourly AND events_hourly_streamed: the streamed
  // accumulation (EventIngest partials) must merge to exactly this
  private val eventsHourlyOracle: String =
    """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
      |  event_type, count(*) AS n,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM events GROUP BY 1,2 ORDER BY 1,2""".stripMargin

  // Replay of synthesizePhashImages' md5 pixel formula over the 9x8 grid
  // — the shared head of every image-pipeline oracle (dHash signatures
  // AND histogram features re-derive from these same pixels).
  private val phashPxSql: String =
    """WITH px AS (
      |  SELECT d.doc_id, xs.x, ys.y,
      |    (CAST(concat('0x', substr(md5(concat(d.doc_id // 4, '_', xs.x, '_', ys.y)), 1, 2)) AS BIGINT)
      |     + CASE WHEN d.doc_id % 4 > 0 AND xs.x = d.doc_id % 4 AND ys.y = d.doc_id % 4
      |            THEN (d.doc_id % 4) * 3 ELSE 0 END) % 256 AS p
      |  FROM documents d, generate_series(0, 8) xs(x), generate_series(0, 7) ys(y))""".stripMargin

  // ... then fold the 64 adjacent-pixel comparison bits into the
  // (hash_hi, hash_lo) 32-bit words exactly as Multimodal.imageDHash
  // packs them.
  private val phashSigsSql: String = phashPxSql +
    """,
      |bits AS (
      |  SELECT a.doc_id, a.x, a.y, CASE WHEN b.p > a.p THEN 1 ELSE 0 END AS bit
      |  FROM px a JOIN px b ON b.doc_id = a.doc_id AND b.y = a.y AND b.x = a.x + 1
      |  WHERE a.x < 8),
      |sigs AS (
      |  SELECT doc_id,
      |    CAST(SUM(CASE WHEN y >= 4 THEN CAST(bit AS BIGINT) << ((y - 4) * 8 + x) ELSE 0 END) AS BIGINT) AS hash_hi,
      |    CAST(SUM(CASE WHEN y < 4 THEN CAST(bit AS BIGINT) << (y * 8 + x) ELSE 0 END) AS BIGINT) AS hash_lo
      |  FROM bits GROUP BY doc_id)""".stripMargin

  /** Brute-force cosine top-5 over histogram vectors re-derived from the
    * replayed pixels — shared by `ann_image_topk` (the labeled brute
    * baseline) and `ann_image_streamed` (exhaustive-probe search over the
    * streamed accumulation, which must equal brute force).
    */
  private val imageBruteTopkOracle: String = (phashPxSql +
      """,
        |hist AS (SELECT doc_id, p // 16 AS bin, count(*) AS n FROM px GROUP BY 1, 2),
        |bins AS (SELECT b FROM generate_series(0, 15) t(b)),
        |vecs AS (
        |  SELECT d.doc_id, list(CAST(coalesce(h.n, 0) AS DOUBLE) ORDER BY b.b) AS v
        |  FROM documents d CROSS JOIN bins b
        |  LEFT JOIN hist h ON h.doc_id = d.doc_id AND h.bin = b.b
        |  GROUP BY d.doc_id),
        |q AS (SELECT * FROM vecs WHERE doc_id < 10),
        |scored AS (
        |  SELECT q.doc_id AS query_id, c.doc_id AS neighbor_id,
        |    round(list_cosine_similarity(q.v, c.v), 4) AS sim
        |  FROM q, vecs c WHERE c.doc_id <> q.doc_id)
        |SELECT query_id, rn AS rank, neighbor_id, sim
        |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
        |        ORDER BY sim DESC, neighbor_id) AS rn FROM scored)
        |WHERE rn <= 5 ORDER BY query_id, rank""".stripMargin)

  /** The ivfTopkOracle shape over histogram vectors re-derived from the
    * replayed pixels — shared by `ann_image_ivf` (flat centroids index)
    * and, with the ivfimgpart glob, `ann_image_pruned` (cell-partitioned
    * layout): centroids read from the persisted index, assignment (cr=1)
    * and probes (cr<=4) replayed by squared-L2 rank, cosine over the
    * probed cells — row-for-row the Spark IVF search.
    */
  private val imageIvfOracle: String = (phashPxSql +
      """,
        |hist AS (SELECT doc_id, p // 16 AS bin, count(*) AS n FROM px GROUP BY 1, 2),
        |bins AS (SELECT b FROM generate_series(0, 15) t(b)),
        |vecs AS (
        |  SELECT d.doc_id AS vec_id, list(CAST(coalesce(h.n, 0) AS DOUBLE) ORDER BY b.b) AS e
        |  FROM documents d CROSS JOIN bins b
        |  LEFT JOIN hist h ON h.doc_id = d.doc_id AND h.bin = b.b
        |  GROUP BY d.doc_id),
        |cent AS (
        |  SELECT cell, centroid
        |  FROM read_parquet('/tmp/graft_ann_index/ivfimg/*/centroids/*.parquet')
        |  WHERE n_corpus = (SELECT count(*) FROM documents)),
        |d AS (SELECT vec_id, cell,
        |        list_inner_product(centroid, centroid)
        |          - 2.0 * list_inner_product(e, centroid) AS d2
        |      FROM vecs, cent),
        |ranked AS (SELECT vec_id, cell,
        |             row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS cr
        |           FROM d),
        |cells AS (SELECT r.vec_id AS neighbor_id, v.e AS nvec, r.cell
        |          FROM ranked r JOIN vecs v USING (vec_id) WHERE cr = 1),
        |probes AS (SELECT r.vec_id AS query_id, v.e AS qvec, r.cell
        |           FROM ranked r JOIN vecs v USING (vec_id)
        |           WHERE cr <= 4 AND r.vec_id < 10),
        |scored AS (SELECT query_id, neighbor_id,
        |             round(list_cosine_similarity(qvec, nvec), 4) AS sim
        |           FROM cells JOIN probes USING (cell)
        |           WHERE neighbor_id <> query_id)
        |SELECT query_id, rn AS rank, neighbor_id, sim
        |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
        |        ORDER BY sim DESC, neighbor_id) AS rn FROM scored)
        |WHERE rn <= 5 ORDER BY query_id, rank""".stripMargin)

  /** From-scratch recursive-CTE closure of the replayed dHash pair set —
    * shared by `dedup_phash_clusters` (one-shot CC) and
    * `dedup_phash_clusters_incremental` (previous labels + batch-touching
    * pairs), so the incremental row doubles as an equivalence proof.
    */
  private val phashClustersOracle: String = ("WITH RECURSIVE " +
      phashSigsSql.stripPrefix("WITH ") +
      """,
        |pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
        |  WHERE bit_count(xor(a.hash_hi, b.hash_hi)) +
        |        bit_count(xor(a.hash_lo, b.hash_lo)) <= 3),
        |edges AS (
        |  SELECT doc_a AS a, doc_b AS b FROM pairs
        |  UNION ALL SELECT doc_b, doc_a FROM pairs),
        |reach(a, b) AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
        |labels AS (
        |  SELECT a AS doc_id, least(a, min(b)) AS cluster_id FROM reach GROUP BY a),
        |lab AS (
        |  SELECT d.doc_id, coalesce(l.cluster_id, d.doc_id) AS cluster_id
        |  FROM documents d LEFT JOIN labels l ON l.doc_id = d.doc_id),
        |csizes AS (SELECT cluster_id, count(*) AS cluster_size FROM lab GROUP BY 1)
        |SELECT lab.doc_id, lab.cluster_id, csizes.cluster_size,
        |  lab.doc_id = lab.cluster_id AS is_keeper
        |FROM lab JOIN csizes USING (cluster_id)
        |ORDER BY lab.doc_id""".stripMargin)

  /** Brute-force ALL hamming-≤3 pairs from the replayed dHash signatures —
    * shared by `dedup_phash_pairs` (the one-shot banded computation) and
    * `dedup_phash_streamed` (the accumulated per-batch appends of the
    * streamed signature-index ingest), so one green row per variant proves
    * both the banding's pigeonhole completeness and the stream's
    * no-loss/no-double-emit accumulation.
    */
  private val phashPairsOracle: String = phashSigsSql +
    """
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |  CAST(bit_count(xor(a.hash_hi, b.hash_hi)) +
      |       bit_count(xor(a.hash_lo, b.hash_lo)) AS BIGINT) AS hamming
      |FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
      |WHERE bit_count(xor(a.hash_hi, b.hash_hi)) +
      |      bit_count(xor(a.hash_lo, b.hash_lo)) <= 3
      |ORDER BY doc_a, doc_b""".stripMargin

  private val partialRatioOracle: String =
    """WITH pref AS (SELECT doc_id, substr(text,1,40) AS s FROM documents),
      |win AS (SELECT doc_id,
      |    round(100*(1.0 - levenshtein('spark table join filter', substr(s, i, 23))*1.0/23)) AS r
      |  FROM pref, generate_series(1, 18) AS t(i))
      |SELECT doc_id, CAST(max(r) AS INTEGER) AS score FROM win GROUP BY doc_id ORDER BY doc_id""".stripMargin

  private val tokenTotalsOracle: String =
    """SELECT source,
      |  CAST(sum(len(string_split(trim(text), ' '))) AS BIGINT) AS total_tokens,
      |  count(*) AS n_docs
      |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin

  private val sourceCapOracle: String =
    """WITH ranked AS (
      |  SELECT doc_id, source,
      |    row_number() OVER (PARTITION BY source
      |      ORDER BY CAST(concat('0x', substr(md5(doc_id::VARCHAR), 1, 15)) AS BIGINT)
      |                 / 1152921504606846976.0, doc_id) AS sample_rank
      |  FROM documents)
      |SELECT doc_id, source, sample_rank
      |FROM ranked WHERE sample_rank <= 15
      |ORDER BY doc_id""".stripMargin

  /** Shared by `dedup_minhash` and `dedup_minhash_prefiltered`: both verify
    * candidates with exact Jaccard, so brute-force exact Jaccard at the same
    * threshold is the oracle for each — and one green row per variant proves
    * the banding (and, for the prefiltered arm, the signature-estimate
    * margin filter) dropped no qualifying pair.
    */
  private val minhashPairsOracle: String =
    """WITH toks AS (
      |  SELECT doc_id,
      |    list_filter(string_split(regexp_replace(lower(text), '[^a-z\- ]', ' ', 'g'), ' '),
      |                x -> len(x) > 1) AS toks
      |  FROM documents),
      |sh AS (
      |  SELECT doc_id,
      |    list_distinct(list_transform(generate_series(1, len(toks) - 2),
      |                  i -> array_to_string(list_slice(toks, i, i + 2), ' '))) AS shingles
      |  FROM toks WHERE len(toks) >= 3),
      |ex AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
      |sizes AS (SELECT doc_id, len(shingles) AS n_sh FROM sh),
      |inter AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
      |  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  GROUP BY 1,2)
      |SELECT doc_a, doc_b,
      |  round(n_inter * 1.0 / (sa.n_sh + sb.n_sh - n_inter), 6) AS jaccard
      |FROM inter
      |JOIN sizes sa ON sa.doc_id = doc_a
      |JOIN sizes sb ON sb.doc_id = doc_b
      |WHERE n_inter * 1.0 / (sa.n_sh + sb.n_sh - n_inter) >= 0.7
      |ORDER BY doc_a, doc_b""".stripMargin

  /** Shared by `dedup_incremental` and `dedup_incremental_bloom`: the bloom
    * prefilter is output-transparent (false positives die in the exact
    * semi-join, false negatives are impossible), so one oracle checks both
    * implementations — the driver's green row IS the equivalence proof.
    */
  private val incrementalDedupOracle: String =
    // the coalesce replays the Spark side's `<null-text>` digest sentinel
    // (Dedup.incrementalDedupFlags / IngestWithDigest): NULL text dedups
    // against NULL text, '' keeps its real md5('') digest — exercised by
    // the three nullFixtureSql rows
    "WITH documents_aug AS (" + nullFixtureSql + "),\n" +
    """batch AS (SELECT * FROM documents_aug WHERE source = 'src0'),
      |corpus AS (SELECT * FROM documents_aug WHERE source <> 'src0'),
      |ex AS (
      |  SELECT DISTINCT b.doc_id FROM batch b
      |  JOIN corpus c ON coalesce(md5(b.text), '<null-text>')
      |                 = coalesce(md5(c.text), '<null-text>')),
      |btoks AS (
      |  SELECT doc_id,
      |    list_filter(string_split(regexp_replace(lower(text), '[^a-z\- ]', ' ', 'g'), ' '),
      |                x -> len(x) > 1) AS toks
      |  FROM batch),
      |ctoks AS (
      |  SELECT doc_id,
      |    list_filter(string_split(regexp_replace(lower(text), '[^a-z\- ]', ' ', 'g'), ' '),
      |                x -> len(x) > 1) AS toks
      |  FROM corpus),
      |bsh AS (
      |  SELECT doc_id, unnest(
      |    CASE WHEN len(toks) >= 3 THEN
      |      list_distinct(list_transform(generate_series(1, len(toks) - 2),
      |                    i -> array_to_string(list_slice(toks, i, i + 2), ' ')))
      |    ELSE [] END) AS sh
      |  FROM btoks),
      |csh AS (
      |  SELECT doc_id AS corpus_id, unnest(
      |    CASE WHEN len(toks) >= 3 THEN
      |      list_distinct(list_transform(generate_series(1, len(toks) - 2),
      |                    i -> array_to_string(list_slice(toks, i, i + 2), ' ')))
      |    ELSE [] END) AS sh
      |  FROM ctoks),
      |keep AS (SELECT sh FROM csh GROUP BY sh HAVING count(*) <= 64),
      |ov AS (
      |  SELECT doc_id, max(n_shared) AS max_shared,
      |         count(DISTINCT corpus_id) AS n_corpus_hits
      |  FROM (
      |    SELECT b.doc_id, c.corpus_id, count(*) AS n_shared
      |    FROM bsh b
      |    JOIN (SELECT * FROM csh JOIN keep USING (sh)) c USING (sh)
      |    GROUP BY 1, 2
      |    HAVING count(*) >= 10)
      |  GROUP BY 1)
      |SELECT d.doc_id,
      |  coalesce(e.doc_id IS NOT NULL, FALSE) AS exact_dup,
      |  CAST(coalesce(o.max_shared, 0) AS BIGINT) AS max_shared,
      |  CAST(coalesce(o.n_corpus_hits, 0) AS BIGINT) AS n_corpus_hits,
      |  coalesce(o.max_shared, 0) >= 10 AS near_dup
      |FROM (SELECT doc_id FROM batch) d
      |LEFT JOIN ex e USING (doc_id)
      |LEFT JOIN ov o USING (doc_id)
      |ORDER BY d.doc_id""".stripMargin

  /** Shared by `text_keywords` (row_number window) and `text_keywords_topk`
    * (bounded SmallestK heap aggregate): same total order, different
    * physical plan — one oracle checks both implementations.
    */
  private val keywordsOracle: String =
    """WITH toks AS (
      |  SELECT doc_id, token FROM (
      |    SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS token
      |    FROM documents)
      |  WHERE len(token) >= 3),
      |tf AS (SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY 1, 2),
      |dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
      |nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
      |keep AS (SELECT token FROM dfreq, nd WHERE df <= n_docs * 0.8),
      |ranked AS (
      |  SELECT tf.doc_id, tf.token, tf.tf,
      |    row_number() OVER (PARTITION BY tf.doc_id
      |      ORDER BY tf.tf DESC, tf.token) AS rank
      |  FROM tf JOIN keep USING (token))
      |SELECT doc_id, CAST(rank AS BIGINT) AS rank, token, CAST(tf AS BIGINT) AS tf
      |FROM ranked WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin

  private val visitorProjectOracle =
    """WITH calls AS (
        |  SELECT CAST(o_orderkey AS INT) AS call, CAST(o_orderkey % 4 + 1 AS INT) AS round
        |  FROM orders WHERE o_orderkey < 400),
        |ords AS (
        |  SELECT round, row_number() OVER (ORDER BY round, call) AS call_id,
        |         row_number() OVER (PARTITION BY round ORDER BY call) AS ordinal
        |  FROM calls),
        |spec AS (SELECT CAST(p_partkey AS INT) AS sid, p_brand AS name,
        |                CAST(p_partkey % 4 + 1 AS INT) AS round FROM part),
        |scanned AS (SELECT *, row_number() OVER (ORDER BY round DESC, sid) AS scan_order
        |            FROM spec),
        |cids AS (SELECT name, row_number() OVER (ORDER BY min(scan_order)) AS new_id
        |         FROM scanned GROUP BY name),
        |specmap AS (SELECT s.round, s.sid, c.new_id FROM scanned s JOIN cids c USING (name)),
        |country AS (SELECT CAST(n_nationkey AS VARCHAR) AS code,
        |                   row_number() OVER (ORDER BY CAST(n_nationkey AS VARCHAR)) AS cid
        |            FROM nation),
        |rounds AS (SELECT unnest([1, 2, 3, 4]) AS round),
        |users AS (SELECT r.round, CAST(c_custkey AS INT) AS user_id, c_custkey AS ck,
        |                 c_mktsegment, c_nationkey
        |          FROM customer CROSS JOIN rounds r),
        |guids AS (SELECT round, user_id, CAST(ck * 10 + round AS BIGINT) AS guid,
        |                 'age_' || (ck % 5) AS age_range
        |          FROM users WHERE ck % 10 <> 0),
        |proj AS (SELECT CAST(o_orderkey % 4 + 1 AS INT) AS round,
        |                CAST(o_orderkey AS INT) AS pid, CAST(o_custkey AS INT) AS uid,
        |                o_orderkey AS o, o_orderpriority, o_orderstatus, o_orderdate
        |         FROM orders WHERE o_orderkey % 7 <> 0),
        |j AS (
        |  SELECT p.round, p.pid, p.o, p.o_orderpriority, p.o_orderstatus, p.o_orderdate,
        |         g.guid, g.age_range, u.ck, u.c_mktsegment, u.c_nationkey,
        |         ords.call_id, sm.new_id AS psd, nat.cid AS nat_id, home.cid AS home_id
        |  FROM proj p
        |  JOIN guids g ON p.round = g.round AND p.uid = g.user_id
        |  JOIN users u ON p.round = u.round AND p.uid = u.user_id
        |  JOIN ords ON p.round = ords.round AND (p.o % 8 + 1) = ords.ordinal
        |  LEFT JOIN specmap sm ON p.round = sm.round AND (p.o % 2000 + 1) = sm.sid
        |  LEFT JOIN country nat ON CAST(u.c_nationkey AS VARCHAR) = nat.code
        |  LEFT JOIN country home ON CAST(u.ck % 25 AS VARCHAR) = home.code)
        |SELECT row_number() OVER (ORDER BY round, pid) AS id,
        |  pid AS original_project_id,
        |  o_orderpriority AS title,
        |  guid AS user_guid, age_range AS user_age_range,
        |  CAST(o % 14 AS INT) AS length_of_visit,
        |  strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS start,
        |  strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS "end",
        |  'TAF-' || o AS taf_id,
        |  coalesce((CASE WHEN o % 3 = 2 THEN NULL ELSE o % 3 END) <> 0, FALSE)
        |    AS home_facilities,
        |  'submitted' AS application_state,
        |  coalesce((CASE WHEN o % 5 = 4 THEN NULL ELSE o % 2 END) <> 0, FALSE) AS new_user,
        |  strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS submission_date,
        |  coalesce(o % 2 <> 0, FALSE) AS support_final,
        |  CAST(psd AS INT) AS project_specific_discipline,
        |  CAST(call_id AS BIGINT) AS call_submitted,
        |  coalesce((CASE WHEN o % 11 = 0 THEN NULL ELSE o % 2 END) <> 0, FALSE)
        |    AS previous_application,
        |  CASE o_orderpriority WHEN '1-URGENT' THEN 'Urgent Priority Group'
        |    WHEN '3-MEDIUM' THEN NULL ELSE o_orderpriority END AS supporter_institution,
        |  coalesce(o % 2 <> 0, FALSE) AS group_leader,
        |  CASE o_orderstatus WHEN 'F' THEN 'Finished Group'
        |    WHEN 'P' THEN NULL ELSE o_orderstatus END AS group_leader_institution,
        |  CASE WHEN ck % 2 = 0 THEN 'F' ELSE 'M' END AS gender,
        |  CAST(nat_id AS BIGINT) AS nationality,
        |  CASE c_mktsegment WHEN 'BUILDING' THEN 'The Building Consortium'
        |    WHEN 'MACHINERY' THEN NULL ELSE c_mktsegment END AS home_institution_name,
        |  'Town ' || (ck % 10) AS home_institution_town,
        |  CAST(home_id AS BIGINT) AS home_institution_country,
        |  CAST(ck % 7 AS INT) AS number_of_visits,
        |  round
        |FROM j ORDER BY id""".stripMargin

  /** DuckDB replay of [[graft.operators.Bpe.learnMerges]]: the merge loop is
    * a fold over the vocabulary, so ten merges unroll to ten chained CTE
    * stages. Each word's symbol list is carried as one string with every
    * symbol wrapped in a chr(31) unit separator (corpus verified free of
    * control chars), which makes the paper's left-to-right non-overlapping
    * mergeOnce a single `replace()`: a match consumes BOTH its separators,
    * so adjacent occurrences can't share one and the scan resumes exactly
    * where the Scala while-loop does. Early stop (max pair count < 2) falls
    * out naturally: `b_i` is empty, the LEFT JOIN leaves the state
    * untouched, and every later stage stays empty too.
    */
  private def bpeMergesOracle(nMerges: Int): String = {
    val S = "chr(31)"          // wrap separator
    val D = "chr(31)||chr(31)" // between-symbol separator (two wraps)
    val head =
      s"""WITH w0 AS (
         |  SELECT w, count(*) AS freq FROM (
         |    SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
         |    FROM documents)
         |  WHERE len(w) > 0 GROUP BY w),
         |state_0 AS (
         |  SELECT $S || array_to_string(list_append(string_split(w, ''), '</w>'), $D) || $S AS st, freq
         |  FROM w0)""".stripMargin
    val stages = (1 to nMerges).map { i =>
      val p = i - 1
      s""", p_$i AS (
         |  SELECT a, b, sum(freq) AS n FROM (
         |    SELECT syms[i] AS a, syms[i+1] AS b, freq FROM (
         |      SELECT string_split(trim(st, chr(31)), $D) AS syms, freq,
         |             unnest(range(1, len(string_split(trim(st, chr(31)), $D)))) AS i
         |      FROM state_$p))
         |  GROUP BY a, b),
         |b_$i AS (
         |  SELECT a, b FROM p_$i WHERE n >= 2 ORDER BY n DESC, a, b LIMIT 1),
         |state_$i AS (
         |  SELECT CASE WHEN b.a IS NULL THEN s.st
         |         ELSE replace(s.st, $S||b.a||$D||b.b||$S, $S||b.a||b.b||$S) END AS st,
         |         s.freq
         |  FROM state_$p s LEFT JOIN b_$i b ON TRUE)""".stripMargin
    }.mkString
    val unions = (1 to nMerges)
      .map(i => s"""SELECT CAST($i AS BIGINT) AS step, a AS "left", b AS "right" FROM b_$i""")
      .mkString("\n  UNION ALL ")
    s"""$head$stages
       |SELECT step, "left", "right" FROM (
       |  $unions)
       |ORDER BY step""".stripMargin
  }

  /** Shared CTE chain for the segment-replay oracles: the
    * [[bpeMergesOracle]] state machine with the surface word `w` carried
    * through every stage, so `state_N` IS the trained tokenizer's
    * per-word segmentation table (the apply path, Bpe.scala:90).
    */
  private def bpeSegmentChain(nMerges: Int): String = {
    val S = "chr(31)"
    val D = "chr(31)||chr(31)"
    val head =
      s"""WITH w0 AS (
         |  SELECT w, count(*) AS freq FROM (
         |    SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
         |    FROM documents)
         |  WHERE len(w) > 0 GROUP BY w),
         |state_0 AS (
         |  SELECT w, $S || array_to_string(list_append(string_split(w, ''), '</w>'), $D) || $S AS st, freq
         |  FROM w0)""".stripMargin
    val stages = (1 to nMerges).map { i =>
      val p = i - 1
      s""", p_$i AS (
         |  SELECT a, b, sum(freq) AS n FROM (
         |    SELECT syms[i] AS a, syms[i+1] AS b, freq FROM (
         |      SELECT string_split(trim(st, chr(31)), $D) AS syms, freq,
         |             unnest(range(1, len(string_split(trim(st, chr(31)), $D)))) AS i
         |      FROM state_$p))
         |  GROUP BY a, b),
         |b_$i AS (
         |  SELECT a, b FROM p_$i WHERE n >= 2 ORDER BY n DESC, a, b LIMIT 1),
         |state_$i AS (
         |  SELECT s.w,
         |         CASE WHEN b.a IS NULL THEN s.st
         |         ELSE replace(s.st, $S||b.a||$D||b.b||$S, $S||b.a||b.b||$S) END AS st,
         |         s.freq
         |  FROM state_$p s LEFT JOIN b_$i b ON TRUE)""".stripMargin
    }.mkString
    head + stages
  }

  /** bpe_encode oracle: per-word segmentation table joined back to each
    * doc's words in order (unnest-with-index), re-aggregated per doc.
    */
  private def bpeEncodeOracle(nMerges: Int): String =
    s"""${bpeSegmentChain(nMerges)},
       |seg AS (
       |  SELECT w, replace(trim(st, chr(31)), chr(31)||chr(31), ' ') AS seg
       |  FROM state_$nMerges),
       |wd AS (
       |  SELECT doc_id, i, syms[i] AS w FROM (
       |    SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS syms,
       |           unnest(range(1, len(regexp_split_to_array(trim(text), '\\s+')) + 1)) AS i
       |    FROM documents)
       |  WHERE len(syms[i]) > 0),
       |agg AS (
       |  SELECT doc_id,
       |         string_agg(seg, ' ' ORDER BY i) AS tokens_str,
       |         CAST(sum(len(string_split(seg, ' '))) AS BIGINT) AS n_tokens
       |  FROM wd JOIN seg USING (w) GROUP BY doc_id)
       |SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
       |  coalesce(a.n_tokens, 0) AS n_tokens,
       |  coalesce(a.tokens_str, '') AS tokens_str
       |FROM (SELECT DISTINCT doc_id FROM documents) d
       |LEFT JOIN agg a USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  /** bpe_vocab oracle: unit histogram weighted by the word-frequency
    * dictionary — no doc-level join needed.
    */
  private def bpeVocabOracle(nMerges: Int): String =
    s"""${bpeSegmentChain(nMerges)},
       |seg AS (
       |  SELECT string_split(trim(st, chr(31)), chr(31)||chr(31)) AS units, freq
       |  FROM state_$nMerges)
       |SELECT unit, CAST(sum(freq) AS BIGINT) AS n
       |FROM (SELECT unnest(units) AS unit, freq FROM seg)
       |GROUP BY unit ORDER BY unit""".stripMargin

  /** Brute-force top-5 cosine over the `vec_id < 10` query batch — shared
    * by the exact baseline and every query constructed to be exactly
    * equivalent to it (e.g. IVF probing all cells).
    */
  private val bruteTopkOracle: String =
    """WITH q AS (SELECT * FROM embeddings WHERE vec_id < 10),
      |scored AS (
      |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |    round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])), 4) AS sim
      |  FROM q, embeddings c WHERE c.vec_id <> q.vec_id)
      |SELECT query_id, rn AS rank, neighbor_id, sim
      |FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rn
      |      FROM scored)
      |WHERE rn <= 5 ORDER BY query_id, rank""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "bpe_merges" -> bpeMergesOracle(10),
    "bpe_encode" -> bpeEncodeOracle(10),
    "bpe_vocab" -> bpeVocabOracle(10),
    "dedup_incremental" -> incrementalDedupOracle,
    "dedup_incremental_bloom" -> incrementalDedupOracle,
    "s1_scan_project" ->
      """SELECT l_orderkey AS order_id, l_linenumber AS line_no, l_quantity AS qty, l_returnflag AS flag
        |FROM lineitem
        |WHERE l_returnflag IS NOT NULL AND l_returnflag <> '' AND l_quantity > 30
        |ORDER BY order_id, line_no""".stripMargin,

    "u1_round_minmax" ->
      """SELECT CAST(o_orderkey % 4 AS INT) AS round,
        |  strftime(min(o_orderdate), '%Y-%m-%d %H:%M:%S') AS min_date,
        |  strftime(max(o_orderdate), '%Y-%m-%d %H:%M:%S') AS max_date,
        |  count(*) AS n
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    "a2_project_requests" ->
      """SELECT l_orderkey AS project_id,
        |  count(DISTINCT l_linenumber) AS n_requests,
        |  sum(l_quantity) AS total_days,
        |  count(DISTINCT l_linenumber) <> 1 AS multiple
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,

    "j1_denorm" ->
      """SELECT o_orderkey AS order_id, c_name AS customer_name, n_name AS nation_name,
        |  o_totalprice AS total_price
        |FROM orders
        |LEFT JOIN customer ON o_custkey = c_custkey
        |LEFT JOIN nation ON c_nationkey = n_nationkey
        |ORDER BY order_id""".stripMargin,

    "j8_first_order" ->
      """SELECT o_custkey AS cust_id, o_orderkey AS first_order,
        |  strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS first_date
        |FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rn
        |      FROM orders) t
        |WHERE rn = 1 ORDER BY cust_id""".stripMargin,

    "w1_seq_ids" ->
      """SELECT row_number() OVER (ORDER BY p_partkey) AS new_id,
        |  p_partkey AS part_id, p_name AS name
        |FROM part ORDER BY new_id""".stripMargin,

    "a3_score_stats" ->
      """WITH u AS (
        |  SELECT l_returnflag AS flag, 'quantity' AS score_name, l_quantity AS score FROM lineitem
        |  UNION ALL SELECT l_returnflag, 'discount', l_discount FROM lineitem
        |  UNION ALL SELECT l_returnflag, 'tax', l_tax FROM lineitem)
        |SELECT flag, score_name, count(*) AS n, round(avg(score), 6) AS mean,
        |  CAST(sum(CAST(score AS DECIMAL(18,2))) AS DOUBLE) AS total,
        |  CASE WHEN count(*) < 2 THEN NULL ELSE round(stddev_samp(score), 6) END AS sd
        |FROM u WHERE score IS NOT NULL AND score <> 0
        |GROUP BY 1,2 ORDER BY 1,2""".stripMargin,

    "a3_mode" ->
      """WITH u AS (
        |  SELECT l_returnflag AS flag, 'quantity' AS score_name, l_quantity AS score FROM lineitem
        |  UNION ALL SELECT l_returnflag, 'discount', l_discount FROM lineitem
        |  UNION ALL SELECT l_returnflag, 'tax', l_tax FROM lineitem),
        |c AS (SELECT flag, score_name, score, count(*) AS c FROM u
        |      WHERE score IS NOT NULL AND score <> 0 GROUP BY 1,2,3)
        |SELECT flag, score_name, score AS mode_score
        |FROM (SELECT *, row_number() OVER (PARTITION BY flag, score_name ORDER BY c DESC, score) AS rn FROM c)
        |WHERE rn = 1 ORDER BY flag, score_name""".stripMargin,

    "a4_canonical_rows" ->
      """SELECT l_partkey AS part_id, l_orderkey AS last_order, l_linenumber AS last_line,
        |  l_quantity AS last_qty, n_rows
        |FROM (SELECT *,
        |        row_number() OVER (PARTITION BY l_partkey ORDER BY l_orderkey DESC, l_linenumber DESC) AS rn,
        |        count(*) OVER (PARTITION BY l_partkey) AS n_rows
        |      FROM lineitem)
        |WHERE rn = 1 ORDER BY part_id""".stripMargin,

    "a6_pct_of_group" ->
      """SELECT o_orderstatus AS status, o_orderpriority AS priority, count(*) AS n,
        |  round(count(*) * 100.0 / sum(count(*)) OVER (PARTITION BY o_orderstatus), 6) AS pct
        |FROM orders GROUP BY 1,2 ORDER BY 1,2""".stripMargin,

    "w4_zscore" ->
      """SELECT * FROM (
        |  SELECT c_custkey AS cust_id, c_acctbal AS acctbal,
        |    round((c_acctbal - avg(c_acctbal) OVER ()) / stddev_samp(c_acctbal) OVER (), 4) AS z
        |  FROM customer)
        |WHERE z < -1.5 ORDER BY cust_id""".stripMargin,

    "o4_topk" ->
      """SELECT o_orderkey AS order_id, o_totalprice AS total_price, o_orderpriority AS priority
        |FROM (SELECT * FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 20)
        |ORDER BY order_id""".stripMargin,

    "u4_no_orders" ->
      """SELECT c_custkey AS cust_id, c_name AS name
        |FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'P')
        |ORDER BY cust_id""".stripMargin,

    "u3_distinct" ->
      """SELECT DISTINCT c_nationkey AS nation_id, c_mktsegment AS segment
        |FROM customer ORDER BY 1, 2""".stripMargin,

    "p9_range_filter" ->
      """SELECT o_orderkey AS order_id, strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS order_date,
        |  o_orderstatus AS status
        |FROM orders
        |WHERE o_orderstatus <> 'P'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |ORDER BY order_id""".stripMargin,

    "j10_has_order" ->
      """SELECT c_custkey AS cust_id, (o.o_custkey IS NOT NULL) AS has_order
        |FROM customer
        |LEFT JOIN (SELECT DISTINCT o_custkey FROM orders) o ON c_custkey = o.o_custkey
        |ORDER BY cust_id""".stripMargin,

    "f19_recode" ->
      """SELECT CASE o_orderstatus WHEN 'O' THEN 'Open' WHEN 'F' THEN 'Finished'
        |  WHEN 'P' THEN 'Pending' ELSE 'Unknown' END AS status_label, count(*) AS n
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    "a11_top_tokens" ->
      """SELECT word, count(*) AS n
        |FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        |GROUP BY 1 ORDER BY n DESC, word LIMIT 20""".stripMargin,

    "a9_dup_histogram" ->
      """SELECT n_records, count(*) AS n_groups
        |FROM (SELECT l_partkey, count(*) AS n_records FROM lineitem GROUP BY 1)
        |WHERE n_records > 1 GROUP BY 1 ORDER BY 1""".stripMargin,

    "a8_region_totals" ->
      """SELECT r_name AS region,
        |  CAST(sum(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal, count(*) AS n
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1
        |UNION ALL
        |SELECT 'Total', CAST(sum(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE), count(*) FROM supplier
        |ORDER BY region""".stripMargin,

    "f1_clean_text" ->
      """SELECT doc_id,
        |  CASE WHEN t IS NULL OR t = '' OR NOT regexp_matches(t, '\w') THEN NULL ELSE t END AS clean
        |FROM (SELECT doc_id,
        |        trim(regexp_replace(regexp_replace(text, '[\r\n\t]+', ' ', 'g'), ' {2,}', ' ', 'g')) AS t
        |      FROM documents)
        |ORDER BY doc_id""".stripMargin,

    "o5_extract_cascade" ->
      """SELECT doc_id,
        |  coalesce(nullif(regexp_extract(text, '(spark\w*)', 1), ''),
        |           nullif(regexp_extract(text, '(join\w*)', 1), ''),
        |           'none') AS first_hit
        |FROM documents ORDER BY doc_id""".stripMargin,

    "f2_find_names" ->
      """SELECT doc_id,
        |  array_to_string(list_slice(
        |    regexp_extract_all(regexp_replace(text, ' and |&', '; ', 'g'), '([a-zA-Z]{3,}[-'' ]?)+', 0),
        |    1, 3), ';') AS names
        |FROM documents ORDER BY doc_id""".stripMargin,

    "f7_author_format" ->
      """SELECT doc_id,
        |  array_to_string(list_transform(list_slice(string_split(text, ' '), 1, 4), a -> a || '-x'), '; ') AS authors
        |FROM documents ORDER BY doc_id""".stripMargin,

    "p4_ilike" ->
      """SELECT doc_id FROM documents
        |WHERE contains(lower(text), 'spark') OR text LIKE '%10.%'
        |ORDER BY doc_id""".stripMargin,

    "p8_null_conj" ->
      """SELECT doc_id, lang, source FROM documents
        |WHERE nullif(lang, 'en') IS NULL AND nullif(source, 'src0') IS NOT NULL
        |ORDER BY doc_id""".stripMargin,

    "p10_isin" ->
      """SELECT user_id, count(*) AS n FROM events
        |WHERE event_type IN ('click', 'view')
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "f3_time_roundtrip" ->
      """SELECT event_id,
        |  strftime(strptime(strftime(ts, '%b %d %H:%M:%S GMT %Y'), '%b %d %H:%M:%S GMT %Y'),
        |           '%Y-%m-%d %H:%M:%S') AS parsed
        |FROM events ORDER BY event_id""".stripMargin,

    "f24_json" ->
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS INT) AS k
        |FROM events ORDER BY event_id""".stripMargin,

    "events_hourly" -> eventsHourlyOracle,

    // the SAME oracle: the streamed accumulation must merge to exactly the
    // batch aggregate — a green row is the streamed ≡ batch proof
    "events_hourly_streamed" -> eventsHourlyOracle,

    "a10_describe" ->
      """SELECT o_orderstatus AS status, count(*) AS n,
        |  min(o_totalprice) AS min_price, max(o_totalprice) AS max_price,
        |  round(avg(o_totalprice), 6) AS avg_price,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    "f18_decimal_comma" ->
      """SELECT p_partkey AS part_id,
        |  CAST(replace(replace(CAST(p_retailprice AS VARCHAR), '.', ','), ',', '.') AS DOUBLE) AS repaired
        |FROM part ORDER BY part_id""".stripMargin,

    "w1_distributed_ids" ->
      """SELECT row_number() OVER (ORDER BY c_custkey) AS new_id, c_custkey AS cust_id
        |FROM customer ORDER BY new_id""".stripMargin,

    "etl_fill_call" ->
      """WITH calls AS (
        |  SELECT CAST(o_orderkey AS INT) AS call, o_orderdate,
        |         CAST(o_orderkey % 4 + 1 AS INT) AS round
        |  FROM orders WHERE o_orderkey < 400)
        |SELECT row_number() OVER (ORDER BY round, call) AS id,
        |  round AS round_id,
        |  row_number() OVER (PARTITION BY round ORDER BY call) AS ordinal,
        |  strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS start,
        |  strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS "end"
        |FROM calls ORDER BY id""".stripMargin,

    "etl_specific_discipline" ->
      """WITH spec AS (
        |  SELECT CAST(p_partkey AS INT) AS sid, p_brand AS name,
        |         CAST(length(p_brand) AS INT) AS did,
        |         CAST(p_partkey % 4 + 1 AS INT) AS round
        |  FROM part),
        |scanned AS (SELECT *, row_number() OVER (ORDER BY round DESC, sid) AS scan_order FROM spec),
        |canonical AS (SELECT name, min(scan_order) AS first_seen, min(did) AS discipline_id
        |              FROM scanned GROUP BY name)
        |SELECT row_number() OVER (ORDER BY first_seen) AS id, name, discipline_id
        |FROM canonical ORDER BY id""".stripMargin,

    // SQL replay of the F14 cascade: recognizer regexes (the pensoft
    // lookbehind emulated as (^|[^_]) with shifted group numbers), the
    // derived response cache, five key joins, and the three response
    // parsers (XML prism:doi, normalized bibtex DOI, ReFindIt JSON).
    "doi_network_stages" ->
      """WITH o AS (SELECT o_orderkey AS id, CAST(o_orderkey % 6 AS INT) AS kind FROM orders),
        |u AS (SELECT id, kind, CASE kind
        |    WHEN 0 THEN 'see elsevier ref S' || upper(substring(md5(CAST(id AS VARCHAR)), 1, 16))
        |    WHEN 1 THEN 'http://www.ingentaconnect.com/content/brill/ctz/' ||
        |                (1990 + id % 30) || '/12/34/art' || (10000 + id % 90)
        |    WHEN 2 THEN 'http://zookeys.pensoft.net/articles.php?version=2&id=' || (id % 9000)
        |    WHEN 3 THEN 'https://subtbiol.pensoft.net/articles/' || (id % 9000)
        |    WHEN 4 THEN 'https://www.ncbi.nlm.nih.gov/pmc/articles/PMC' || (1000000 + id % 9000000)
        |    ELSE 'www.cambridge.org/core/product/' || upper(substring(md5(CAST(id AS VARCHAR)), 1, 12))
        |  END AS url FROM o),
        |p0 AS (SELECT *,
        |    coalesce(
        |      nullif(regexp_extract(url, 'articles\.php\?.*id=(\d+)', 1), ''),
        |      nullif(regexp_extract(url, '(^|[^_])(?:article_)?id=(\d+)|articles?/(\d+)', 2), ''),
        |      nullif(regexp_extract(url, '(^|[^_])(?:article_)?id=(\d+)|articles?/(\d+)', 3), '')) AS pid,
        |    coalesce(
        |      nullif(regexp_extract(url, '([a-z]+)\.pensoft|journals/([a-z]+)', 1), ''),
        |      nullif(regexp_extract(url, '([a-z]+)\.pensoft|journals/([a-z]+)', 2), '')) AS jm
        |  FROM u),
        |k AS (SELECT id, url, kind,
        |    CASE WHEN nullif(regexp_extract(url, '([SB][A-Z0-9]{16})', 1), '') IS NOT NULL
        |         THEN 'elsevier:' || regexp_extract(url, '([SB][A-Z0-9]{16})', 1) END AS k_elsevier,
        |    CASE WHEN url LIKE '%cambridge.org%' THEN 'cambridge:' ||
        |         (CASE WHEN url LIKE 'http%' THEN url ELSE 'http://' || url END) END AS k_cambridge,
        |    CASE WHEN nullif(regexp_extract(url, '(ingentaconnect\.com/.+/\d{4}/\d+/\d+/art\d+)', 1), '') IS NOT NULL
        |         THEN 'ingenta:' || regexp_extract(url, '(ingentaconnect\.com/.+/\d{4}/\d+/\d+/art\d+)', 1) END AS k_ingenta,
        |    CASE WHEN (url LIKE '%pensoft%' OR url LIKE '%zookeys%') AND pid IS NOT NULL
        |          AND (CASE WHEN jm IS NULL THEN 'zookeys' WHEN jm = 'www' THEN NULL ELSE jm END) IS NOT NULL
        |         THEN 'pensoft:https://' ||
        |              (CASE WHEN jm IS NULL THEN 'zookeys' ELSE jm END) ||
        |              '.pensoft.net/article/' || pid || '/download/bibtex' END AS k_pensoft,
        |    CASE WHEN url LIKE '%ncbi.nlm.nih.gov%'
        |          AND nullif(regexp_extract(url, '(\d{7})', 1), '') IS NOT NULL
        |         THEN 'pubmed:PMC' || regexp_extract(url, '(\d{7})', 1) END AS k_pubmed
        |  FROM p0),
        |cache AS (SELECT DISTINCT
        |    CASE kind
        |      WHEN 0 THEN 'elsevier:' || regexp_extract(url, '([SB][A-Z0-9]{16})', 1)
        |      WHEN 1 THEN 'ingenta:' || regexp_extract(url, '(ingentaconnect\.com/.+/\d{4}/\d+/\d+/art\d+)', 1)
        |      WHEN 2 THEN 'pensoft:https://zookeys.pensoft.net/article/' ||
        |                  regexp_extract(url, '(\d+)$', 1) || '/download/bibtex'
        |      WHEN 3 THEN 'pensoft:https://subtbiol.pensoft.net/article/' ||
        |                  regexp_extract(url, '(\d+)$', 1) || '/download/bibtex'
        |      WHEN 4 THEN 'pubmed:PMC' || regexp_extract(url, '(\d{7})', 1)
        |      ELSE 'cambridge:http://' || url END AS key,
        |    CASE kind
        |      WHEN 0 THEN '<coredata><prism:doi>10.1016/j.' ||
        |                  lower(regexp_extract(url, '([SB][A-Z0-9]{16})', 1)) || '</prism:doi></coredata>'
        |      WHEN 1 THEN '@article{a, doi = {10.1644/' || regexp_extract(url, 'art(\d+)', 1) || '}}'
        |      WHEN 2 THEN '@article{a, doi = {10.3897/zk.' || regexp_extract(url, '(\d+)$', 1) || '}}'
        |      WHEN 3 THEN '@article{a, doi = {10.3897/zk.' || regexp_extract(url, '(\d+)$', 1) || '}}'
        |      WHEN 4 THEN '[{"doi": "10.1093/pm' || regexp_extract(url, '(\d{7})', 1) || '"}]'
        |      ELSE '@article{a, doi = {10.1017/' || regexp_extract(url, 'product/([A-F0-9]+)', 1) || '}}'
        |    END AS body
        |  FROM u),
        |j AS (SELECT k.*, ce.body AS b_e, cc.body AS b_c, ci.body AS b_i,
        |             cp.body AS b_p, cm.body AS b_m
        |      FROM k
        |      LEFT JOIN cache ce ON k.k_elsevier = ce.key
        |      LEFT JOIN cache cc ON k.k_cambridge = cc.key
        |      LEFT JOIN cache ci ON k.k_ingenta = ci.key
        |      LEFT JOIN cache cp ON k.k_pensoft = cp.key
        |      LEFT JOIN cache cm ON k.k_pubmed = cm.key)
        |SELECT id, url, k_elsevier, k_cambridge, k_ingenta, k_pensoft, k_pubmed,
        |  coalesce(
        |    nullif(regexp_extract(b_e, '(?i)<prism:doi>([^<]+)</prism:doi>', 1), ''),
        |    regexp_replace(regexp_replace(upper(nullif(
        |      regexp_extract(b_c, '(?i)(10\.\d{4,9}/[-._;()/:A-Z0-9]+)', 1), '')),
        |      '\.+$', ''), '[./](E?PDF|ABSTRACT|FULL|SHORT).*$', ''),
        |    regexp_replace(regexp_replace(upper(nullif(
        |      regexp_extract(b_i, '(?i)(10\.\d{4,9}/[-._;()/:A-Z0-9]+)', 1), '')),
        |      '\.+$', ''), '[./](E?PDF|ABSTRACT|FULL|SHORT).*$', ''),
        |    regexp_replace(regexp_replace(upper(nullif(
        |      regexp_extract(b_p, '(?i)(10\.\d{4,9}/[-._;()/:A-Z0-9]+)', 1), '')),
        |      '\.+$', ''), '[./](E?PDF|ABSTRACT|FULL|SHORT).*$', ''),
        |    json_extract_string(b_m, '$[0].doi')) AS doi
        |FROM j ORDER BY id""".stripMargin,

    // SQL replay of the users.csv explode: same wide cells, then
    // string_split + unnest + int casts, '' age → NULL, empty cells drop.
    "etl_users_csv" ->
      """WITH r AS (SELECT unnest([1, 2, 3, 4]) AS round),
        |cells AS (SELECT r.round, c_custkey AS guid,
        |    CASE WHEN (c_custkey + r.round) % 4 = 0 THEN ''
        |         WHEN (c_custkey + r.round) % 3 = 0
        |           THEN CAST(c_custkey * 10 + r.round AS VARCHAR)
        |         ELSE (c_custkey * 10 + r.round) || ',' ||
        |              (c_custkey * 10 + r.round + 100000) END AS cell,
        |    CASE WHEN (c_custkey + r.round) % 5 = 0 THEN ''
        |         ELSE 'a' || ((c_custkey + r.round) % 5) END AS age
        |  FROM customer CROSS JOIN r)
        |SELECT CAST(round AS INT) AS round,
        |  CAST(unnest(string_split(cell, ',')) AS INT) AS user_id,
        |  CAST(guid AS BIGINT) AS guid,
        |  CASE WHEN age = '' THEN NULL ELSE age END AS age_range
        |FROM cells WHERE cell <> ''
        |ORDER BY round, user_id""".stripMargin,

    // The xlsxFixtureSheets rows re-derived from the same tables: per
    // sheet, row count, id and days sums, and the md5 of the sorted
    // '|'-joined row texts (chr(233) = 'é').
    "s4_xlsx" ->
      """WITH ar AS (
        |  SELECT o_orderkey AS id, CASE WHEN o_orderkey % 13 <> 0 THEN o_orderkey % 30 + 1 END AS days,
        |    concat_ws('|', CAST(o_orderkey AS VARCHAR), CAST(o_custkey AS VARCHAR),
        |      CAST(o_orderkey % 4 + 1 AS VARCHAR), CAST(o_custkey % 100 + 1 AS VARCHAR),
        |      CAST(CASE WHEN o_orderkey % 13 <> 0 THEN o_orderkey % 30 + 1 END AS VARCHAR),
        |      o_orderpriority) AS row
        |  FROM orders),
        |cat AS (
        |  SELECT r_regionkey + 1 AS id, concat_ws('|', CAST(r_regionkey + 1 AS VARCHAR), r_name,
        |    CASE WHEN r_regionkey % 2 = 1 THEN 'Cat' || chr(233) || 'gorie ' || r_name END) AS row
        |  FROM region),
        |fac AS (
        |  SELECT s_suppkey AS id, concat_ws('|', CAST(s_suppkey AS VARCHAR),
        |    'IF-' || CAST(s_suppkey AS VARCHAR), s_name, CAST(s_nationkey % 5 + 1 AS VARCHAR),
        |    CAST(s_nationkey + 1 AS VARCHAR)) AS row
        |  FROM supplier),
        |inst AS (
        |  SELECT n_nationkey + 1 AS id, concat_ws('|', CAST(n_nationkey + 1 AS VARCHAR),
        |    substr(n_name, 1, 3), 'Universit' || chr(233) || ' de ' || n_name,
        |    CASE WHEN n_nationkey % 7 <> 3 THEN substr(n_name, 1, 2) END) AS row
        |  FROM nation),
        |sheets AS (
        |  SELECT 'AccessRequest' AS sheet, id, days, row FROM ar
        |  UNION ALL SELECT 'Category', id, NULL, row FROM cat
        |  UNION ALL SELECT 'InstallationFacility', id, NULL, row FROM fac
        |  UNION ALL SELECT 'Institution', id, NULL, row FROM inst)
        |SELECT sheet, CAST(count(*) AS BIGINT) AS n_rows, CAST(sum(id) AS BIGINT) AS id_sum,
        |  CAST(sum(days) AS BIGINT) AS days_sum,
        |  md5(string_agg(row, chr(10) ORDER BY row)) AS rows_md5
        |FROM sheets GROUP BY sheet ORDER BY sheet""".stripMargin,

    // WARC: re-derive every record the synthesizer wrote (uri variants,
    // status line, HTML body incl. the planted fake-record literal, and
    // the per-file warcinfo records) purely from doc_id arithmetic —
    // md5(payload) pins the round-trip byte-for-byte. Mirrors
    // Warc.responseRecordString / warcinfoRecordString verbatim.
    "warc_read" -> warcReadOracle,

    // the SAME oracle: zstd-member archive must parse to the identical
    // record set (codec-equivalence twin)
    "warc_read_zstd" -> warcReadOracle,

    // MIME gate replay: class arithmetic — pdf ineligible at zero
    // tokens, text classes carry their word-run counts
    "warc_mime_gate" ->
      """WITH ids AS (SELECT doc_id AS d FROM documents WHERE doc_id % 11 <> 0)
        |SELECT d AS doc_id,
        |  CASE WHEN d % 6 = 3 THEN 'application/pdf'
        |       WHEN d % 6 = 5 THEN 'text/plain'
        |       ELSE 'text/html' END AS mime,
        |  d % 6 <> 3 AS wet_eligible,
        |  CAST(CASE WHEN d % 6 = 3 THEN 0 ELSE d % 9 + 1 END AS BIGINT) AS n_tokens
        |FROM ids ORDER BY doc_id""".stripMargin,

    // ORC replay: the round-trip must reproduce the parquet-read rows
    // value-exactly, digests over the same UTF-8 text bytes.
    "s_orc_roundtrip" ->
      """SELECT doc_id, lang, source, n_chars, md5(text) AS text_md5
        |FROM documents ORDER BY doc_id""".stripMargin,

    // Sniff replay: class arithmetic for both routes — the lying
    // text/html-PDF ships wc+2 garbage tokens on the declared route
    // ('%PDF-1.4' and 'endobj' plus the word run) and 0 on the sniffed
    // one; the octet-stream HTML recovers its words only when sniffed.
    "warc_mime_sniff" ->
      """WITH ids AS (SELECT doc_id AS d FROM documents WHERE doc_id % 11 <> 0),
        |c AS (SELECT d, CAST(d % 9 + 1 AS BIGINT) AS wc FROM ids)
        |SELECT d AS doc_id,
        |  CASE WHEN d % 6 = 1 THEN 'text/html'
        |       WHEN d % 6 = 2 THEN 'application/octet-stream'
        |       WHEN d % 6 = 3 THEN 'application/pdf'
        |       WHEN d % 6 = 5 THEN 'text/plain'
        |       ELSE 'text/html' END AS declared,
        |  CASE WHEN d % 6 = 1 OR d % 6 = 3 THEN 'application/pdf'
        |       WHEN d % 6 = 5 THEN 'text/plain'
        |       ELSE 'text/html' END AS sniffed,
        |  d % 6 = 1 OR d % 6 = 2 AS mislabeled,
        |  CAST(CASE WHEN d % 6 = 1 OR d % 6 = 3 THEN 0 ELSE wc END AS BIGINT) AS n_tokens,
        |  CAST(CASE WHEN d % 6 = 1 THEN wc + 2
        |            WHEN d % 6 = 2 OR d % 6 = 3 THEN 0
        |            ELSE wc END AS BIGINT) AS n_tokens_declared
        |FROM c ORDER BY doc_id""".stripMargin,

    // Declared-canonical replay: extraction + canonicalization stated as
    // the arithmetic ideal (variants point at the alias-folded family
    // head, heads fall back to their own canonical URI)
    "warc_canonical" ->
      """WITH ids AS (SELECT doc_id AS d FROM documents WHERE doc_id % 11 <> 0),
        |c AS (SELECT d, CASE WHEN d % 3 = 2 THEN d - 1 ELSE d END AS p,
        |  CASE WHEN (d - d % 4) % 3 = 2 THEN d - d % 4 - 1 ELSE d - d % 4 END AS pt,
        |  d % 4 > 0 AS declared FROM ids)
        |SELECT d AS doc_id,
        |  CASE WHEN declared THEN 'https://d' || (pt % 7) || '.ex.test/d/' || pt
        |       ELSE 'https://d' || (p % 7) || '.ex.test/d/' || p ||
        |         (CASE WHEN p % 5 = 0 THEN '?a=1&b=2' ELSE '' END) END AS canonical_url,
        |  declared
        |FROM c ORDER BY doc_id""".stripMargin,

    // the fold ledger: URL-canonical groups vs declared-fold groups,
    // counted over the same replayed strings
    "warc_canonical_dedup" ->
      """WITH ids AS (SELECT doc_id AS d FROM documents WHERE doc_id % 11 <> 0),
        |c AS (SELECT d, CASE WHEN d % 3 = 2 THEN d - 1 ELSE d END AS p,
        |  CASE WHEN (d - d % 4) % 3 = 2 THEN d - d % 4 - 1 ELSE d - d % 4 END AS pt,
        |  d % 4 > 0 AS declared FROM ids),
        |r AS (SELECT
        |  'https://d' || (p % 7) || '.ex.test/d/' || p ||
        |    (CASE WHEN p % 5 = 0 THEN '?a=1&b=2' ELSE '' END) AS self_url,
        |  CASE WHEN declared THEN 'https://d' || (pt % 7) || '.ex.test/d/' || pt
        |       ELSE 'https://d' || (p % 7) || '.ex.test/d/' || p ||
        |         (CASE WHEN p % 5 = 0 THEN '?a=1&b=2' ELSE '' END) END AS resolved_url
        | FROM c)
        |SELECT CAST(count(*) AS BIGINT) AS n_pages,
        |  CAST(count(DISTINCT self_url) AS BIGINT) AS n_url_groups,
        |  CAST(count(DISTINCT resolved_url) AS BIGINT) AS n_canonical_groups
        |FROM r""".stripMargin,

    // hreflang replay: per 200 page, one row per family sibling with the
    // slot-keyed language and the alias-folded target (the feed
    // alternate never surfaces — it has no hreflang)
    "warc_hreflang" ->
      """WITH ids AS (SELECT doc_id AS d FROM documents WHERE doc_id % 11 <> 0),
        |x AS (SELECT d, d - d % 4 AS base, CAST(d % 4 AS INT) AS slot FROM ids),
        |jj AS (SELECT x.d, t.j, x.base + t.j AS sib
        |       FROM x, range(4) t(j) WHERE t.j <> x.slot),
        |r AS (SELECT d,
        |  CASE j WHEN 0 THEN 'en' WHEN 1 THEN 'fr' WHEN 2 THEN 'de'
        |         ELSE 'es' END AS hreflang,
        |  'https://d' || (sib % 7) || '.ex.test/d/' || sib AS target_url
        | FROM jj)
        |SELECT d AS doc_id, hreflang, target_url
        |FROM r ORDER BY doc_id, hreflang""".stripMargin,

    // Cluster assembly replay: cluster id = string-min over the four
    // family slot urls (alias-folded), members = 200-status docs of the
    // base, langs = union of slots each member labels (3 for a
    // singleton member, 4 once two members cross-label)
    "warc_translation_clusters" ->
      """WITH ids AS (SELECT doc_id AS d FROM documents WHERE doc_id % 11 <> 0),
        |m AS (SELECT d, d - d % 4 AS base, CAST(d % 4 AS INT) AS slot,
        |      CASE WHEN d % 3 = 2 THEN d - 1 ELSE d END AS p FROM ids),
        |bases AS (SELECT DISTINCT base FROM m),
        |slots AS (SELECT b.base, t.j, b.base + t.j AS pj
        |  FROM bases b, range(4) t(j)),
        |cl AS (SELECT base,
        |    min('https://d' || (pj % 7) || '.ex.test/d/' || pj) AS cluster_id
        |  FROM slots GROUP BY base),
        |agg AS (SELECT base, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(count(DISTINCT p % 7) AS BIGINT) AS n_hosts
        |  FROM m GROUP BY base),
        |lagg AS (SELECT m.base, CAST(count(DISTINCT t.j) AS BIGINT) AS n_langs
        |  FROM m, range(4) t(j) WHERE t.j <> m.slot GROUP BY m.base)
        |SELECT cl.cluster_id, agg.n_docs, agg.n_hosts, lagg.n_langs
        |FROM agg JOIN cl USING (base) JOIN lagg USING (base)
        |ORDER BY cluster_id""".stripMargin,

    // Canonical-URL aliasing: the oracle states the arithmetic IDEAL
    // (lowercase https, no port/fragment/tracking, sorted params, path id
    // p) — Spark must erase every planted messiness class to match.
    "warc_urls" ->
      """WITH ids AS (SELECT doc_id AS d FROM documents),
        |c AS (SELECT d, CASE WHEN d % 3 = 2 THEN d - 1 ELSE d END AS p FROM ids),
        |urls AS (SELECT d, 'https://d' || (p % 7) || '.ex.test/d/' || p ||
        |  (CASE WHEN p % 5 = 0 THEN '?a=1&b=2' ELSE '' END) AS url FROM c)
        |SELECT url, CAST(count(*) AS BIGINT) AS n_aliases,
        |  min(d) AS id_min, max(d) AS id_max
        |FROM urls GROUP BY url ORDER BY url""".stripMargin,

    // CDX replay: the SURT stated as the reversed-label ideal over the
    // canonical-url arithmetic (host d<p%7>.ex.test reverses to
    // test,ex,d<p%7>); digest over the reconstructed HTTP body (the
    // payload past its header block), record length over the full
    // payload — both from the shared byte-exact payload CTE.
    "warc_cdx" -> (warcPayloadCte +
      """SELECT
        |  'test,ex,d' || ((CASE WHEN d % 3 = 2 THEN d - 1 ELSE d END) % 7) || ')/d/' ||
        |    (CASE WHEN d % 3 = 2 THEN d - 1 ELSE d END) ||
        |    (CASE WHEN (CASE WHEN d % 3 = 2 THEN d - 1 ELSE d END) % 5 = 0
        |          THEN '?a=1&b=2' ELSE '' END) AS surt_key,
        |  d AS doc_id,
        |  CAST(CASE WHEN d % 11 = 0 THEN 404 ELSE 200 END AS INT) AS status,
        |  'text/html' AS mime,
        |  md5(substr(payload,
        |    strpos(payload, chr(13)||chr(10)||chr(13)||chr(10)) + 4)) AS digest,
        |  CAST(length(payload) AS BIGINT) AS record_length
        |FROM pay ORDER BY surt_key, doc_id""".stripMargin),

    // Pruned-lookup replay: the same CDX arithmetic restricted to the
    // two query hosts (p % 7 IN (1, 4)) — equal rows prove the
    // partitioned layout serves exactly the flat index's answer.
    "warc_cdx_pruned" -> (warcPayloadCte +
      """SELECT
        |  'd' || ((CASE WHEN d % 3 = 2 THEN d - 1 ELSE d END) % 7)
        |    || '.ex.test' AS host,
        |  'test,ex,d' || ((CASE WHEN d % 3 = 2 THEN d - 1 ELSE d END) % 7) || ')/d/' ||
        |    (CASE WHEN d % 3 = 2 THEN d - 1 ELSE d END) ||
        |    (CASE WHEN (CASE WHEN d % 3 = 2 THEN d - 1 ELSE d END) % 5 = 0
        |          THEN '?a=1&b=2' ELSE '' END) AS surt_key,
        |  d AS doc_id,
        |  CAST(CASE WHEN d % 11 = 0 THEN 404 ELSE 200 END AS INT) AS status,
        |  md5(substr(payload,
        |    strpos(payload, chr(13)||chr(10)||chr(13)||chr(10)) + 4)) AS digest
        |FROM pay
        |WHERE (CASE WHEN d % 3 = 2 THEN d - 1 ELSE d END) % 7 IN (1, 4)
        |ORDER BY surt_key, doc_id""".stripMargin),

    // Revisit-record storage dedup: the oracle rebuilds every response
    // PAYLOAD (warc_read's reconstruction, minus the uri it doesn't
    // contain) and groups by it — digest grouping in Spark must land the
    // identical partition of the archive.
    "warc_revisit_dedup" ->
      ("""WITH ids AS (SELECT doc_id AS d FROM documents),
        |nn AS (SELECT count(*) AS n FROM documents),
        |pay AS (SELECT d,
        |  (CASE WHEN d % 11 = 0 THEN 'HTTP/1.1 404 Not Found' ELSE 'HTTP/1.1 200 OK' END)
        |  || chr(13) || chr(10) || 'Content-Type: text/html' || chr(13) || chr(10) || chr(13) || chr(10) ||
        |  (CASE WHEN d % 11 = 0 THEN 'not found' ELSE '<html><body>' ||
        |     array_to_string(list_transform(range(0, d % 9 + 1), i -> 'w' || ((d * 7 + i) % 13)), ' ') ||
        |     (CASE WHEN d % 7 = 0 THEN E'\r\n\r\nWARC/1.0\r\nWARC-Type: response\r\nContent-Length: 7\r\n\r\ngotcha!' ELSE '' END)
        |     || """.stripMargin + warcAnchorSql +
        " || '</body></html>' END) AS payload FROM ids, nn)\n" +
      """SELECT md5(payload) AS payload_md5, CAST(count(*) AS BIGINT) AS n_copies,
        |  min(d) AS stored_doc, CAST(max(length(payload)) AS BIGINT) AS bytes_each,
        |  CAST((count(*) - 1) * max(length(payload)) AS BIGINT) AS bytes_saved
        |FROM pay GROUP BY md5(payload) HAVING count(*) >= 2
        |ORDER BY payload_md5""".stripMargin),

    // Deduped-sink ledger: stored rows = one per distinct payload (their
    // summed bytes), revisit rows = every further copy at zero bytes —
    // the same payload reconstruction, grouped.
    "warc_rewrite_dedup" ->
      ("""WITH ids AS (SELECT doc_id AS d FROM documents),
        |nn AS (SELECT count(*) AS n FROM documents),
        |pay AS (SELECT d,
        |  (CASE WHEN d % 11 = 0 THEN 'HTTP/1.1 404 Not Found' ELSE 'HTTP/1.1 200 OK' END)
        |  || chr(13) || chr(10) || 'Content-Type: text/html' || chr(13) || chr(10) || chr(13) || chr(10) ||
        |  (CASE WHEN d % 11 = 0 THEN 'not found' ELSE '<html><body>' ||
        |     array_to_string(list_transform(range(0, d % 9 + 1), i -> 'w' || ((d * 7 + i) % 13)), ' ') ||
        |     (CASE WHEN d % 7 = 0 THEN E'\r\n\r\nWARC/1.0\r\nWARC-Type: response\r\nContent-Length: 7\r\n\r\ngotcha!' ELSE '' END)
        |     || """.stripMargin + warcAnchorSql +
        " || '</body></html>' END) AS payload FROM ids, nn)\n" +
      """, g AS (SELECT count(*) AS c, CAST(length(payload) AS BIGINT) AS len
        |        FROM pay GROUP BY payload)
        |SELECT * FROM (
        |  SELECT 'response' AS rec_type, CAST(count(*) AS BIGINT) AS n_records,
        |    CAST(sum(len) AS BIGINT) AS bytes_stored FROM g
        |  UNION ALL
        |  SELECT 'revisit', CAST(coalesce(sum(c - 1), 0) AS BIGINT), CAST(0 AS BIGINT) FROM g)
        |WHERE n_records > 0
        |ORDER BY rec_type""".stripMargin),

    // Change-rate replay: which urls changed is pure arithmetic (the
    // LATEST record per alias group is max(d); content drifts iff that
    // record is the d%4==3 200-status class), and the estimator formula
    // is restated verbatim — Spark's digest diff must land exactly the
    // arithmetic's change set.
    "pipeline_crawl_change_rate" ->
      """WITH ids AS (SELECT doc_id AS d FROM documents),
        |c AS (SELECT d, CASE WHEN d % 3 = 2 THEN d - 1 ELSE d END AS p FROM ids),
        |g AS (SELECT p, max(d) AS dmax FROM c GROUP BY p),
        |chg AS (SELECT
        |  'https://d' || (p % 7) || '.ex.test/d/' || p ||
        |    (CASE WHEN p % 5 = 0 THEN '?a=1&b=2' ELSE '' END) AS url,
        |  (dmax % 4 = 3 AND dmax % 11 <> 0) AS changed FROM g),
        |est AS (SELECT url, changed,
        |  ln((1 + 0.5) / (1 - (CASE WHEN changed THEN 1 ELSE 0 END) + 0.5)) / 14.0 AS lam
        | FROM chg)
        |SELECT url, changed, round(lam, 6) AS lambda_hat,
        |  CASE WHEN changed THEN round(least(60.0, 0.5 / lam), 2)
        |       ELSE CAST(60.0 AS DOUBLE) END AS revisit_days
        |FROM est ORDER BY url""".stripMargin,

    // Adaptive re-fetch schedule: the due set is the changed class (its
    // interval formula restated), ranked by the converged extracted-graph
    // walk, top-5 per host.
    "pipeline_crawl_refresh_adaptive" -> (pagerankChain(
      "tele AS MATERIALIZED (SELECT node, 1.0 / (SELECT n FROM nn) AS tele FROM nodes)",
      edgesCte = extractedEdgesCte) +
      """,
        |c2 AS (SELECT d, CASE WHEN d % 3 = 2 THEN d - 1 ELSE d END AS p FROM ids),
        |g2 AS (SELECT p, max(d) AS dmax FROM c2 GROUP BY p),
        |due AS (SELECT p,
        |    'https://d' || (p % 7) || '.ex.test/d/' || p ||
        |      (CASE WHEN p % 5 = 0 THEN '?a=1&b=2' ELSE '' END) AS url,
        |    round(least(60.0, 0.5 / (ln((1 + 0.5) / 0.5) / 14.0)), 2) AS revisit_days
        |  FROM g2 WHERE dmax % 4 = 3 AND dmax % 11 <> 0),
        |scored AS (SELECT 'd' || (du.p % 7) || '.ex.test' AS host, du.url,
        |    du.p AS node, du.revisit_days, round(r.rank, 6) AS rank,
        |    row_number() OVER (PARTITION BY du.p % 7
        |      ORDER BY round(r.rank, 6) DESC, du.p) AS rn
        |  FROM due du JOIN r10 r ON r.node = du.p)
        |SELECT host, url, node, revisit_days, rank, CAST(rn AS BIGINT) AS rn
        |FROM scored WHERE rn <= 5 ORDER BY host, rn""".stripMargin),

    // Main-content replay: per 200 page, each block's verdict and the
    // retained text are closed-form in d (nav/footer always drop,
    // content keeps iff its run is >= 3 tokens, the related strip always
    // keeps on its d%4==1 class).
    "warc_main_content" ->
      """WITH ids AS (SELECT doc_id AS d FROM documents WHERE doc_id % 11 <> 0),
        |w AS (SELECT d,
        |  array_to_string(list_transform(range(0, d % 9 + 1), i -> (CASE WHEN d % 5 = 0 OR d % 5 = 2 OR d % 15 = 3 OR d % 15 = 8 THEN 'wé' WHEN d % 15 = 9 THEN 'we' || chr(769) ELSE 'w' END) || ((d * 7 + i) % 13)), ' ') AS words,
        |  d % 9 + 1 >= 3 AS keep_content,
        |  d % 4 = 1 AS has_related
        | FROM ids)
        |SELECT d AS doc_id,
        |  -- d%13==5: the nested nav segments as TWO blocks (inner nav +
        |  -- breadcrumb), both all-anchor and dropped
        |  CAST(3 + (CASE WHEN d % 13 = 5 THEN 1 ELSE 0 END)
        |     + (CASE WHEN has_related THEN 1 ELSE 0 END) AS BIGINT) AS n_blocks,
        |  CAST((CASE WHEN keep_content THEN 1 ELSE 0 END)
        |     + (CASE WHEN has_related THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST((CASE WHEN keep_content THEN d % 9 + 1 ELSE 0 END)
        |     + (CASE WHEN has_related THEN 7 ELSE 0 END) AS BIGINT) AS main_tokens,
        |  -- array_to_string of an EMPTY list is NULL in DuckDB; the
        |  -- zero-kept page's retained text is the empty string
        |  md5(coalesce(array_to_string(list_filter([
        |    CASE WHEN keep_content THEN words ELSE NULL END,
        |    CASE WHEN has_related THEN 'more w1 w2 w3 w4 w5 w6' ELSE NULL END],
        |    x -> x IS NOT NULL), chr(10)), '')) AS main_md5
        |FROM w ORDER BY doc_id""".stripMargin,

    // Budget replay: the same Hamilton arithmetic over the replayed
    // per-host 200-page demand — `//` and `%` on BIGINTs, leftover to
    // the largest remainders, host-ascending tiebreak.
    "pipeline_crawl_budget" ->
      """WITH ids AS (SELECT doc_id AS d FROM documents WHERE doc_id % 11 <> 0),
        |h AS (SELECT 'd' || ((CASE WHEN d % 3 = 2 THEN d - 1 ELSE d END) % 7)
        |  || '.ex.test' AS host FROM ids),
        |dm AS (SELECT host, count(*) AS demand FROM h GROUP BY host),
        |t AS (SELECT sum(demand) AS total FROM dm),
        |q AS (SELECT host, demand, (demand * 100) // total AS base,
        |  (demand * 100) % total AS rem FROM dm, t),
        |l AS (SELECT 100 - sum(base) AS leftover FROM q),
        |r AS (SELECT *, row_number() OVER (ORDER BY rem DESC, host) AS rk FROM q)
        |SELECT host, CAST(demand AS BIGINT) AS demand,
        |  CAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT) AS allocated
        |FROM r, l ORDER BY host""".stripMargin,

    // Robots cache age: the per-host fetch clock and the 24 h validity
    // bound restated as arithmetic.
    "pipeline_crawl_robots_age" ->
      """WITH h AS (SELECT CAST(range AS BIGINT) AS h FROM range(7)),
        |f AS (SELECT 'd' || h || '.ex.test' AS host,
        |  TIMESTAMP '2026-02-01 00:00:00'
        |    + to_hours(CAST((h * 9) % 40 AS BIGINT)) AS ts FROM h)
        |SELECT host, strftime(ts, '%Y-%m-%d %H:%M') AS fetched_at,
        |  CAST(datediff('hour', ts, TIMESTAMP '2026-02-03 00:00:00') AS BIGINT) AS age_hours,
        |  datediff('hour', ts, TIMESTAMP '2026-02-03 00:00:00') > 24 AS robots_stale
        |FROM f ORDER BY host""".stripMargin,

    // Main-content pipeline replay: the pipeline_warc tier chain with
    // the text tier on the reconstructed MAIN text (nav/footer chrome
    // stripped, so the host-keyed footer never blocks the dedup fold).
    "pipeline_warc_main" -> warcMainPipelineOracle,

    // Host-gate replay: main-token arithmetic per page grouped on the
    // host key, thin threshold restated as the same integer compare.
    "pipeline_host_gate" ->
      """WITH ids AS (SELECT doc_id AS d FROM documents WHERE doc_id % 11 <> 0),
        |m AS (SELECT d, CASE WHEN d % 3 = 2 THEN d - 1 ELSE d END AS p,
        |  CAST((CASE WHEN d % 9 + 1 >= 3 THEN d % 9 + 1 ELSE 0 END)
        |     + (CASE WHEN d % 4 = 1 THEN 7 ELSE 0 END) AS BIGINT) AS mt
        | FROM ids),
        |g AS (SELECT 'd' || (p % 7) || '.ex.test' AS host,
        |  CAST(count(*) AS BIGINT) AS n_pages,
        |  CAST(sum(CASE WHEN mt < 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_thin,
        |  CAST(sum(mt) AS BIGINT) AS sum_tokens
        | FROM m GROUP BY 1)
        |SELECT host, n_pages, n_thin, sum_tokens,
        |  n_thin * 6 <= n_pages AS host_kept
        |FROM g ORDER BY host""".stripMargin,

    // the SAME oracle: id-ordered streamed first-claim over the main
    // frame must equal the batch resolution (equivalence proof)
    "warc_main_streamed" -> warcMainPipelineOracle,

    // Charset replay: class arithmetic for the (charset, source) pair —
    // BOM > header > meta-in-prelude > default, earlier-of-forms on
    // conflicting metas, the decoy and the late declaration resolving
    // AWAY from their planted names — plus the DECODED body's md5: the
    // oracle reconstructs the page's char string (what a correct decode
    // yields), so the latin-1/UTF-16/BOM classes only hash-match if
    // detection actually fed decode. DuckDB md5 hashes the UTF-8 bytes
    // of the reconstructed string, same as Spark's md5-of-string.
    "warc_charset" ->
      """WITH ids AS (SELECT doc_id AS d FROM documents WHERE doc_id % 11 <> 0),
        |w AS (SELECT d, CASE WHEN d % 3 = 2 THEN d - 1 ELSE d END AS p,
        |  array_to_string(list_transform(range(0, d % 9 + 1), i -> (CASE WHEN d % 5 = 0 OR d % 5 = 2 OR d % 15 = 3 OR d % 15 = 8 THEN 'wé' WHEN d % 15 = 9 THEN 'we' || chr(769) ELSE 'w' END) || ((d * 7 + i) % 13)), ' ') AS words
        | FROM ids),
        |pg AS (SELECT d, '<html>' ||
        |  (CASE WHEN d % 5 = 1 THEN '<head><meta name="description" content="all about charset=EBCDIC pages"><meta charset="UTF-8"></head>'
        |        WHEN d % 5 = 2 THEN '<head><meta http-equiv="Content-Type" content="text/html; charset=Windows-1252"></head>'
        |        WHEN d % 15 = 13 THEN '<head><!-- ' || repeat('x', 1100) || ' --><meta http-equiv="Content-Type" content="text/html; charset=ISO-8859-1"></head>'
        |        WHEN d % 15 = 4 THEN '<head><meta http-equiv="Content-Type" content="text/html; charset=ISO-8859-5"><meta charset="KOI8-R"></head>'
        |        WHEN d % 15 = 14 THEN '<head><script>var nav = "<div>decoy</div>";</script></head>'
        |        ELSE '' END) ||
        |  (CASE WHEN d % 13 = 5
        |        THEN '<body><div><div><a href="/">nav0</a> <a href="/about">nav1</a> <a href="/news">nav2</a></div> <a href="/crumb">crumb</a></div>'
        |        ELSE '<body><div><a href="/">nav0</a> <a href="/about">nav1</a> <a href="/news">nav2</a></div>' END) ||
        |  '<p>' || words || '</p>' ||
        |  (CASE WHEN d % 4 = 1 THEN '<div><a href="/r">more</a> w1 w2 w3 w4 w5 w6</div>' ELSE '' END) ||
        |  '<div><a href="/about">about</a> <a href="/contact">contact</a> c' || (p % 7) ||
        |  '</div></body></html>' AS body
        | FROM w)
        |SELECT d AS doc_id,
        |  CASE WHEN d % 15 = 3 THEN 'utf-8'
        |       WHEN d % 15 = 8 THEN 'utf-16le'
        |       WHEN d % 5 = 0 THEN 'iso-8859-1'
        |       WHEN d % 5 = 2 THEN 'windows-1252'
        |       WHEN d % 15 = 4 THEN 'iso-8859-5'
        |       ELSE 'utf-8' END AS charset,
        |  CASE WHEN d % 15 = 3 OR d % 15 = 8 THEN 'bom'
        |       WHEN d % 5 = 0 THEN 'header'
        |       WHEN d % 5 = 1 OR d % 5 = 2 OR d % 15 = 4 THEN 'meta'
        |       ELSE 'default' END AS charset_source,
        |  md5(body) AS body_md5
        |FROM pg ORDER BY doc_id""".stripMargin,

    // NFC replay: the reconstructed main text's md5 raw and through
    // DuckDB's own nfc_normalize — the changed flag goes TRUE exactly
    // where the planted decomposed sequence survives into kept content
    "warc_text_nfc" ->
      """WITH ids AS (SELECT doc_id AS d FROM documents WHERE doc_id % 11 <> 0),
        |w AS (SELECT d,
        |  array_to_string(list_transform(range(0, d % 9 + 1), i -> (CASE WHEN d % 5 = 0 OR d % 5 = 2 OR d % 15 = 3 OR d % 15 = 8 THEN 'wé' WHEN d % 15 = 9 THEN 'we' || chr(769) ELSE 'w' END) || ((d * 7 + i) % 13)), ' ') AS words,
        |  d % 9 + 1 >= 3 AS keep_content,
        |  d % 4 = 1 AS has_related
        | FROM ids),
        |m AS (SELECT d,
        |  coalesce(array_to_string(list_filter([
        |    CASE WHEN keep_content THEN words ELSE NULL END,
        |    CASE WHEN has_related THEN 'more w1 w2 w3 w4 w5 w6' ELSE NULL END],
        |    x -> x IS NOT NULL), chr(10)), '') AS t
        | FROM w)
        |SELECT d AS doc_id, md5(t) AS text_md5,
        |  md5(nfc_normalize(t)) AS text_md5_nfc,
        |  md5(t) <> md5(nfc_normalize(t)) AS nfc_changed
        |FROM m ORDER BY doc_id""".stripMargin,

    // Chrome-vs-content dedup ledger: distinctness over md5 equals
    // distinctness over the texts themselves, so the oracle counts
    // distinct reconstructed texts directly — raw carries the host-keyed
    // footer, main doesn't.
    "warc_main_dedup" ->
      """WITH ids AS (SELECT doc_id AS d FROM documents WHERE doc_id % 11 <> 0),
        |w AS (SELECT d, CASE WHEN d % 3 = 2 THEN d - 1 ELSE d END AS p,
        |  array_to_string(list_transform(range(0, d % 9 + 1), i -> (CASE WHEN d % 5 = 0 OR d % 5 = 2 OR d % 15 = 3 OR d % 15 = 8 THEN 'wé' WHEN d % 15 = 9 THEN 'we' || chr(769) ELSE 'w' END) || ((d * 7 + i) % 13)), ' ') AS words,
        |  d % 9 + 1 >= 3 AS keep_content,
        |  d % 4 = 1 AS has_related
        | FROM ids),
        |texts AS (SELECT
        |  'nav0 nav1 nav2' ||
        |    (CASE WHEN d % 13 = 5 THEN chr(10) || 'crumb' ELSE '' END) ||
        |    chr(10) || words ||
        |    (CASE WHEN has_related THEN chr(10) || 'more w1 w2 w3 w4 w5 w6' ELSE '' END) ||
        |    chr(10) || 'about contact c' || (p % 7) AS raw_t,
        |  coalesce(array_to_string(list_filter([
        |    CASE WHEN keep_content THEN words ELSE NULL END,
        |    CASE WHEN has_related THEN 'more w1 w2 w3 w4 w5 w6' ELSE NULL END],
        |    x -> x IS NOT NULL), chr(10)), '') AS main_t
        | FROM w)
        |SELECT CAST(count(*) AS BIGINT) AS n_pages,
        |  CAST(count(DISTINCT raw_t) AS BIGINT) AS n_raw_distinct,
        |  CAST(count(DISTINCT main_t) AS BIGINT) AS n_main_distinct
        |FROM texts""".stripMargin,

    // CCNet paragraph-dedup replay: the per-page DECODED block list
    // (nav / crumb / words / related / footer, same classes as the
    // charset oracle) unnested with positions, first occurrence by the
    // identical (doc, pos) window, reassembly in block order.
    "warc_ccnet_paradedup" ->
      """WITH ids AS (SELECT doc_id AS d FROM documents WHERE doc_id % 11 <> 0),
        |w AS (SELECT d, CASE WHEN d % 3 = 2 THEN d - 1 ELSE d END AS p,
        |  array_to_string(list_transform(range(0, d % 9 + 1), i -> (CASE WHEN d % 5 = 0 OR d % 5 = 2 OR d % 15 = 3 OR d % 15 = 8 THEN 'wé' WHEN d % 15 = 9 THEN 'we' || chr(769) ELSE 'w' END) || ((d * 7 + i) % 13)), ' ') AS words
        | FROM ids),
        |bdoc AS (SELECT d, list_filter([
        |    'nav0 nav1 nav2',
        |    CASE WHEN d % 13 = 5 THEN 'crumb' END,
        |    words,
        |    CASE WHEN d % 4 = 1 THEN 'more w1 w2 w3 w4 w5 w6' END,
        |    'about contact c' || (p % 7)], x -> x IS NOT NULL) AS bl
        | FROM w),
        |ex AS (SELECT d, unnest(list_transform(range(1, len(bl) + 1),
        |    i -> {pos: i, text: bl[i]})) AS u FROM bdoc),
        |ex2 AS (SELECT d, u.pos AS pos, u.text AS text FROM ex),
        |fr AS (SELECT d, pos, text,
        |  row_number() OVER (PARTITION BY text ORDER BY d, pos) = 1 AS first_seen
        | FROM ex2)
        |SELECT d AS doc_id, CAST(count(*) AS BIGINT) AS n_paras,
        |  CAST(sum(CASE WHEN first_seen THEN 1 ELSE 0 END) AS BIGINT) AS n_paras_kept,
        |  md5(coalesce(string_agg(CASE WHEN first_seen THEN text END,
        |    chr(10) ORDER BY pos), '')) AS kept_md5
        |FROM fr GROUP BY d ORDER BY doc_id""".stripMargin,

    // The extracted edge table IS the frontier oracles' edges CTE —
    // one definition, consumed by warc_links directly and by the
    // rank chains of pipeline_crawl_frontier / pipeline_crawl_polite.
    "warc_links" -> warcLinksOracle,

    // Weak components: transitive closure over the symmetrized extracted
    // edges (the dedup_phash_clusters recursive-CTE pattern), component
    // id = min reachable node.
    "graph_components" -> graphComponentsOracle,

    // LPA replay: one materialized CTE per synchronous round over the
    // symmetrized extracted edges — per-node argmax via QUALIFY with
    // the identical (count DESC, label ASC) order.
    "graph_lpa" -> {
      def round(t: Int): String =
        s"""r$t AS MATERIALIZED (
           |  SELECT node, lab FROM (
           |    SELECT node, lab, count(*) AS c FROM (
           |      SELECT e.dst AS node, l.lab AS lab
           |      FROM sed e JOIN r${t - 1} l ON l.node = e.src
           |      UNION ALL SELECT node, lab FROM r${t - 1})
           |    GROUP BY 1, 2)
           |  QUALIFY row_number() OVER (PARTITION BY node ORDER BY c DESC, lab) = 1)""".stripMargin
      """WITH ids AS (SELECT doc_id AS d FROM documents),
        |nd AS (SELECT count(*) AS n_docs FROM ids),
        |""".stripMargin + extractedEdgesCte + "\n" +
      """sed AS MATERIALIZED (
        |  SELECT src, dst FROM edges WHERE src <> dst
        |  UNION
        |  SELECT dst, src FROM edges WHERE src <> dst),
        |r0 AS MATERIALIZED (SELECT DISTINCT src AS node, src AS lab FROM sed),
        |""".stripMargin +
      (1 to 5).map(round).mkString(",\n") + ",\n" +
      """sz AS (SELECT lab, CAST(count(*) AS BIGINT) AS community_size
        |  FROM r5 GROUP BY lab)
        |SELECT r5.node, r5.lab AS community, sz.community_size
        |FROM r5 JOIN sz USING (lab) ORDER BY node""".stripMargin
    },

    // the SAME oracle: star-edge warm start + new-class pairs must
    // relabel identically to the from-scratch closure
    "graph_components_incremental" -> graphComponentsOracle,

    // the SAME oracle: streamed accumulation + deferred resolution must
    // equal batch extraction (equivalence proof)
    "warc_links_streamed" -> warcLinksOracle,

    // and again: the compacted index must resolve identically
    "warc_links_compacted" -> warcLinksOracle,

    // in-degree + distinct referring hosts over the same edges CTE
    "warc_inlinks" ->
      ("""WITH ids AS (SELECT doc_id AS d FROM documents),
        |nd AS (SELECT count(*) AS n_docs FROM ids),
        |""".stripMargin + extractedEdgesCte.stripSuffix(",") + """
        |SELECT dst AS node, CAST(count(*) AS BIGINT) AS in_degree,
        |  CAST(count(DISTINCT src % 7) AS BIGINT) AS n_src_hosts
        |FROM edges GROUP BY dst ORDER BY node""".stripMargin),

    // Anchor-text replay: the block fixture's per-page anchor (path,
    // text) pairs stated arithmetically, targets resolved onto the
    // page's host, vocabulary as a sorted-distinct capped (64)
    // '|'-joined scalar — arrays never surface at top level.
    "warc_anchor_text" ->
      """WITH ids AS (SELECT doc_id AS d FROM documents WHERE doc_id % 11 <> 0),
        |h AS (SELECT d, (CASE WHEN d % 3 = 2 THEN d - 1 ELSE d END) % 7 AS hn FROM ids),
        |pr AS (SELECT hn, unnest(list_filter([
        |    {p: '/', t: 'nav0'}, {p: '/about', t: 'nav1'}, {p: '/news', t: 'nav2'},
        |    CASE WHEN d % 13 = 5 THEN {p: '/crumb', t: 'crumb'} END,
        |    CASE WHEN d % 4 = 1 THEN {p: '/r', t: 'more'} END,
        |    {p: '/about', t: 'about'}, {p: '/contact', t: 'contact'}],
        |  x -> x IS NOT NULL)) AS a FROM h),
        |tg AS (SELECT 'https://d' || hn || '.ex.test' || a.p AS target_url,
        |  a.t AS text FROM pr)
        |SELECT target_url, CAST(count(*) AS BIGINT) AS n_refs,
        |  array_to_string(list_sort(list_distinct(list(text)))[1:64], '|') AS anchor_texts
        |FROM tg GROUP BY target_url ORDER BY target_url""".stripMargin,

    // cold ranks over the extracted graph replay the shared chain; the
    // warm-refresh proximity gate is Spark-computed and pinned TRUE
    "pipeline_crawl_refresh" -> (pagerankChain(
      "tele AS MATERIALIZED (SELECT node, 1.0 / (SELECT n FROM nn) AS tele FROM nodes)",
      edgesCte = extractedEdgesCte) +
      "\nSELECT node, round(rank, 6) AS rank, TRUE AS warm_within_tol " +
      "FROM r10 ORDER BY node"),

    // Replays the four pipeline tiers over the reconstructed pages: url
    // slots claimed by min doc_id BEFORE the quality gate, then the
    // min-id text-md5 representative among the gated url survivors.
    // SHARED with warc_ingest_streamed (equivalence proof).
    "pipeline_warc" -> warcPipelineOracle,
    "warc_ingest_streamed" -> warcPipelineOracle,

    // Sink round-trip: exactly warc_read's response reconstruction,
    // restricted to the 200-status pages the rewrite kept — the re-read
    // of the RE-EXPORTED archive must still hash byte-exactly.
    "warc_rewrite" ->
      ("""WITH ids AS (SELECT doc_id AS d FROM documents WHERE doc_id % 11 <> 0),
        |nn AS (SELECT count(*) AS n FROM documents),
        |b AS (SELECT d, d % 4 AS v, CASE WHEN d % 3 = 2 THEN d - 1 ELSE d END AS p FROM ids),
        |q AS (SELECT *, array_to_string(list_filter([
        |    CASE WHEN p % 5 = 0 THEN (CASE WHEN d % 2 = 0 THEN 'a=1&b=2' ELSE 'b=2&a=1' END) ELSE '' END,
        |    CASE WHEN v = 1 THEN 'utm_source=news' ELSE '' END], x -> x <> ''), '&') AS qs FROM b),
        |u AS (SELECT d, v, p,
        |  (CASE WHEN v = 1 THEN 'HTTPS' ELSE 'https' END) || '://' ||
        |  (CASE WHEN v = 1 THEN upper('d' || (p % 7) || '.ex.test') ELSE 'd' || (p % 7) || '.ex.test' END) ||
        |  (CASE WHEN v = 1 THEN ':443' ELSE '' END) || '/d/' || p ||
        |  (CASE WHEN qs <> '' THEN '?' || qs ELSE '' END) ||
        |  (CASE WHEN v = 2 THEN '#frag' ELSE '' END) AS uri FROM q),
        |pay AS (SELECT d, uri,
        |  'HTTP/1.1 200 OK'
        |  || chr(13) || chr(10) || 'Content-Type: text/html' || chr(13) || chr(10) || chr(13) || chr(10) ||
        |  '<html><body>' ||
        |     array_to_string(list_transform(range(0, d % 9 + 1), i -> 'w' || ((d * 7 + i) % 13)), ' ') ||
        |     (CASE WHEN d % 7 = 0 THEN E'\r\n\r\nWARC/1.0\r\nWARC-Type: response\r\nContent-Length: 7\r\n\r\ngotcha!' ELSE '' END)
        |     || """.stripMargin + warcAnchorSql +
        " || '</body></html>' AS payload FROM u, nn)\n" +
        """SELECT d AS doc_id, uri,
        |  CAST(length(payload) AS BIGINT) AS content_length, md5(payload) AS payload_md5
        |FROM pay ORDER BY doc_id""".stripMargin),

    // PageRank: the 10 rounds replay as a generated chain of MATERIALIZED
    // CTEs — each round references its predecessor twice (transpose +
    // dangling sum), so materialization is what keeps the replay linear
    // instead of 2^10 scans.
    // The gate's arithmetic ideal under longest-match precedence:
    // host h blocks prefix '/d/h' EXCEPT the longer 'Allow: /d/h5'
    // carve-out; host 5 blocks nothing (empty Disallow); host 6 also
    // blocks '/d/16' (its '65' carve-out wins by length over '/d/6');
    // host 4 additionally blocks any path matching '/d/*7$' — the len-7
    // wildcard rule outranks both Allows, while its decoy 'Allow: /d/'
    // must lose every contest; the fetchbot and '*bot' decoy groups must
    // never leak (either would block everything).
    "warc_robots_gate" ->
      """WITH ids AS (SELECT doc_id AS d FROM documents),
        |pg AS (SELECT d, CASE WHEN d % 3 = 2 THEN d - 1 ELSE d END AS p FROM ids),
        |m AS (SELECT d, p, p % 7 AS h, CAST(p AS VARCHAR) AS s FROM pg)
        |SELECT d AS doc_id, 'd' || h || '.ex.test' AS host,
        |  CASE WHEN h = 5 THEN FALSE
        |       WHEN h = 4 THEN s LIKE '%7'
        |            OR (starts_with(s, '4') AND NOT starts_with(s, '45'))
        |       WHEN h = 6 THEN (starts_with(s, '6') AND NOT starts_with(s, '65'))
        |            OR starts_with(s, '16')
        |       ELSE starts_with(s, CAST(h AS VARCHAR))
        |            AND NOT starts_with(s, CAST(h AS VARCHAR) || '5')
        |  END AS blocked
        |FROM m ORDER BY doc_id""".stripMargin,

    // redirect chains replay in CLOSED FORM — lengths and targets are
    // arithmetic (m%3+1 hops to /d/(h+7m)), so the oracle states the
    // ideal and the walk must erase the hop mechanics (incl. relative
    // Location resolution); the self-loop class reports the spent
    // 8-hop budget, unresolved
    "pipeline_crawl_redirects" ->
      """WITH hm AS (SELECT h, m FROM range(7) t(h), range(10) t2(m))
        |SELECT 'https://d' || h || '.ex.test/r/' || h || '/' || m || '/0' AS origin,
        |  CASE WHEN m = 9 THEN 'https://d' || h || '.ex.test/r/' || h || '/9/0'
        |       ELSE 'https://d' || h || '.ex.test/d/' || (h + m*7) END AS final_url,
        |  CAST(CASE WHEN m = 9 THEN 8 ELSE m % 3 + 1 END AS BIGINT) AS n_hops,
        |  m <> 9 AS resolved
        |FROM hm ORDER BY origin""".stripMargin,

    // the status tier replays by host class: h%4==0 hosts evaluate the
    // rule CASE (same arithmetic as warc_robots_gate), h%4==1 hosts are
    // 404-unavailable (nothing blocked), h%4∈{2,3} are 503/timeout
    // (everything blocked)
    "warc_robots_gate_status" ->
      """WITH ids AS (SELECT doc_id AS d FROM documents),
        |pg AS (SELECT d, CASE WHEN d % 3 = 2 THEN d - 1 ELSE d END AS p FROM ids),
        |m AS (SELECT d, p, p % 7 AS h, CAST(p AS VARCHAR) AS s FROM pg)
        |SELECT d AS doc_id, 'd' || h || '.ex.test' AS host,
        |  CASE WHEN h % 4 = 0 THEN 200 WHEN h % 4 = 1 THEN 404
        |       WHEN h % 4 = 2 THEN 503 END AS fetch_status,
        |  CASE WHEN h % 4 = 1 THEN FALSE
        |       WHEN h % 4 >= 2 THEN TRUE
        |       WHEN h = 4 THEN s LIKE '%7'
        |            OR (starts_with(s, '4') AND NOT starts_with(s, '45'))
        |       ELSE starts_with(s, CAST(h AS VARCHAR))
        |            AND NOT starts_with(s, CAST(h AS VARCHAR) || '5')
        |  END AS blocked
        |FROM m ORDER BY doc_id""".stripMargin,

    // graftbot's groups invert the bulk arithmetic: Disallow /d/ blocks
    // everything except the longer host-digit Allow carve-out (h||'5'),
    // delay 7 from the named group — host 3 alone falls back to the `*`
    // tier's verdicts and its 2.0 delay
    "warc_robots_gate_bot" ->
      """WITH ids AS (SELECT doc_id AS d FROM documents),
        |pg AS (SELECT d, CASE WHEN d % 3 = 2 THEN d - 1 ELSE d END AS p FROM ids),
        |m AS (SELECT d, p, p % 7 AS h, CAST(p AS VARCHAR) AS s FROM pg)
        |SELECT d AS doc_id, 'd' || h || '.ex.test' AS host,
        |  CASE WHEN h = 3 THEN starts_with(s, '3') AND NOT starts_with(s, '35')
        |       ELSE NOT starts_with(s, CAST(h AS VARCHAR) || '5') END AS blocked,
        |  CASE WHEN h = 3 THEN 2.0 ELSE 7.0 END AS crawl_delay
        |FROM m ORDER BY doc_id""".stripMargin,

    // every variant (plain, shouting-caps-with-port, whitespace-padded)
    // canonicalizes to the one arithmetic form; decoy siblings never
    // surface — the replay states the ideal directly
    "warc_sitemap_urls" -> sitemapUrlsOracle,

    // nesting ≡ flat: the two-level index walk must land the identical
    // seed set — shares warc_sitemap_urls' oracle verbatim
    "warc_sitemap_index" -> sitemapUrlsOracle,

    // recursion ≡ flat: the cycle-guarded depth-budgeted walk over the
    // 3-level fixture must land the identical seed set — the same oracle
    // VERBATIM is the termination-and-completeness proof (a cycle that
    // re-fetched would not change the set, but a walk that died early or
    // followed the planted loops forever would never produce it)
    "warc_sitemap_walk" -> sitemapUrlsOracle,

    // seeds (the pipeline_crawl_seeds set) gated per GRAFTBOT's groups —
    // hosts with the stacked group block everything but the host-digit
    // Allow carve-out and pace at 7 s; host 3 falls back to the `*`
    // prefix rules and the 2 s delay — then the top-3-by-url enqueue
    // budget. r16: the robots cache clock gates the schedule — stale
    // hosts ((h*9)%40 < 24, i.e. age 48−fetch_h > 24) prepend a
    // robots_refresh row at offset 0 and their page offsets shift one
    // delay slot (rn×delay instead of (rn−1)×delay)
    "pipeline_crawl_enqueue" ->
      """WITH nn AS (SELECT count(*) AS n FROM documents),
        |ks AS (SELECT h, k, CASE WHEN k < 40 THEN h + 7*k
        |              ELSE (SELECT n FROM nn) + h + 7*(k-40) END AS p
        |  FROM range(7) t(h), range(43) t2(k)),
        |seeds AS (SELECT DISTINCT h, CAST(p AS VARCHAR) AS s,
        |    'https://d' || h || '.ex.test/d/' || p AS url
        |  FROM ks
        |  WHERE NOT (p < (SELECT n FROM nn) AND p % 3 <> 2
        |             AND (p % 5 <> 0 OR (k % 4 = 3 AND k < 40)))),
        |allowed AS (SELECT * FROM seeds WHERE NOT (
        |  CASE WHEN h = 3 THEN starts_with(s, '3') AND NOT starts_with(s, '35')
        |       ELSE NOT starts_with(s, CAST(h AS VARCHAR) || '5') END)),
        |q AS (SELECT h, 'd' || h || '.ex.test' AS host, url,
        |    row_number() OVER (PARTITION BY h ORDER BY url) AS rn,
        |    CASE WHEN h = 3 THEN 2.0 ELSE 7.0 END AS delay,
        |    ((h * 9) % 40) < 24 AS stale
        |  FROM allowed)
        |SELECT host, kind, url, scheduled_offset_s FROM (
        |  SELECT host, 'fetch' AS kind, url,
        |    CAST((rn - 1 + CASE WHEN stale THEN 1 ELSE 0 END) * delay
        |      AS DOUBLE) AS scheduled_offset_s
        |  FROM q WHERE rn <= 3
        |  UNION ALL
        |  SELECT DISTINCT host, 'robots_refresh',
        |    'https://' || host || '/robots.txt', CAST(0 AS DOUBLE)
        |  FROM q WHERE stale AND rn <= 3)
        |ORDER BY host, scheduled_offset_s, url""".stripMargin,

    // a sitemap loc is already-discovered ONLY when its canonical form
    // truly matches a discovered url: the bare form for in-corpus (p<n),
    // non-alias (p%3<>2), non-query (p%5<>0) pages — and, new with the
    // entity class, the DECODED query form (k%4==3, p%5==0, p%3<>2, k<40)
    // which folds onto the discovered '?a=1&b=2' canonical and must DROP
    // from the seed set. Everything else is a frontier seed.
    "pipeline_crawl_seeds" ->
      """WITH nn AS (SELECT count(*) AS n FROM documents),
        |ks AS (SELECT h, k, CASE WHEN k < 40 THEN h + 7*k
        |              ELSE (SELECT n FROM nn) + h + 7*(k-40) END AS p
        |  FROM range(7) t(h), range(43) t2(k))
        |SELECT DISTINCT 'd' || h || '.ex.test' AS host,
        |  'https://d' || h || '.ex.test/d/' || p AS url
        |FROM ks
        |WHERE NOT (p < (SELECT n FROM nn) AND p % 3 <> 2
        |           AND (p % 5 <> 0 OR (k % 4 = 3 AND k < 40)))
        |ORDER BY host, url""".stripMargin,

    // the parse is the load-bearing half: the URL comes out of the DECOY
    // group (group-independence) while that group's rules never leak
    "warc_sitemaps" ->
      """SELECT 'd' || i || '.ex.test' AS host,
        |  'https://d' || i || '.ex.test/sitemap-' || i || '.xml' AS sitemap
        |FROM range(7) t(i) ORDER BY host""".stripMargin,

    // the schedule replays the full composition: extracted-edges rank
    // chain, the RULES-tier gate arithmetic (same CASE as
    // warc_robots_gate), the windowed per-host budget, and the
    // (rn−1) × 2.0 pacing from the *-group's Crawl-delay
    "pipeline_crawl_schedule" -> (pagerankChain(
      "tele AS MATERIALIZED (SELECT node, 1.0 / (SELECT n FROM nn) AS tele FROM nodes)",
      edgesCte = extractedEdgesCte) +
      """,
        |pg AS (SELECT DISTINCT CASE WHEN d % 3 = 2 THEN d - 1 ELSE d END AS p FROM ids),
        |cand AS (SELECT p, p % 7 AS h, CAST(p AS VARCHAR) AS ps,
        |    'https://d' || (p % 7) || '.ex.test/d/' || p ||
        |    (CASE WHEN p % 5 = 0 THEN '?a=1&b=2' ELSE '' END) AS url FROM pg),
        |allowed AS (SELECT * FROM cand WHERE NOT (
        |  CASE WHEN h = 5 THEN FALSE
        |       WHEN h = 4 THEN ps LIKE '%7'
        |            OR (starts_with(ps, '4') AND NOT starts_with(ps, '45'))
        |       WHEN h = 6 THEN (starts_with(ps, '6') AND NOT starts_with(ps, '65'))
        |            OR starts_with(ps, '16')
        |       ELSE starts_with(ps, CAST(h AS VARCHAR))
        |            AND NOT starts_with(ps, CAST(h AS VARCHAR) || '5') END)),
        |scored AS (SELECT 'd' || a.h || '.ex.test' AS host, a.url, a.p AS node,
        |    round(r.rank, 6) AS rank,
        |    row_number() OVER (PARTITION BY a.h
        |                       ORDER BY round(r.rank, 6) DESC, a.p) AS rn
        |  FROM allowed a JOIN r10 r ON r.node = a.p)
        |SELECT host, url, node, rank, (rn - 1) * 2.0 AS scheduled_offset_s
        |FROM scored WHERE rn <= 3 ORDER BY host, node""".stripMargin),

    // lastmod refresh: the rank chain + the fixture's lastmod arithmetic
    // (2026-01-01 + p%60 days vs the 2026-02-01 snapshot ⇒ stale iff
    // p%60 ≥ 32) + the known-url condition (bare form discovered for
    // p%5<>0; the k%4==3 decoded query form for p%5==0) + the two-key
    // staleness-first window, top-12 per host
    "pipeline_crawl_refresh_lastmod" -> (pagerankChain(
      "tele AS MATERIALIZED (SELECT node, 1.0 / (SELECT n FROM nn) AS tele FROM nodes)",
      edgesCte = extractedEdgesCte) +
      """,
        |ks2 AS (SELECT h, k, h + 7*k AS p FROM range(7) t(h), range(40) t2(k)),
        |loc2 AS (SELECT h, k, p,
        |    'https://d' || h || '.ex.test/d/' || p ||
        |      (CASE WHEN k % 4 = 3 AND p % 5 = 0 AND p % 3 <> 2
        |            THEN '?a=1&b=2' ELSE '' END) AS url,
        |    DATE '2026-01-01' + CAST(p % 60 AS INTEGER) AS lastmod
        |  FROM ks2),
        |pg2 AS (SELECT DISTINCT CASE WHEN d % 3 = 2 THEN d - 1 ELSE d END AS p FROM ids),
        |known AS (SELECT l.h, l.p, l.url, l.lastmod
        |  FROM loc2 l JOIN pg2 ON pg2.p = l.p
        |  WHERE l.p % 5 <> 0 OR l.k % 4 = 3),
        |scored AS (SELECT 'd' || kn.h || '.ex.test' AS host, kn.url,
        |    kn.p AS node, strftime(kn.lastmod, '%Y-%m-%d') AS lastmod,
        |    kn.lastmod > DATE '2026-02-01' AS is_stale,
        |    round(r.rank, 6) AS rank,
        |    row_number() OVER (PARTITION BY kn.h
        |      ORDER BY (kn.lastmod > DATE '2026-02-01') DESC,
        |               round(r.rank, 6) DESC, kn.p) AS rn
        |  FROM known kn JOIN r10 r ON r.node = kn.p)
        |SELECT host, url, node, lastmod, is_stale, rank,
        |  CAST(rn AS BIGINT) AS rn
        |FROM scored WHERE rn <= 12 ORDER BY host, rn""".stripMargin),

    // the re-fetch schedule replays the stale-set CTEs (fetch-batch +
    // lastmod arithmetic), graftbot's gate CASE (path '/d/p' under the
    // stacked group's Disallow /d/ + host-digit Allow carve-out; the `*`
    // prefix tier on host 3), the per-bot delay, and the top-3 staleness
    // budget with (rn−1)×delay offsets
    "pipeline_crawl_refresh_enqueue" ->
      """WITH nn AS (SELECT count(*) AS n FROM documents),
        |ks AS (SELECT h, k, h + 7*k AS p FROM range(7) t(h), range(40) t2(k)),
        |loc AS (SELECT h, k, p,
        |    'https://d' || h || '.ex.test/d/' || p ||
        |      (CASE WHEN k % 4 = 3 AND p % 5 = 0 AND p % 3 <> 2
        |            THEN '?a=1&b=2' ELSE '' END) AS url,
        |    DATE '2026-01-01' + CAST(p % 60 AS INTEGER) AS lastmod
        |  FROM ks),
        |pg AS (SELECT DISTINCT CASE WHEN doc_id % 3 = 2 THEN doc_id - 1
        |                            ELSE doc_id END AS p FROM documents),
        |known AS (SELECT l.h, l.p, l.url, l.lastmod
        |  FROM loc l JOIN pg ON pg.p = l.p
        |  WHERE l.p % 5 <> 0 OR l.k % 4 = 3),
        |stale AS (SELECT *,
        |    date_diff('day', DATE '2026-02-01' + CAST(
        |      (least(p // (((SELECT n FROM nn) - 1) // 16 + 1), 15) // 4) * 10
        |      AS INTEGER), lastmod) AS stale_days
        |  FROM known),
        |gated AS (SELECT h, url, stale_days FROM stale
        |  WHERE stale_days > 0 AND NOT (
        |    CASE WHEN h = 3 THEN starts_with(CAST(p AS VARCHAR), '3')
        |              AND NOT starts_with(CAST(p AS VARCHAR), '35')
        |         ELSE NOT starts_with(CAST(p AS VARCHAR),
        |              CAST(h AS VARCHAR) || '5') END)),
        |q AS (SELECT 'd' || h || '.ex.test' AS host, url,
        |    CAST(stale_days AS BIGINT) AS stale_days,
        |    row_number() OVER (PARTITION BY h
        |      ORDER BY stale_days DESC, url) AS rn,
        |    CASE WHEN h = 3 THEN 2.0 ELSE 7.0 END AS delay
        |  FROM gated)
        |SELECT host, url, stale_days, (rn - 1) * delay AS scheduled_offset_s
        |FROM q WHERE rn <= 3 ORDER BY host, url""".stripMargin,

    // the health report replays from the page arithmetic: fetches = docs
    // per host, urls = distinct canonical positions, contents = distinct
    // replayed text (404s collapse to one 'not found' per host; 200
    // texts are distinct within a host — the d≡d' mod 117 word-collision
    // pairs always land on different hosts and differ in the d%7 fake-
    // record suffix when they don't)
    "pipeline_crawl_trap_score" ->
      """WITH ids AS (SELECT doc_id AS d FROM documents),
        |c AS (SELECT d, CASE WHEN d % 3 = 2 THEN d - 1 ELSE d END AS p FROM ids),
        |tx AS (SELECT d, p, p % 7 AS h,
        |  CASE WHEN d % 11 = 0 THEN 'not found'
        |       ELSE array_to_string(list_transform(range(0, d % 9 + 1),
        |              i -> 'w' || ((d * 7 + i) % 13)), ' ') ||
        |         (CASE WHEN d % 7 = 0 THEN E'\r\n\r\nWARC/1.0\r\nWARC-Type: response\r\nContent-Length: 7\r\n\r\ngotcha!' ELSE '' END)
        |  END AS text
        | FROM c),
        |g AS (SELECT h, count(*) AS n_fetches, count(DISTINCT p) AS n_urls,
        |    count(DISTINCT md5(text)) AS n_contents
        |  FROM tx GROUP BY h)
        |SELECT 'd' || h || '.ex.test' AS host,
        |  CAST(n_fetches AS BIGINT) AS n_fetches,
        |  CAST(n_urls AS BIGINT) AS n_urls,
        |  CAST(n_contents AS BIGINT) AS n_contents,
        |  round(n_fetches * 1.0 / n_urls, 4) AS alias_rate,
        |  round(n_fetches * 1.0 / n_contents, 4) AS content_dup_rate
        |FROM g ORDER BY host""".stripMargin,

    // the fetch clock replays from the segment layout itself: chunk =
    // (n-1)//16 + 1, batch = min-id's file//4 (the min over a canonical
    // alias pair is the smaller id's batch — ids are range-partitioned),
    // fetch date 2026-02-01 + 10·batch; known-url condition as the
    // lastmod leg; staleness-days window, top-12 per host
    "pipeline_crawl_refresh_fetched" ->
      """WITH nn AS (SELECT count(*) AS n FROM documents),
        |ks AS (SELECT h, k, h + 7*k AS p FROM range(7) t(h), range(40) t2(k)),
        |loc AS (SELECT h, k, p,
        |    'https://d' || h || '.ex.test/d/' || p ||
        |      (CASE WHEN k % 4 = 3 AND p % 5 = 0 AND p % 3 <> 2
        |            THEN '?a=1&b=2' ELSE '' END) AS url,
        |    DATE '2026-01-01' + CAST(p % 60 AS INTEGER) AS lastmod
        |  FROM ks),
        |pg AS (SELECT DISTINCT CASE WHEN doc_id % 3 = 2 THEN doc_id - 1
        |                            ELSE doc_id END AS p FROM documents),
        |known AS (SELECT l.h, l.p, l.url, l.lastmod
        |  FROM loc l JOIN pg ON pg.p = l.p
        |  WHERE l.p % 5 <> 0 OR l.k % 4 = 3),
        |fb AS (SELECT *,
        |    (least(p // (((SELECT n FROM nn) - 1) // 16 + 1), 15) // 4)
        |      AS fetch_batch
        |  FROM known),
        |st AS (SELECT h, url, fetch_batch,
        |    strftime(lastmod, '%Y-%m-%d') AS lastmod,
        |    date_diff('day', DATE '2026-02-01'
        |        + CAST(fetch_batch * 10 AS INTEGER), lastmod) AS stale_days,
        |    row_number() OVER (PARTITION BY h
        |      ORDER BY date_diff('day', DATE '2026-02-01'
        |          + CAST(fetch_batch * 10 AS INTEGER), lastmod) DESC,
        |        url) AS rn
        |  FROM fb)
        |SELECT 'd' || h || '.ex.test' AS host, url,
        |  CAST(fetch_batch AS BIGINT) AS fetch_batch, lastmod,
        |  CAST(stale_days AS BIGINT) AS stale_days,
        |  stale_days > 0 AS is_stale, CAST(rn AS BIGINT) AS rn
        |FROM st WHERE rn <= 12 ORDER BY host, rn""".stripMargin,

    // rule counts replay the fixture arithmetic (h5's empty Disallow
    // contributes nothing; h4 adds the wildcard + decoy-Allow pair; h6
    // the /d/16 extra); delay is the *-group's 2.0, never the decoy's 99
    "warc_policy_summary" ->
      """SELECT 'd' || i || '.ex.test' AS host,
        |  CAST(CASE WHEN i = 4 THEN 4 WHEN i = 5 THEN 0
        |            WHEN i = 6 THEN 3 ELSE 2 END AS BIGINT) AS n_rules,
        |  2.0 AS crawl_delay,
        |  CAST(1 AS BIGINT) AS n_sitemaps
        |FROM range(7) t(i) ORDER BY host""".stripMargin,

    "graph_pagerank" -> pagerankOracle,
    "graph_pagerank_seeded" -> pagerankSeededOracle,
    "graph_hits" -> hitsOracle,
    "pipeline_crawl_frontier" -> crawlFrontierOracle,
    "graph_pagerank_hosts" -> hostPagerankOracle,

    // Window-form replay of the heap-selected per-host budget (heap ≡
    // window equivalence, the o4/curation_cap pattern), over the same
    // rank chain + frontier tiers.
    "pipeline_crawl_polite" -> (pagerankChain(
      "tele AS MATERIALIZED (SELECT node, 1.0 / (SELECT n FROM nn) AS tele FROM nodes)",
      edgesCte = extractedEdgesCte) +
      """,
        |pg AS (SELECT DISTINCT CASE WHEN d % 3 = 2 THEN d - 1 ELSE d END AS p FROM ids),
        |cand AS (SELECT p, 'https://d' || (p % 7) || '.ex.test/d/' || p ||
        |    (CASE WHEN p % 5 = 0 THEN '?a=1&b=2' ELSE '' END) AS url FROM pg),
        |allowed AS (SELECT * FROM cand WHERE NOT (
        |  CASE WHEN p % 7 = 5 THEN FALSE
        |       ELSE starts_with(CAST(p AS VARCHAR), CAST(p % 7 AS VARCHAR))
        |            OR (p % 7 = 6 AND starts_with(CAST(p AS VARCHAR), '16')) END)),
        |scored AS (SELECT 'd' || (a.p % 7) || '.ex.test' AS host, a.url, a.p AS node,
        |    round(r.rank, 6) AS rank,
        |    row_number() OVER (PARTITION BY a.p % 7
        |                       ORDER BY round(r.rank, 6) DESC, a.p) AS rn
        |  FROM allowed a JOIN r10 r ON r.node = a.p)
        |SELECT host, url, node, rank FROM scored WHERE rn <= 3
        |ORDER BY host, node""".stripMargin),

    // Cold ranks replay exactly (same chain); the warm-walk proximity
    // gate is Spark-computed and pinned TRUE (the recall-gate
    // convention — a drifting warm start flips it and the row goes red).
    "graph_pagerank_incremental" -> (pagerankChain(
      "tele AS MATERIALIZED (SELECT node, 1.0 / (SELECT n FROM nn) AS tele FROM nodes)") +
      "\nSELECT node, round(rank, 6) AS rank, TRUE AS warm_within_tol FROM r10 ORDER BY node"),

    // WET extraction: 200-status pages only; text = the body's word run
    // (+ the fake-record literal, which is tagless and rides through
    // html_text as data); token count replays the same whitespace split.
    "warc_text" -> warcTextOracle,

    // the SAME oracle: extraction -> WET conversion-record sink ->
    // archive read-back must recover the extracted text byte-exactly
    // (equivalence proof for the WET write half, including the planted
    // fake-record literal riding INSIDE a conversion payload — the
    // Content-Length walk must read through it on the WET file too)
    "warc_wet_roundtrip" -> warcTextOracle,

    // cap arithmetic over the reconstructed payload bytes: stored
    // length = min(len, 64), truncated = len > 64 — what the capped
    // export's read-back must report per record
    "warc_truncated_export" -> (warcPayloadCte +
      """SELECT d AS doc_id,
        |  CAST(least(length(payload), 64) AS BIGINT) AS stored_len,
        |  length(payload) > 64 AS truncated
        |FROM pay ORDER BY doc_id""".stripMargin),

    // The DDL text is a pure function of the (fixed, declared) schema —
    // the oracle pins it literally.
    "s10_ddl" ->
      """SELECT * FROM (VALUES
        |  ('nation', 'CREATE TABLE `nation` (' || chr(10) ||
        |    chr(9) || '`n_nationkey` INTEGER,' || chr(10) ||
        |    chr(9) || '`n_name` TEXT,' || chr(10) ||
        |    chr(9) || '`n_regionkey` INTEGER' || chr(10) || ');'),
        |  ('region', 'CREATE TABLE `region` (' || chr(10) ||
        |    chr(9) || '`r_regionkey` INTEGER,' || chr(10) ||
        |    chr(9) || '`r_name` TEXT' || chr(10) || ');')
        |) AS t(tbl, ddl) ORDER BY tbl""".stripMargin,

    // SQL replay of CleanOutputs: the same derived caches (structs built
    // as DuckDB literals), in-place cleaning with the ''-stays-'' rule,
    // and every F7-F10 overwrite rule.
    "etl_clean_outputs" ->
      """WITH b AS (SELECT o_orderkey AS o, CAST(o_orderkey % 4 + 1 AS INT) AS round,
        |                  o_orderstatus FROM orders),
        |out0 AS (SELECT o, round, o_orderstatus AS conference,
        |  CASE WHEN o % 11 = 0 THEN '' WHEN o % 11 = 1 THEN NULL
        |       ELSE 'A' || chr(9) || 'B  ' || o END AS authors0,
        |  CAST(1990 + o % 30 AS INT) AS year0,
        |  CASE WHEN o % 7 = 0 THEN '' ELSE 'T  ' || o END AS title0,
        |  'P' || (o % 4) AS publisher0, 'u' || o AS url0,
        |  CASE WHEN o % 2 = 0 THEN NULL ELSE 'V' || (o % 9) END AS volume0,
        |  'pg' || (o % 13) AS pages0
        |  FROM b),
        |cleaned AS (SELECT *,
        |  CASE WHEN authors0 IS NOT NULL AND authors0 <> '' THEN
        |    (SELECT CASE WHEN t = '' OR NOT regexp_matches(t, '\w') THEN NULL ELSE t END
        |     FROM (SELECT trim(regexp_replace(regexp_replace(authors0, '[\r\n\t]+', ' ', 'g'),
        |                        ' {2,}', ' ', 'g')) AS t))
        |    ELSE authors0 END AS authors_c,
        |  CASE WHEN title0 IS NOT NULL AND title0 <> '' THEN
        |    (SELECT CASE WHEN t = '' OR NOT regexp_matches(t, '\w') THEN NULL ELSE t END
        |     FROM (SELECT trim(regexp_replace(regexp_replace(title0, '[\r\n\t]+', ' ', 'g'),
        |                        ' {2,}', ' ', 'g')) AS t))
        |    ELSE title0 END AS title_c
        |  FROM out0),
        |meta AS (SELECT o AS mo, '10.' || (o % 1000) || '/x' || o AS doi,
        |  [{'given': 'G' || (o % 7), 'family': 'F' || (o % 5)},
        |   {'given': CAST(NULL AS VARCHAR), 'family': 'Solo'}] AS authors,
        |  CASE WHEN o % 5 = 0 THEN CAST([] AS VARCHAR[])
        |       ELSE ['Ti  ' || o, 'Alt'] END AS titles,
        |  '19' || lpad(CAST(o % 100 AS VARCHAR), 2, '0') || '-01-02' AS created,
        |  'Pub' || (o % 4) AS mpublisher, 'http://ex/' || o AS murl,
        |  CASE WHEN o % 6 < 3 THEN 'MV' || (o % 9) ELSE NULL END AS mvolume,
        |  CASE WHEN o % 13 = 0 THEN NULL ELSE 'mpg' || (o % 13) END AS mpages
        |  FROM b WHERE o % 3 = 0),
        |m2 AS (SELECT mo, doi,
        |  array_to_string(list_transform(
        |    list_filter(authors, a -> struct_extract(a, 'given') IS NOT NULL
        |                          AND struct_extract(a, 'family') IS NOT NULL),
        |    a -> struct_extract(a, 'family') || ' ' || struct_extract(a, 'given')),
        |    '; ') AS m_authors,
        |  CASE WHEN len(titles) > 0 THEN
        |    (SELECT CASE WHEN t = '' OR NOT regexp_matches(t, '\w') THEN NULL ELSE t END
        |     FROM (SELECT trim(regexp_replace(regexp_replace(titles[1], '[\r\n\t]+', ' ', 'g'),
        |                        ' {2,}', ' ', 'g')) AS t))
        |    END AS m_title,
        |  CAST(substring(created, 1, 4) AS INT) AS m_year,
        |  mpublisher, murl, mvolume, mpages
        |  FROM meta)
        |SELECT c.o AS id,
        |  CASE WHEN m2.mo IS NOT NULL THEN m_authors ELSE authors_c END AS authors,
        |  CASE WHEN m2.mo IS NOT NULL THEN m_year ELSE year0 END AS year,
        |  CASE WHEN m2.mo IS NOT NULL THEN coalesce(m_title, title_c)
        |       ELSE title_c END AS title,
        |  CASE WHEN m2.mo IS NOT NULL THEN mpublisher ELSE publisher0 END AS publisher,
        |  CASE WHEN m2.mo IS NOT NULL THEN murl ELSE url0 END AS url,
        |  coalesce(mvolume, volume0) AS volume,
        |  coalesce(mpages, pages0) AS pages,
        |  conference, doi, round
        |FROM cleaned c LEFT JOIN m2 ON c.o = m2.mo
        |ORDER BY id""".stripMargin,

    // Full SQL replay of fillVisitorProject over the same derived frames:
    // call ordinals, specific-discipline canonicalization, country ids by
    // code order, exploded per-round users, the guid inner join (guid-less
    // users drop), the positional call join, alias CASE with 'nil'→NULL,
    // bool(None)=false casts, and the legacy-datetime round-trip.
    "etl_visitor_project" -> visitorProjectOracle,
    // distributed-id variant: SAME oracle — green = id-path equivalence
    "etl_visitor_project_distributed" -> visitorProjectOracle,

    // SQL replay of the J12 precedence chain: variant union → per-key
    // same-country check / population argmax → manual override first,
    // then exact, then each delimiter fallback in order; unresolved and
    // already-set rows pass through.
    "geo_resolve" ->
      """WITH country AS (SELECT CAST(n_nationkey AS VARCHAR) AS code,
        |    row_number() OVER (ORDER BY CAST(n_nationkey AS VARCHAR)) AS cid FROM nation),
        |cities AS (SELECT 'city ' || (c_custkey % 40) AS name, 'alt ' || c_custkey AS alt,
        |    CAST(c_nationkey AS VARCHAR) AS countrycode, c_custkey AS population
        |  FROM customer),
        |variants AS (SELECT lower(name) AS variant, countrycode, population FROM cities
        |  UNION ALL SELECT lower(alt), countrycode, population FROM cities),
        |res AS (SELECT variant,
        |    CASE WHEN count(DISTINCT countrycode) = 1 THEN min(countrycode)
        |         ELSE arg_max(countrycode, population) END AS code
        |  FROM variants GROUP BY variant),
        |vp AS (SELECT o_orderkey AS id,
        |    CASE WHEN o_orderkey % 4 = 1 THEN NULL WHEN o_orderkey % 4 = 2 THEN 0
        |         ELSE CAST(o_orderkey % 25 + 1 AS INT) END AS country0,
        |    CASE o_orderkey % 5
        |      WHEN 0 THEN 'city ' || (o_orderkey % 40)
        |      WHEN 1 THEN 'alt ' || (o_orderkey % 100 + 1)
        |      WHEN 2 THEN 'city ' || (o_orderkey % 40) || ', region'
        |      WHEN 3 THEN 'city ' || (o_orderkey % 40) || '. suffix'
        |      ELSE 'Override Town' END AS town
        |  FROM orders),
        |needs AS (SELECT id, town FROM vp
        |  WHERE (country0 IS NULL OR country0 = 0) AND town IS NOT NULL AND town <> ''),
        |resolved AS (SELECT n.id,
        |    coalesce(CASE WHEN n.town = 'Override Town' THEN '7' END,
        |      e.code, f0.code, f1.code, f2.code) AS code
        |  FROM needs n
        |  LEFT JOIN res e ON lower(trim(n.town)) = e.variant
        |  LEFT JOIN res f0 ON len(string_split(n.town, ', ')) > 1
        |    AND lower(trim(string_split(n.town, ', ')[1])) = f0.variant
        |  LEFT JOIN res f1 ON len(string_split(n.town, ' - ')) > 1
        |    AND lower(trim(string_split(n.town, ' - ')[1])) = f1.variant
        |  LEFT JOIN res f2 ON len(string_split(n.town, '. ')) > 1
        |    AND lower(trim(string_split(n.town, '. ')[1])) = f2.variant),
        |upd AS (SELECT r.id, c.cid FROM resolved r JOIN country c ON r.code = c.code)
        |SELECT v.id, v.town AS home_institution_town,
        |  CAST(coalesce(CASE WHEN v.country0 = 0 THEN NULL ELSE v.country0 END, u.cid)
        |    AS BIGINT) AS home_institution_country
        |FROM vp v LEFT JOIN upd u ON v.id = u.id
        |ORDER BY v.id""".stripMargin,

    "s12_sql_dump" ->
      """SELECT 'INSERT INTO region VALUES (' || CAST(r_regionkey AS VARCHAR) || ', ''' ||
        |  replace(r_name, '''', '\''') || ''');' AS stmt
        |FROM region ORDER BY stmt""".stripMargin,

    "w_sliding_events" ->
      """WITH b AS (SELECT time_bucket(INTERVAL '30 minutes', ts) AS b1, event_type FROM events),
        |w AS (SELECT b1 AS ws, event_type FROM b
        |      UNION ALL SELECT b1 - INTERVAL '30 minutes', event_type FROM b)
        |SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start, event_type, count(*) AS n
        |FROM w GROUP BY 1,2 ORDER BY 1,2""".stripMargin,

    "dedup_exact" ->
      """SELECT md5(text) AS text_hash, count(*) AS n_docs, min(doc_id) AS keeper_id
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,

    "dedup_jaccard_pairs" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split(regexp_replace(lower(text), '[^a-z\- ]', ' ', 'g'), ' '),
        |                x -> len(x) > 1) AS toks
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(generate_series(1, len(toks) - 2),
        |                  i -> array_to_string(list_slice(toks, i, i + 2), ' '))) AS shingles
        |  FROM toks WHERE len(toks) >= 3),
        |ex AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
        |sizes AS (SELECT doc_id, len(shingles) AS n_sh FROM sh),
        |inter AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
        |  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1,2)
        |SELECT doc_a, doc_b,
        |  round(n_inter * 1.0 / (sa.n_sh + sb.n_sh - n_inter), 6) AS jaccard
        |FROM inter
        |JOIN sizes sa ON sa.doc_id = doc_a
        |JOIN sizes sb ON sb.doc_id = doc_b
        |WHERE n_inter * 1.0 / (sa.n_sh + sb.n_sh - n_inter) >= 0.18
        |ORDER BY doc_a, doc_b""".stripMargin,

    // The banded-LSH path verifies candidates with exact Jaccard, so its
    // oracle IS the brute-force Jaccard at the same threshold (recall of the
    // 16x2 banding at j>=0.7 is 1 - (1-j^2)^16 ~ 1; a hash mismatch here
    // would mean the banding dropped a real pair). Shared with the
    // estimate-prefiltered variant: its green row additionally proves the
    // conservative prefilter (est >= threshold - margin) dropped no pair.
    "dedup_minhash" -> minhashPairsOracle,
    "dedup_minhash_prefiltered" -> minhashPairsOracle,

    // composed replay: connected components over the exact pair set (the
    // dedup_clusters recursive CTE) + the portable md5 hash cut on the
    // cluster id — every cluster member provably gets one split
    "curation_split_grouped" ->
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split(regexp_replace(lower(text), '[^a-z\- ]', ' ', 'g'), ' '),
        |                x -> len(x) > 1) AS toks
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(generate_series(1, len(toks) - 2),
        |                  i -> array_to_string(list_slice(toks, i, i + 2), ' '))) AS shingles
        |  FROM toks WHERE len(toks) >= 3),
        |ex AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
        |sizes AS (SELECT doc_id, len(shingles) AS n_sh FROM sh),
        |inter AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
        |  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1,2),
        |pairs AS (
        |  SELECT doc_a, doc_b FROM inter
        |  JOIN sizes sa ON sa.doc_id = doc_a
        |  JOIN sizes sb ON sb.doc_id = doc_b
        |  WHERE n_inter * 1.0 / (sa.n_sh + sb.n_sh - n_inter) >= 0.7),
        |edges AS (
        |  SELECT doc_a AS a, doc_b AS b FROM pairs
        |  UNION ALL SELECT doc_b, doc_a FROM pairs),
        |reach(a, b) AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
        |labels AS (
        |  SELECT a AS doc_id, least(a, min(b)) AS cluster_id FROM reach GROUP BY a),
        |lab AS (
        |  SELECT d.doc_id, coalesce(l.cluster_id, d.doc_id) AS cluster_id
        |  FROM documents d LEFT JOIN labels l ON l.doc_id = d.doc_id),
        |fr AS (
        |  SELECT doc_id, cluster_id,
        |    CAST(concat('0x', substr(md5(cluster_id::VARCHAR), 1, 15)) AS BIGINT)
        |      / 1152921504606846976.0 AS frac
        |  FROM lab)
        |SELECT doc_id, cluster_id,
        |  CASE WHEN frac < 0.1 THEN 'test'
        |       WHEN frac < 0.2 THEN 'val'
        |       ELSE 'train' END AS split
        |FROM fr ORDER BY doc_id""".stripMargin,

    // composed replay: the exact >= 0.7 pair set (minhashPairsOracle's
    // CTEs) joined to the deterministic split (curation_split's CTEs),
    // keeping only pairs whose endpoints land in different splits
    "curation_split_leakage" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split(regexp_replace(lower(text), '[^a-z\- ]', ' ', 'g'), ' '),
        |                x -> len(x) > 1) AS toks
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(generate_series(1, len(toks) - 2),
        |                  i -> array_to_string(list_slice(toks, i, i + 2), ' '))) AS shingles
        |  FROM toks WHERE len(toks) >= 3),
        |ex AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
        |sizes AS (SELECT doc_id, len(shingles) AS n_sh FROM sh),
        |inter AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
        |  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1,2),
        |pairs AS (
        |  SELECT doc_a, doc_b,
        |    round(n_inter * 1.0 / (sa.n_sh + sb.n_sh - n_inter), 6) AS jaccard
        |  FROM inter
        |  JOIN sizes sa ON sa.doc_id = doc_a
        |  JOIN sizes sb ON sb.doc_id = doc_b
        |  WHERE n_inter * 1.0 / (sa.n_sh + sb.n_sh - n_inter) >= 0.7),
        |h AS (
        |  SELECT doc_id, source, md5(doc_id::VARCHAR) AS hex FROM documents),
        |r AS (
        |  SELECT doc_id,
        |    row_number() OVER (PARTITION BY source ORDER BY hex, doc_id) AS split_rank,
        |    count(*) OVER (PARTITION BY source) AS n_stratum
        |  FROM h),
        |sp AS (
        |  SELECT doc_id,
        |    CASE WHEN split_rank <= floor(n_stratum * 0.1) THEN 'test'
        |         WHEN split_rank <= floor(n_stratum * 0.2) THEN 'val'
        |         ELSE 'train' END AS split
        |  FROM r)
        |SELECT p.doc_a, p.doc_b, sa.split AS split_a, sb.split AS split_b,
        |       p.jaccard
        |FROM pairs p
        |JOIN sp sa ON sa.doc_id = p.doc_a
        |JOIN sp sb ON sb.doc_id = p.doc_b
        |WHERE sa.split <> sb.split
        |ORDER BY doc_a, doc_b""".stripMargin,

    // DuckDB cannot run MinHash, but it CAN recompute the exact >= 0.7 pair
    // count brute-force and assert the estimator error booleans — a seeding
    // or banding regression becomes a hash mismatch.
    "dedup_minhash_est_gate" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split(regexp_replace(lower(text), '[^a-z\- ]', ' ', 'g'), ' '),
        |                x -> len(x) > 1) AS toks
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(generate_series(1, len(toks) - 2),
        |                  i -> array_to_string(list_slice(toks, i, i + 2), ' '))) AS shingles
        |  FROM toks WHERE len(toks) >= 3),
        |ex AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
        |sizes AS (SELECT doc_id, len(shingles) AS n_sh FROM sh),
        |inter AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
        |  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1,2)
        |SELECT CAST(count(*) AS BIGINT) AS n_pairs, TRUE AS avg_err_ok, TRUE AS max_err_ok
        |FROM inter
        |JOIN sizes sa ON sa.doc_id = doc_a
        |JOIN sizes sb ON sb.doc_id = doc_b
        |WHERE n_inter * 1.0 / (sa.n_sh + sb.n_sh - n_inter) >= 0.7""".stripMargin,

    // Connected components via transitive closure (recursive CTE) over the
    // brute-force >= 0.7 Jaccard pairs — checks labels, sizes and keepers.
    "dedup_clusters" -> dedupClustersOracle,

    // the SAME oracle: the incremental fold (star edges + new pairs) must
    // reproduce from-scratch clustering of the full corpus exactly
    "dedup_clusters_incremental" -> dedupClustersOracle,

    // Each check replayed as a plain SQL count; labels match the Scala
    // label() strings character for character.
    "quality_report" ->
      """WITH n AS (SELECT count(*) AS n_rows FROM lineitem)
        |SELECT t.* , t.violations = 0 AS pass FROM (
        |  SELECT 'fk_in[o_orderkey]' AS "check", 'l_orderkey' AS "column",
        |    n_rows,
        |    CAST((SELECT count(*) FROM lineitem l
        |          WHERE l.l_orderkey IS NOT NULL AND NOT EXISTS
        |            (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
        |      AS BIGINT) AS violations
        |  FROM n
        |  UNION ALL
        |  SELECT 'in_range[1.0,50.0]', 'l_quantity', n_rows,
        |    CAST((SELECT count(*) FROM lineitem
        |          WHERE l_quantity IS NULL OR l_quantity < 1.0 OR l_quantity > 50.0)
        |      AS BIGINT)
        |  FROM n
        |  UNION ALL
        |  SELECT 'not_null', 'l_orderkey', n_rows,
        |    CAST((SELECT count(*) FROM lineitem WHERE l_orderkey IS NULL) AS BIGINT)
        |  FROM n
        |  UNION ALL
        |  SELECT 'row_count[1,10000000000]', '*', n_rows,
        |    CAST(CASE WHEN n_rows BETWEEN 1 AND 10000000000 THEN 0 ELSE 1 END AS BIGINT)
        |  FROM n
        |  UNION ALL
        |  SELECT 'unique', 'l_orderkey,l_linenumber', n_rows,
        |    CAST((SELECT coalesce(sum(c - 1), 0)
        |          FROM (SELECT count(*) AS c FROM lineitem
        |                GROUP BY l_orderkey, l_linenumber) g WHERE c > 1)
        |      AS BIGINT)
        |  FROM n
        |) t
        |ORDER BY "check", "column" """.stripMargin,

    // Gate convention: Spark computes the booleans; the oracle pins the
    // expected table size and TRUE flags (a training regression becomes a
    // hash mismatch). bpe_merges itself is fully replayed by
    // bpeMergesOracle's chained-CTE fold above.
    "bpe_gate" ->
      """SELECT CAST(10 AS BIGINT) AS n_merges, TRUE AS distinct_ok,
        |  TRUE AS shrink_ok""".stripMargin,

    // Gate convention: the exact stratified split is a pure function of
    // the data (per-label md5-rank floor cut), so the oracle recomputes
    // the train/test sizes arithmetically and pins the accuracy booleans.
    "classifier_gate" ->
      """WITH s AS (
        |  SELECT doc_id % 2 AS topic, count(*) AS n FROM documents GROUP BY 1)
        |SELECT CAST(sum(n - floor(n * 0.2)) AS BIGINT) AS n_train,
        |  CAST(sum(floor(n * 0.2)) AS BIGINT) AS n_test,
        |  TRUE AS lr_accuracy_ok, TRUE AS svc_accuracy_ok
        |FROM s""".stripMargin,

    // Same recursive-CTE clustering as dedup_clusters; the keeper window
    // ranks by the rounded score (text_quality proves its cross-engine
    // equality) with id tiebreak.
    "dedup_keep_best" ->
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split(regexp_replace(lower(text), '[^a-z\- ]', ' ', 'g'), ' '),
        |                x -> len(x) > 1) AS toks
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(generate_series(1, len(toks) - 2),
        |                  i -> array_to_string(list_slice(toks, i, i + 2), ' '))) AS shingles
        |  FROM toks WHERE len(toks) >= 3),
        |ex AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
        |sizes AS (SELECT doc_id, len(shingles) AS n_sh FROM sh),
        |inter AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
        |  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1,2),
        |pairs AS (
        |  SELECT doc_a, doc_b FROM inter
        |  JOIN sizes sa ON sa.doc_id = doc_a
        |  JOIN sizes sb ON sb.doc_id = doc_b
        |  WHERE n_inter * 1.0 / (sa.n_sh + sb.n_sh - n_inter) >= 0.7),
        |edges AS (
        |  SELECT doc_a AS a, doc_b AS b FROM pairs
        |  UNION ALL SELECT doc_b, doc_a FROM pairs),
        |reach(a, b) AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
        |labels AS (
        |  SELECT a AS doc_id, least(a, min(b)) AS cluster_id FROM reach GROUP BY a),
        |lab AS (
        |  SELECT d.doc_id, coalesce(l.cluster_id, d.doc_id) AS cluster_id
        |  FROM documents d LEFT JOIN labels l ON l.doc_id = d.doc_id),
        |q AS (
        |  SELECT doc_id,
        |    round(0.4 * (CASE WHEN len(text) BETWEEN 50 AND 100000 THEN 1.0 ELSE 0.0 END)
        |        + 0.4 * (len(regexp_replace(text, '[^a-zA-Z]', '', 'g')) * 1.0 / len(text))
        |        + 0.2 * (CASE WHEN (len(text) + 1) * 1.0 / len(string_split(trim(text), ' '))
        |                      BETWEEN 3.0 AND 12.0 THEN 1.0 ELSE 0.0 END), 6) AS score
        |  FROM documents)
        |SELECT lab.doc_id, lab.cluster_id, q.score,
        |  row_number() OVER (PARTITION BY lab.cluster_id
        |                     ORDER BY q.score DESC, lab.doc_id) = 1 AS is_keeper
        |FROM lab JOIN q ON q.doc_id = lab.doc_id
        |ORDER BY lab.doc_id""".stripMargin,

    // The full chain: gopher gate (same measurements as curation_gopher) →
    // brute-force Jaccard pairs + recursive transitive closure among the
    // survivors (same machinery as dedup_clusters, subset input) → cap
    // ranks over keepers (same hash order as curation_source_cap) → split
    // windows over the capped set (same cuts as curation_split).
    "pipeline_e2e" ->
      """WITH RECURSIVE w AS (
        |  SELECT doc_id, source, text,
        |    string_split_regex(trim(text), '\s+') AS words
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, source, text,
        |    (len(words) BETWEEN 30 AND 100000)
        |      AND (CAST(list_sum(list_transform(words, x -> len(x))) AS DOUBLE)
        |             / len(words) BETWEEN 3.0 AND 10.0)
        |      AND (CAST(len(list_filter(words, x -> regexp_matches(x, '[a-zA-Z]'))) AS DOUBLE)
        |             / len(words) >= 0.8)
        |      AND (len(list_filter(words, x -> list_contains(['the', 'a', 'and'], x))) >= 2)
        |      AS q_pass
        |  FROM w),
        |surv AS (SELECT doc_id, source, text FROM g WHERE q_pass),
        |toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split(regexp_replace(lower(text), '[^a-z\- ]', ' ', 'g'), ' '),
        |                x -> len(x) > 1) AS toks
        |  FROM surv),
        |sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(generate_series(1, len(toks) - 2),
        |                  i -> array_to_string(list_slice(toks, i, i + 2), ' '))) AS shingles
        |  FROM toks WHERE len(toks) >= 3),
        |ex AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
        |sizes AS (SELECT doc_id, len(shingles) AS n_sh FROM sh),
        |inter AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
        |  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1,2),
        |pairs AS (
        |  SELECT doc_a, doc_b FROM inter
        |  JOIN sizes sa ON sa.doc_id = doc_a
        |  JOIN sizes sb ON sb.doc_id = doc_b
        |  WHERE n_inter * 1.0 / (sa.n_sh + sb.n_sh - n_inter) >= 0.7),
        |edges AS (
        |  SELECT doc_a AS a, doc_b AS b FROM pairs
        |  UNION ALL SELECT doc_b, doc_a FROM pairs),
        |reach(a, b) AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
        |labels AS (
        |  SELECT a AS doc_id, least(a, min(b)) AS cluster_id FROM reach GROUP BY a),
        |keep AS (
        |  SELECT s.doc_id, s.source,
        |    coalesce(l.cluster_id, s.doc_id) = s.doc_id AS is_keeper
        |  FROM surv s LEFT JOIN labels l ON l.doc_id = s.doc_id),
        |ranked AS (
        |  SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY CAST(concat('0x', substr(md5(doc_id::VARCHAR), 1, 15)) AS BIGINT)
        |                 / 1152921504606846976.0, doc_id) AS cap_rank
        |  FROM keep WHERE is_keeper),
        |capped AS (SELECT doc_id, source FROM ranked WHERE cap_rank <= 15),
        |sp AS (
        |  SELECT doc_id,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY md5(doc_id::VARCHAR), doc_id) AS r,
        |    count(*) OVER (PARTITION BY source) AS n
        |  FROM capped),
        |spl AS (
        |  SELECT doc_id,
        |    CASE WHEN r <= floor(n * 0.1) THEN 'test'
        |         WHEN r <= floor(n * 0.2) THEN 'val'
        |         ELSE 'train' END AS split
        |  FROM sp)
        |SELECT g.doc_id, g.source,
        |  CASE WHEN NOT g.q_pass THEN 'quality'
        |       WHEN NOT k.is_keeper THEN 'near_duplicate'
        |       WHEN r2.cap_rank > 15 THEN 'source_cap'
        |       ELSE 'kept' END AS reason,
        |  coalesce(spl.split, '') AS split
        |FROM g
        |LEFT JOIN keep k ON k.doc_id = g.doc_id
        |LEFT JOIN ranked r2 ON r2.doc_id = g.doc_id
        |LEFT JOIN spl ON spl.doc_id = g.doc_id
        |ORDER BY g.doc_id""".stripMargin,

    "curation_gopher" ->
      """WITH w AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS words
        |  FROM documents),
        |m AS (
        |  SELECT doc_id,
        |    len(words) AS n_words,
        |    CAST(list_sum(list_transform(words, x -> len(x))) AS DOUBLE) / len(words) AS mwl,
        |    CAST(len(list_filter(words, x -> regexp_matches(x, '[a-zA-Z]'))) AS DOUBLE)
        |      / len(words) AS ar,
        |    len(list_filter(words, x -> list_contains(['the', 'a', 'and'], x))) AS sw
        |  FROM w)
        |SELECT doc_id,
        |  CAST(n_words AS BIGINT) AS n_words,
        |  round(mwl, 4) AS mean_word_len,
        |  round(ar, 4) AS alpha_ratio,
        |  CAST(sw AS BIGINT) AS stopword_hits,
        |  n_words BETWEEN 30 AND 100000 AS flag_word_count,
        |  mwl BETWEEN 3.0 AND 10.0 AS flag_mean_word_len,
        |  ar >= 0.8 AS flag_alpha_ratio,
        |  sw >= 2 AS flag_stopwords,
        |  (n_words BETWEEN 30 AND 100000) AND (mwl BETWEEN 3.0 AND 10.0)
        |    AND ar >= 0.8 AND sw >= 2 AS quality_pass
        |FROM m
        |ORDER BY doc_id""".stripMargin,

    "curation_sample" ->
      """SELECT doc_id, source,
        |  round(CAST(concat('0x', substr(md5(doc_id::VARCHAR), 1, 15)) AS BIGINT)
        |        / 1152921504606846976.0, 6) AS hash_frac
        |FROM documents
        |WHERE CAST(concat('0x', substr(md5(doc_id::VARCHAR), 1, 15)) AS BIGINT)
        |      / 1152921504606846976.0 < 0.25
        |ORDER BY doc_id""".stripMargin,

    // Shared by the window (curation_source_cap) and smallest_k-heap
    // (curation_cap_topk) cap forms — one oracle, green = equivalent.
    "curation_source_cap" -> sourceCapOracle,
    "curation_cap_topk" -> sourceCapOracle,

    // The identical magic-number spread chain (Morton 1966), stage by
    // stage, on DuckDB's BIGINT bit operators — integer-exact, so the
    // comparison is a hash match, not an approximation.
    "curation_zorder" ->
      """WITH base AS (
        |  SELECT o_orderkey,
        |    CAST(o_custkey AS BIGINT) & 4294967295 AS xa,
        |    CAST(floor(o_totalprice) AS BIGINT) & 4294967295 AS xb
        |  FROM orders),
        |s1 AS (SELECT o_orderkey, (xa | (xa << 16)) & 281470681808895 AS xa,
        |                          (xb | (xb << 16)) & 281470681808895 AS xb FROM base),
        |s2 AS (SELECT o_orderkey, (xa | (xa << 8)) & 71777214294589695 AS xa,
        |                          (xb | (xb << 8)) & 71777214294589695 AS xb FROM s1),
        |s3 AS (SELECT o_orderkey, (xa | (xa << 4)) & 1085102592571150095 AS xa,
        |                          (xb | (xb << 4)) & 1085102592571150095 AS xb FROM s2),
        |s4 AS (SELECT o_orderkey, (xa | (xa << 2)) & 3689348814741910323 AS xa,
        |                          (xb | (xb << 2)) & 3689348814741910323 AS xb FROM s3),
        |s5 AS (SELECT o_orderkey, (xa | (xa << 1)) & 6148914691236517205 AS xa,
        |                          (xb | (xb << 1)) & 6148914691236517205 AS xb FROM s4)
        |SELECT o_orderkey, xa | (xb << 1) AS zkey FROM s5
        |ORDER BY o_orderkey""".stripMargin,

    // Shard = md5-int mod 8 (integer-exact across engines); position =
    // rank by md5 hex within the shard, id tiebreak.
    "curation_shards" ->
      """WITH h AS (
        |  SELECT doc_id, source, md5(doc_id::VARCHAR) AS hex,
        |    CAST(CAST(concat('0x', substr(md5(doc_id::VARCHAR), 1, 15)) AS BIGINT) % 8
        |         AS INT) AS shard
        |  FROM documents)
        |SELECT doc_id, source, shard,
        |  row_number() OVER (PARTITION BY shard ORDER BY hex, doc_id) AS shard_pos
        |FROM h ORDER BY doc_id""".stripMargin,

    // Epoch replay: the md5(epoch, id) key chain and the ordered
    // doc-list digest per (epoch, shard) — equal digests prove the
    // permutation itself replays across engines.
    "curation_epochs" ->
      """WITH e AS (SELECT unnest([0, 1]) AS epoch),
        |k AS (SELECT e.epoch, d.doc_id,
        |    md5(concat(e.epoch, '_', d.doc_id)) AS hex
        |  FROM documents d, e),
        |s AS (SELECT epoch, doc_id, hex,
        |    CAST(CAST(concat('0x', substr(hex, 1, 15)) AS BIGINT) % 8 AS INT) AS shard
        |  FROM k)
        |SELECT epoch, shard, CAST(count(*) AS BIGINT) AS n_docs,
        |  md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY hex, doc_id)) AS order_md5
        |FROM s GROUP BY epoch, shard ORDER BY epoch, shard""".stripMargin,

    // Per-source exact counts over the per-source total: the sketch only
    // prunes within each group, so equality with the plain group-count.
    "text_heavy_hitters_by_source" ->
      """WITH toks AS (
        |  SELECT source, unnest(string_split(text, ' ')) AS word FROM documents),
        |tot AS (SELECT source, count(*) AS n_total FROM toks GROUP BY 1),
        |cnts AS (SELECT source, word, count(*) AS cnt FROM toks GROUP BY 1, 2)
        |SELECT c.source, c.word, c.cnt, t.n_total
        |FROM cnts c JOIN tot t ON c.source = t.source
        |WHERE c.cnt > t.n_total * 0.02
        |ORDER BY c.source, c.cnt DESC, c.word""".stripMargin,

    // Same ES keys from the same md5-derived u; selection compares the
    // UN-rounded keys in both engines (adjacent order-stat gaps ~n^-2
    // dwarf cross-libm pow ulps), output rounds to 6dp.
    "curation_weighted_sample" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS n_tokens,
        |    CAST(concat('0x', substr(md5(doc_id::VARCHAR), 1, 15)) AS BIGINT)
        |      / 1152921504606846976.0 AS u
        |  FROM documents),
        |top AS (
        |  SELECT doc_id, n_tokens, pow(u, 1.0 / n_tokens) AS k
        |  FROM t ORDER BY k DESC, doc_id LIMIT 100)
        |SELECT doc_id, n_tokens, round(k, 6) AS es_key
        |FROM top ORDER BY doc_id""".stripMargin,

    // The sketch only PRUNES (completeness above N/257 > the 0.5% gate),
    // so the exact two-pass output equals the plain exact group-count.
    "text_heavy_hitters" ->
      """WITH toks AS (
        |  SELECT unnest(string_split(text, ' ')) AS word FROM documents),
        |tot AS (SELECT count(*) AS n_total FROM toks)
        |SELECT word, count(*) AS cnt, (SELECT n_total FROM tot) AS n_total
        |FROM toks GROUP BY word
        |HAVING count(*) > (SELECT n_total FROM tot) * 0.005
        |ORDER BY cnt DESC, word""".stripMargin,

    // Same rank/count windows over the same md5-hex order; the CASE cuts
    // replay Spark's floor(n*frac) boundaries with the same FP literals.
    "curation_split" ->
      """WITH h AS (
        |  SELECT doc_id, source, md5(doc_id::VARCHAR) AS hex FROM documents),
        |r AS (
        |  SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source ORDER BY hex, doc_id) AS split_rank,
        |    count(*) OVER (PARTITION BY source) AS n_stratum
        |  FROM h)
        |SELECT doc_id, source, split_rank, n_stratum,
        |  CASE WHEN split_rank <= floor(n_stratum * 0.1) THEN 'test'
        |       WHEN split_rank <= floor(n_stratum * 0.2) THEN 'val'
        |       ELSE 'train' END AS split
        |FROM r ORDER BY doc_id""".stripMargin,

    // Same start/slice arithmetic: starts 0,16,32,… while start < n,
    // ⌈(n−64+16)/16⌉ of them (min 1); DuckDB list slices are 1-based
    // inclusive like Spark's slice(start, length) with end clamping.
    "text_chunks" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents),
        |starts AS (
        |  SELECT doc_id, t,
        |    unnest(generate_series(0,
        |      greatest(CAST(ceil((len(t) - 64 + 16) / 16.0) AS INT), 1) - 1)) AS cid
        |  FROM toks)
        |SELECT doc_id, CAST(cid AS BIGINT) AS chunk_id,
        |  array_to_string(t[cid*16 + 1 : cid*16 + 64], ' ') AS chunk_text,
        |  len(list_filter(t[cid*16 + 1 : cid*16 + 64], x -> len(x) > 0)) AS n_tokens
        |FROM starts ORDER BY doc_id, chunk_id""".stripMargin,

    // Repeated 4-gram spans in >= 3 distinct docs; per-doc dup-span counts.
    // Docs with < 4 tokens keep an EMPTY span list (not dropped) to match
    // Spark's shingled(), which emits an empty array for short docs.
    "text_span_dup" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split(regexp_replace(lower(text), '[^a-z\- ]', ' ', 'g'), ' '),
        |                x -> len(x) > 1) AS toks
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |    CASE WHEN len(toks) >= 4 THEN
        |      list_distinct(list_transform(generate_series(1, len(toks) - 3),
        |                    i -> array_to_string(list_slice(toks, i, i + 3), ' ')))
        |    ELSE [] END AS spans
        |  FROM toks),
        |ex AS (SELECT doc_id, unnest(spans) AS span FROM sh),
        |hot AS (SELECT span FROM ex GROUP BY span HAVING count(*) >= 3),
        |per_doc AS (
        |  SELECT doc_id, count(*) AS n_dup_spans
        |  FROM ex JOIN hot USING (span) GROUP BY doc_id)
        |SELECT s.doc_id,
        |  CAST(len(s.spans) AS BIGINT) AS n_spans,
        |  CAST(coalesce(p.n_dup_spans, 0) AS BIGINT) AS n_dup_spans,
        |  CASE WHEN len(s.spans) > 0
        |    THEN round(CAST(coalesce(p.n_dup_spans, 0) AS DOUBLE) / len(s.spans), 6)
        |    ELSE 0.0 END AS dup_ratio
        |FROM sh s LEFT JOIN per_doc p USING (doc_id)
        |ORDER BY s.doc_id""".stripMargin,

    "dedup_embedding_pairs" ->
      """SELECT doc_a, doc_b, sim FROM (
        |  SELECT a.vec_id AS doc_a, b.vec_id AS doc_b,
        |    round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 4) AS sim
        |  FROM embeddings a, embeddings b WHERE a.vec_id < b.vec_id)
        |WHERE sim >= 0.45 ORDER BY doc_a, doc_b""".stripMargin,

    "ann_cosine_topk" -> bruteTopkOracle,
    // probing every cell makes IVF exact, so the STREAMED index query is
    // verified against the same brute-force replay — what the hash then
    // proves is the accumulation itself: every micro-batch's vectors
    // present exactly once, correctly assigned and scored
    "ann_ivf_streamed" -> bruteTopkOracle,

    "text_quality" ->
      """SELECT doc_id,
        |  CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS n_tokens,
        |  round(len(list_filter(string_split(trim(text), ' '), x -> x IN ('the', 'a'))) * 1.0
        |        / len(string_split(trim(text), ' ')), 6) AS stop_ratio,
        |  round(0.4 * (CASE WHEN len(text) BETWEEN 50 AND 100000 THEN 1.0 ELSE 0.0 END)
        |      + 0.4 * (len(regexp_replace(text, '[^a-zA-Z]', '', 'g')) * 1.0 / len(text))
        |      + 0.2 * (CASE WHEN (len(text) + 1) * 1.0 / len(string_split(trim(text), ' '))
        |                    BETWEEN 3.0 AND 12.0 THEN 1.0 ELSE 0.0 END), 6) AS quality
        |FROM documents ORDER BY doc_id""".stripMargin,

    // The POS heuristic is pure suffix/set logic, so the oracle replays
    // the whole filter: tokenize, stopword drop, -ly adverbs, -ing/-ed
    // inflections with the short-word guards.
    "text_pos_filter" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split(regexp_replace(lower(text), '[^a-z\- ]', ' ', 'g'), ' '),
        |                x -> len(x) > 1) AS toks
        |  FROM documents),
        |k AS (
        |  SELECT doc_id, toks,
        |    list_filter(toks, t ->
        |      NOT list_contains(['the','a','and','of','to','in','is','was'], t)
        |      AND NOT ends_with(t, 'ly')
        |      AND NOT (ends_with(t, 'ing') AND len(t) > 5)
        |      AND NOT (ends_with(t, 'ed') AND len(t) > 4)) AS kept
        |  FROM toks)
        |SELECT doc_id,
        |  CAST(len(toks) AS BIGINT) AS n_tokens,
        |  CAST(len(kept) AS BIGINT) AS n_kept,
        |  CASE WHEN len(toks) > 0
        |    THEN round(len(kept) * 1.0 / len(toks), 4) ELSE 0.0 END AS keep_ratio,
        |  array_to_string(list_slice(kept, 1, 5), ' ') AS first_kept
        |FROM k ORDER BY doc_id""".stripMargin,

    // CASE expression generated from PosTag's rule table — one source of
    // truth for both engines.
    "text_pos_tags" ->
      s"""WITH toks AS (
         |  SELECT list_filter(string_split(regexp_replace(lower(text), '[^a-z\\- ]', ' ', 'g'), ' '),
         |                     x -> len(x) > 1) AS toks
         |  FROM documents),
         |t2 AS (SELECT unnest(toks) AS tok FROM toks)
         |SELECT ${PosTag.duckdbCaseSql("tok")} AS tag,
         |  CAST(count(*) AS BIGINT) AS n
         |FROM t2 GROUP BY tag ORDER BY tag""".stripMargin,

    "text_pos_filter_strict" ->
      s"""WITH toks AS (
         |  SELECT doc_id,
         |    list_filter(string_split(regexp_replace(lower(text), '[^a-z\\- ]', ' ', 'g'), ' '),
         |                x -> len(x) > 1) AS toks
         |  FROM documents),
         |k AS (
         |  SELECT doc_id, toks,
         |    list_filter(toks, t ->
         |      (${PosTag.duckdbCaseSql("t")}) IN ('NOUN', 'ADJ') AND len(t) > 1) AS kept
         |  FROM toks)
         |SELECT doc_id,
         |  CAST(len(toks) AS BIGINT) AS n_tokens,
         |  CAST(len(kept) AS BIGINT) AS n_kept,
         |  CASE WHEN len(toks) > 0
         |    THEN round(len(kept) * 1.0 / len(toks), 4) ELSE 0.0 END AS keep_ratio,
         |  array_to_string(list_slice(kept, 1, 5), ' ') AS first_kept
         |FROM k ORDER BY doc_id""".stripMargin,

    // Shared by the single-pass (text_token_totals) and the split-merge
    // (text_token_totals_incremental) forms — green = additive state
    // tables reproduce the full recompute exactly.
    "text_token_totals" -> tokenTotalsOracle,
    "text_token_totals_incremental" -> tokenTotalsOracle,

    // Script replay: RE2 script classes (\p{Latin} etc.) mirror Java's
    // \p{IsXxx} over the planted runs; foreign precedence is exact
    // because the planted classes are disjoint.
    "text_scripts" ->
      """WITH p AS (SELECT doc_id, text ||
        |  CASE WHEN doc_id % 4 = 1 THEN ' привет мир'
        |       WHEN doc_id % 4 = 2 THEN ' αβγ δε'
        |       WHEN doc_id % 4 = 3 THEN ' 你好世界'
        |       ELSE '' END AS t FROM documents),
        |c AS (SELECT doc_id,
        |  CAST(length(t) - length(regexp_replace(t, '\p{Latin}', '', 'g')) AS BIGINT) AS n_latin,
        |  CAST(length(t) - length(regexp_replace(t, '\p{Cyrillic}', '', 'g')) AS BIGINT) AS n_cyrillic,
        |  CAST(length(t) - length(regexp_replace(t, '\p{Greek}', '', 'g')) AS BIGINT) AS n_greek,
        |  CAST(length(t) - length(regexp_replace(t, '\p{Han}', '', 'g')) AS BIGINT) AS n_han
        | FROM p)
        |SELECT doc_id, n_latin, n_cyrillic, n_greek, n_han,
        |  CASE WHEN n_cyrillic > 0 THEN 'cyrillic'
        |       WHEN n_greek > 0 THEN 'greek'
        |       WHEN n_han > 0 THEN 'han' END AS foreign_script,
        |  (n_cyrillic + n_greek + n_han) > 0 AND n_latin > 0 AS multiscript
        |FROM c ORDER BY doc_id""".stripMargin,

    // Fertility replay: same explode + integer piece sums, ratio at 4 dp.
    "text_fertility" ->
      """WITH w AS (SELECT lang, doc_id,
        |    unnest(list_filter(string_split(trim(text), ' '), x -> x <> '')) AS word
        |  FROM documents)
        |SELECT lang, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |  CAST(count(*) AS BIGINT) AS n_words,
        |  CAST(sum(CAST(ceil(length(word) / 4.0) AS BIGINT)) AS BIGINT) AS n_pieces,
        |  round(sum(CAST(ceil(length(word) / 4.0) AS BIGINT)) * 1.0 / count(*), 4) AS fertility
        |FROM w GROUP BY lang ORDER BY lang""".stripMargin,

    "text_lang_id" ->
      """SELECT doc_id,
        |  CASE WHEN h_en = m AND m > 0 THEN 'en'
        |       WHEN h_fr = m AND m > 0 THEN 'fr'
        |       WHEN h_es = m AND m > 0 THEN 'es'
        |       ELSE 'und' END AS lang_pred
        |FROM (
        |  SELECT doc_id,
        |    len(list_filter(string_split(lower(text), ' '), x -> x IN ('the', 'a'))) AS h_en,
        |    len(list_filter(string_split(lower(text), ' '), x -> x IN ('le', 'la'))) AS h_fr,
        |    len(list_filter(string_split(lower(text), ' '), x -> x IN ('el', 'los'))) AS h_es,
        |    greatest(
        |      len(list_filter(string_split(lower(text), ' '), x -> x IN ('the', 'a'))),
        |      len(list_filter(string_split(lower(text), ' '), x -> x IN ('le', 'la'))),
        |      len(list_filter(string_split(lower(text), ' '), x -> x IN ('el', 'los')))) AS m
        |  FROM documents)
        |ORDER BY doc_id""".stripMargin,

    // replays synthesizeImages' arithmetic: dims from doc_id, red-channel
    // sum over the w×h grid of (id·31 + x·7 + y·13) mod 256 — what Spark
    // recovers from the real encoded PNG bytes via ImageIO
    "multimodal_meta" ->
      """WITH dims AS (
        |  SELECT doc_id,
        |    CAST(4 + doc_id % 13 AS INT) AS width,
        |    CAST(3 + doc_id % 7 AS INT) AS height
        |  FROM documents),
        |g AS (SELECT g FROM generate_series(0, 16) t(g))
        |SELECT d.doc_id, d.width, d.height,
        |  CAST(SUM((d.doc_id * 31 + x.g * 7 + y.g * 13) % 256) AS BIGINT) AS pixel_sum,
        |  TRUE AS decoded
        |FROM dims d
        |JOIN g x ON x.g < d.width
        |JOIN g y ON y.g < d.height
        |GROUP BY 1, 2, 3 ORDER BY d.doc_id""".stripMargin,

    // replays synthesizeWavs' arithmetic: rate and frame count from
    // doc_id, signed-sample sum over (id·31 + i·17) mod 2048 − 1024 —
    // what Spark recovers from the real encoded WAV container bytes via
    // javax.sound.sampled; duration is integer-floor µs on both sides
    "multimodal_audio" ->
      """WITH p AS (
        |  SELECT doc_id,
        |    CAST(8000 + (doc_id % 3) * 4000 AS BIGINT) AS sample_rate,
        |    CAST(40 + doc_id % 101 AS BIGINT) AS n_samples
        |  FROM documents),
        |g AS (SELECT g FROM generate_series(0, 140) t(g))
        |SELECT p.doc_id, p.sample_rate, p.n_samples,
        |  CAST(p.n_samples * 1000000 // p.sample_rate AS BIGINT) AS duration_us,
        |  CAST(SUM((p.doc_id * 31 + g.g * 17) % 2048 - 1024) AS BIGINT) AS sample_sum,
        |  TRUE AS decoded
        |FROM p JOIN g ON g.g < p.n_samples
        |GROUP BY 1, 2, 3, 4 ORDER BY p.doc_id""".stripMargin,

    // states synthesizeToneWavs' ground truth: the tone frequency is
    // arithmetic in doc_id, and Spark must MEASURE it back from the real
    // WAV bytes via Goertzel DFT-bin energies (recall-gate convention:
    // the spectral concentration boolean is pinned TRUE; any detection
    // miss or diffuse spectrum breaks the row)
    "multimodal_audio_spectrum" ->
      """SELECT doc_id,
        |  CAST(8000 AS BIGINT) AS sample_rate,
        |  CAST(400 AS BIGINT) AS n_samples,
        |  CAST(CASE CAST(doc_id % 4 AS INT)
        |    WHEN 0 THEN 500 WHEN 1 THEN 1000 WHEN 2 THEN 2000
        |    ELSE 2500 END AS BIGINT) AS dominant_hz,
        |  TRUE AS peak_ok, TRUE AS decoded
        |FROM documents ORDER BY doc_id""".stripMargin,

    // replays synthesizeGifs' arithmetic: dims and frame count from
    // doc_id, every-2nd frame, gray sum over the w×h grid of
    // (id·31 + x·7 + y·13 + f·101) mod 256 — what Spark recovers from
    // the real encoded GIF container via ImageIO frame reads
    "multimodal_video" ->
      """WITH p AS (
        |  SELECT doc_id,
        |    CAST(4 + doc_id % 9 AS BIGINT) AS width,
        |    CAST(3 + doc_id % 5 AS BIGINT) AS height,
        |    CAST(2 + doc_id % 5 AS BIGINT) AS n_frames
        |  FROM documents),
        |g AS (SELECT g FROM generate_series(0, 12) t(g)),
        |fr AS (SELECT p.*, f.g AS frame_no FROM p
        |       JOIN g f ON f.g < p.n_frames AND f.g % 2 = 0)
        |SELECT fr.doc_id, fr.frame_no, fr.width, fr.height,
        |  CAST(SUM((fr.doc_id * 31 + x.g * 7 + y.g * 13 + fr.frame_no * 101) % 256)
        |    AS BIGINT) AS pixel_sum
        |FROM fr
        |JOIN g x ON x.g < fr.width
        |JOIN g y ON y.g < fr.height
        |GROUP BY 1, 2, 3, 4 ORDER BY fr.doc_id, fr.frame_no""".stripMargin,

    // replays synthesizePhashImages' md5 pixel arithmetic and re-derives
    // every dHash bit in SQL: pixel = (first md5 byte of "family_x_y" +
    // single-pixel variant perturbation) mod 256; bit y*8+x compares
    // (x+1,y) > (x,y); rows 0-3 -> hash_lo, rows 4-7 -> hash_hi (32-bit
    // words, no sign-bit traps). What Spark recovers from the real
    // encoded PNG bytes via ImageIO.
    "multimodal_phash" -> (phashSigsSql +
      """
        |SELECT doc_id, hash_hi, hash_lo, TRUE AS decoded
        |FROM sigs ORDER BY doc_id""".stripMargin),

    // Brute-force ALL image pairs at hamming <= 3 from the same replayed
    // hashes — the pigeonhole guarantee means the banded Spark path must
    // produce exactly this set (equality, not recall).
    "dedup_phash_pairs" -> phashPairsOracle,

    // SHARED with dedup_phash_pairs: the streamed ingest's accumulated
    // per-batch pair appends (batch-internal for the first batch,
    // batch-touching for every later one) must union to exactly the
    // all-pairs brute-force set — the green row is the equivalence proof
    // that the incremental banding over the persisted signature index
    // drops nothing and double-emits nothing across batches.
    "dedup_phash_streamed" -> phashPairsOracle,

    // re-bins the replayed pixels: bin = p // 16, count per (doc, bin),
    // zero bins materialized — what Spark recovers by decoding every
    // pixel of the real PNG bytes
    // gate → survivor pairs → recursive-CTE closure → keepers, all
    // replayed from the md5 pixel arithmetic; flat docs (% 5 = 0) fail
    // the gate by construction and never enter the pair set
    "pipeline_multimodal" -> ("WITH RECURSIVE " +
      phashSigsSql.stripPrefix("WITH ") +
      """,
        |gstats AS (
        |  SELECT doc_id, sum(p) AS s, sum(p * p) AS s2
        |  FROM px WHERE doc_id % 5 <> 0 GROUP BY doc_id),
        |ghist AS (
        |  SELECT doc_id, p // 16 AS bin, count(*) AS k
        |  FROM px WHERE doc_id % 5 <> 0 GROUP BY 1, 2),
        |gent AS (
        |  SELECT doc_id, -sum((k / 72.0) * ln(k / 72.0)) AS e
        |  FROM ghist GROUP BY doc_id),
        |gate AS (
        |  SELECT gstats.doc_id,
        |    (round(sqrt(s2 / 72.0 - (s / 72.0) * (s / 72.0)), 4) >= 8.0
        |     AND round(e, 4) >= 1.5) AS ok
        |  FROM gstats JOIN gent USING (doc_id)),
        |pass AS (SELECT doc_id FROM gate WHERE ok),
        |psigs AS (SELECT s.* FROM sigs s JOIN pass USING (doc_id)),
        |ppairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM psigs a JOIN psigs b ON a.doc_id < b.doc_id
        |  WHERE bit_count(xor(a.hash_hi, b.hash_hi)) +
        |        bit_count(xor(a.hash_lo, b.hash_lo)) <= 3),
        |edges AS (
        |  SELECT doc_a AS a, doc_b AS b FROM ppairs
        |  UNION ALL SELECT doc_b, doc_a FROM ppairs),
        |reach(a, b) AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
        |labels AS (
        |  SELECT a AS doc_id, least(a, min(b)) AS cluster_id FROM reach GROUP BY a),
        |lab AS (
        |  SELECT p.doc_id, coalesce(l.cluster_id, p.doc_id) AS cluster_id
        |  FROM pass p LEFT JOIN labels l USING (doc_id)),
        |csizes AS (SELECT cluster_id, count(*) AS cluster_size FROM lab GROUP BY 1)
        |SELECT d.doc_id,
        |  coalesce(g.ok, false) AS quality_ok,
        |  lab.cluster_id,
        |  CAST(csizes.cluster_size AS BIGINT) AS cluster_size,
        |  coalesce(lab.doc_id = lab.cluster_id, false) AS is_keeper,
        |  (coalesce(g.ok, false) AND coalesce(lab.doc_id = lab.cluster_id, false)) AS kept
        |FROM documents d
        |LEFT JOIN gate g ON g.doc_id = d.doc_id
        |LEFT JOIN lab ON lab.doc_id = d.doc_id
        |LEFT JOIN csizes ON csizes.cluster_id = lab.cluster_id
        |ORDER BY d.doc_id""".stripMargin),

    // the container arithmetic ideal: every box value is a function of
    // doc_id, so the replay states brand/timescale/duration/track-split
    // directly — the byte-walk must erase the v1-layout, poison, AND
    // fragmented classes to match. Non-frag durations are k×500/1000 =
    // exact binary halves; frag durations replay the moof sum
    // 450 + (id%2)·600 + (3+id%3)·200·(1+id%3), divided by 1000.0 in
    // both engines (same IEEE operands ⇒ same double).
    "multimodal_video_meta" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 11 = 0 THEN '' ELSE 'isom' END AS major_brand,
        |  CAST(CASE WHEN doc_id % 11 = 0 THEN 0 ELSE 1000 END AS BIGINT) AS timescale,
        |  CAST(CASE WHEN doc_id % 11 = 0 THEN 0
        |       WHEN doc_id % 13 = 6 THEN
        |         450 + (doc_id % 2) * 600 + (3 + doc_id % 3) * 200 * (1 + doc_id % 3)
        |       ELSE (doc_id % 9 + 1) * 500 END AS BIGINT) AS duration_units,
        |  CASE WHEN doc_id % 11 = 0 THEN 0.0
        |       WHEN doc_id % 13 = 6 THEN
        |         (450 + (doc_id % 2) * 600 + (3 + doc_id % 3) * 200 * (1 + doc_id % 3)) / 1000.0
        |       ELSE (doc_id % 9 + 1) * 0.5 END AS duration_s,
        |  CAST(CASE WHEN doc_id % 11 = 0 THEN 0
        |       ELSE 1 + doc_id % 3 END AS BIGINT) AS n_tracks,
        |  CAST(CASE WHEN doc_id % 11 = 0 THEN 0
        |       WHEN doc_id % 3 = 2 THEN 2 ELSE 1 END AS BIGINT) AS n_video_tracks,
        |  CAST(CASE WHEN doc_id % 11 = 0 THEN 0
        |       WHEN doc_id % 3 >= 1 THEN 1 ELSE 0 END AS BIGINT) AS n_audio_tracks,
        |  doc_id % 11 <> 0 AS decoded,
        |  (doc_id % 11 <> 0 AND (doc_id % 9 >= 1 OR doc_id % 13 = 6)) AS quality_ok
        |FROM documents ORDER BY doc_id""".stripMargin,

    // motion replayed from the per-class frame arithmetic: the absolute
    // inter-frame difference of the synthesis formula, summed exactly
    // over bounded series + inequality joins on (x, y, f)
    "multimodal_video_quality" ->
      """WITH dims AS (
        |  SELECT doc_id, 4 + doc_id % 9 AS w, 3 + doc_id % 5 AS h,
        |    2 + doc_id % 5 AS nf
        |  FROM documents),
        |px AS (
        |  SELECT d.doc_id, d.nf,
        |    abs(CAST((d.doc_id * 31 + xs.x * 7 + ys.y * 13 +
        |          CASE WHEN d.doc_id % 5 = 0 THEN 0 ELSE fs.f * 101 END) % 256 AS BIGINT)
        |      - CAST((d.doc_id * 31 + xs.x * 7 + ys.y * 13 +
        |          CASE WHEN d.doc_id % 5 = 0 THEN 0 ELSE (fs.f - 1) * 101 END) % 256 AS BIGINT)) AS ad
        |  FROM dims d
        |  JOIN generate_series(0, 12) xs(x) ON xs.x < d.w
        |  JOIN generate_series(0, 7) ys(y) ON ys.y < d.h
        |  JOIN generate_series(1, 6) fs(f) ON fs.f < d.nf),
        |st AS (
        |  SELECT doc_id, max(nf) AS nf, sum(ad) AS diff, count(*) AS npx
        |  FROM px GROUP BY doc_id),
        |q AS (
        |  SELECT doc_id, CAST(nf AS BIGINT) AS n_frames,
        |    round(diff * 1.0 / npx, 4) AS motion
        |  FROM st)
        |SELECT doc_id, n_frames, motion,
        |  (n_frames >= 2 AND motion > (SELECT quantile_cont(motion, 0.10) FROM q))
        |    AS quality_ok
        |FROM q ORDER BY doc_id""".stripMargin,

    // peak / RMS / clip-ratio replayed from the per-class sample
    // arithmetic (bounded series + inequality join for the per-doc
    // length; all sums exact integer folds)
    "multimodal_audio_quality" ->
      """WITH lens AS (SELECT doc_id, 40 + doc_id % 101 AS n FROM documents),
        |samp AS (
        |  SELECT l.doc_id, l.n,
        |    CASE CAST(l.doc_id % 5 AS INT)
        |      WHEN 0 THEN 0
        |      WHEN 1 THEN CASE WHEN t.i % 2 = 0 THEN 32767 ELSE -32768 END
        |      ELSE ((l.doc_id * 31 + t.i * 17) % 2048) - 1024 END AS s
        |  FROM lens l JOIN generate_series(0, 140) t(i) ON t.i < l.n),
        |st AS (
        |  SELECT doc_id, max(n) AS n, max(abs(s)) AS peak, sum(s * s) AS s2,
        |    sum(CASE WHEN abs(s) >= 32000 THEN 1 ELSE 0 END) AS clipped
        |  FROM samp GROUP BY doc_id),
        |q AS (
        |  SELECT doc_id, CAST(n AS BIGINT) AS n_samples,
        |    CAST(peak AS BIGINT) AS peak,
        |    round(sqrt(s2 * 1.0 / n), 4) AS rms,
        |    round(clipped * 1.0 / n, 4) AS clip_ratio
        |  FROM st)
        |SELECT doc_id, n_samples, peak, rms, clip_ratio,
        |  (rms > (SELECT quantile_cont(rms, 0.10) FROM q)
        |   AND clip_ratio < (SELECT quantile_cont(clip_ratio, 0.90) FROM q))
        |    AS quality_ok
        |FROM q ORDER BY doc_id""".stripMargin,

    // mean / contrast / entropy replayed from the md5 pixel arithmetic
    // for the noise class (integer sums → exact float replay at 4 dp);
    // the flat class (doc_id % 5 = 0) is constants by construction
    "multimodal_quality" -> (phashPxSql +
      """,
        |stats AS (
        |  SELECT doc_id, count(*) AS n, sum(p) AS s, sum(p * p) AS s2
        |  FROM px WHERE doc_id % 5 <> 0 GROUP BY doc_id),
        |hist AS (
        |  SELECT doc_id, p // 16 AS bin, count(*) AS k
        |  FROM px WHERE doc_id % 5 <> 0 GROUP BY 1, 2),
        |ent AS (
        |  SELECT doc_id, -sum((k / 72.0) * ln(k / 72.0)) AS e
        |  FROM hist GROUP BY doc_id),
        |noise AS (
        |  SELECT stats.doc_id, 72 AS n_px,
        |    round(s / 72.0, 4) AS mean_px,
        |    round(sqrt(s2 / 72.0 - (s / 72.0) * (s / 72.0)), 4) AS contrast,
        |    round(e, 4) AS entropy
        |  FROM stats JOIN ent USING (doc_id)),
        |flat AS (
        |  SELECT doc_id, 72 AS n_px, 128.0 AS mean_px, 0.0 AS contrast,
        |    0.0 AS entropy
        |  FROM documents WHERE doc_id % 5 = 0),
        |q AS (SELECT * FROM noise UNION ALL SELECT * FROM flat)
        |SELECT doc_id, CAST(n_px AS BIGINT) AS n_px, mean_px, contrast,
        |  entropy,
        |  (contrast > (SELECT quantile_cont(contrast, 0.10) FROM q)
        |   AND entropy > (SELECT quantile_cont(entropy, 0.10) FROM q))
        |    AS quality_ok
        |FROM q ORDER BY doc_id""".stripMargin),

    "multimodal_features" -> (phashPxSql +
      """,
        |hist AS (SELECT doc_id, p // 16 AS bin, count(*) AS n FROM px GROUP BY 1, 2),
        |bins AS (SELECT b FROM generate_series(0, 15) t(b))
        |SELECT d.doc_id, CAST(b.b AS BIGINT) AS bin,
        |  CAST(coalesce(h.n, 0) AS BIGINT) AS n
        |FROM documents d CROSS JOIN bins b
        |LEFT JOIN hist h ON h.doc_id = d.doc_id AND h.bin = b.b
        |ORDER BY d.doc_id, bin""".stripMargin),

    // the bruteTopkOracle shape over histogram vectors re-derived from
    // the replayed pixels — integer counts keep the cosine chain
    // bit-reproducible across engines
    "ann_image_topk" -> imageBruteTopkOracle,

    // exact search (nProbe = nCells) over the streamed accumulation must
    // equal brute force — the oracle verifies the accumulation itself,
    // the same contract as ann_ivf_streamed
    "ann_image_streamed" -> imageBruteTopkOracle,

    // every frame hash re-derived from the md5 pixel arithmetic, aligned
    // comparison brute-forced, >= 2 matching frames — what the banded
    // surrogate join must emit exactly
    "dedup_video_pairs" ->
      """WITH fams AS (
        |  SELECT doc_id, doc_id // 4 AS family,
        |    2 + CAST((doc_id // 4) % 3 AS INT) AS nf
        |  FROM documents),
        |vpx AS (
        |  SELECT fm.doc_id, fr.f, xs.x, ys.y,
        |    (CAST(concat('0x', substr(md5(concat(fm.family, '_', xs.x, '_', ys.y, '_', fr.f)), 1, 2)) AS BIGINT)
        |     + CASE WHEN fm.doc_id % 4 > 0 AND xs.x = fm.doc_id % 4
        |                 AND ys.y = fm.doc_id % 4 AND fr.f = 0
        |            THEN (fm.doc_id % 4) * 3 ELSE 0 END) % 256 AS p
        |  FROM fams fm
        |  JOIN generate_series(0, 3) fr(f) ON fr.f < fm.nf
        |  CROSS JOIN generate_series(0, 8) xs(x)
        |  CROSS JOIN generate_series(0, 7) ys(y)),
        |vbits AS (
        |  SELECT a.doc_id, a.f, a.x, a.y,
        |    CASE WHEN b.p > a.p THEN 1 ELSE 0 END AS bit
        |  FROM vpx a JOIN vpx b ON b.doc_id = a.doc_id AND b.f = a.f
        |    AND b.y = a.y AND b.x = a.x + 1
        |  WHERE a.x < 8),
        |vsigs AS (
        |  SELECT doc_id, f,
        |    CAST(SUM(CASE WHEN y >= 4 THEN CAST(bit AS BIGINT) << ((y - 4) * 8 + x) ELSE 0 END) AS BIGINT) AS hash_hi,
        |    CAST(SUM(CASE WHEN y < 4 THEN CAST(bit AS BIGINT) << (y * 8 + x) ELSE 0 END) AS BIGINT) AS hash_lo
        |  FROM vbits GROUP BY doc_id, f),
        |fp AS (
        |  SELECT a.doc_id AS vid_a, b.doc_id AS vid_b
        |  FROM vsigs a JOIN vsigs b ON a.doc_id < b.doc_id AND a.f = b.f
        |  WHERE bit_count(xor(a.hash_hi, b.hash_hi)) +
        |        bit_count(xor(a.hash_lo, b.hash_lo)) <= 3)
        |SELECT vid_a, vid_b, count(*) AS n_matching_frames
        |FROM fp GROUP BY 1, 2 HAVING count(*) >= 2
        |ORDER BY vid_a, vid_b""".stripMargin,

    // Scene-cut replay: the full dHash chain (pixel arithmetic with the
    // f//3 shot key → gradient bits → packed halves → consecutive-frame
    // hamming) — the verdict is compared hash-to-hash, not assumed from
    // the scene arithmetic.
    "multimodal_video_scenes" ->
      """WITH clips AS (SELECT doc_id AS vid,
        |    8 + CAST((doc_id // 4) % 3 AS INT) AS nf
        |  FROM documents WHERE doc_id < 100),
        |vpx AS (
        |  SELECT c.vid, fr.f, xs.x, ys.y,
        |    CAST(concat('0x', substr(md5(concat(c.vid, '_', xs.x, '_', ys.y, '_', fr.f // 3)), 1, 2)) AS BIGINT) % 256 AS p
        |  FROM clips c
        |  JOIN generate_series(0, 9) fr(f) ON fr.f < c.nf
        |  CROSS JOIN generate_series(0, 8) xs(x)
        |  CROSS JOIN generate_series(0, 7) ys(y)),
        |vbits AS (
        |  SELECT a.vid, a.f, a.x, a.y,
        |    CASE WHEN b.p > a.p THEN 1 ELSE 0 END AS bit
        |  FROM vpx a JOIN vpx b ON b.vid = a.vid AND b.f = a.f
        |    AND b.y = a.y AND b.x = a.x + 1
        |  WHERE a.x < 8),
        |vsigs AS (
        |  SELECT vid, f,
        |    CAST(SUM(CASE WHEN y >= 4 THEN CAST(bit AS BIGINT) << ((y - 4) * 8 + x) ELSE 0 END) AS BIGINT) AS hash_hi,
        |    CAST(SUM(CASE WHEN y < 4 THEN CAST(bit AS BIGINT) << (y * 8 + x) ELSE 0 END) AS BIGINT) AS hash_lo
        |  FROM vbits GROUP BY vid, f),
        |dist AS (
        |  SELECT a.vid,
        |    CASE WHEN bit_count(xor(a.hash_hi, b.hash_hi)) +
        |              bit_count(xor(a.hash_lo, b.hash_lo)) > 8
        |         THEN 1 ELSE 0 END AS cut
        |  FROM vsigs a JOIN vsigs b ON b.vid = a.vid AND b.f = a.f - 1)
        |SELECT c.vid, CAST(c.nf AS BIGINT) AS n_frames,
        |  CAST(coalesce(sum(d.cut), 0) AS BIGINT) AS n_cuts,
        |  CAST(coalesce(sum(d.cut), 0) + 1 AS BIGINT) AS n_scenes
        |FROM clips c LEFT JOIN dist d USING (vid)
        |GROUP BY c.vid, c.nf ORDER BY vid""".stripMargin,

    // the FULL-frame comparison on the long-clip class (every one of the
    // 64–66 frames hashed, >= 2 aligned matches) — the keyframe-SAMPLED
    // Spark path (every 8th frame only) must land exactly this pair
    // set: green = sampling loses nothing on the planted class
    "dedup_video_pairs_sampled" ->
      """WITH fams AS (
        |  SELECT doc_id, doc_id // 4 AS family,
        |    64 + CAST((doc_id // 4) % 3 AS INT) AS nf
        |  FROM documents WHERE doc_id < 200),
        |vpx AS (
        |  SELECT fm.doc_id, fr.f, xs.x, ys.y,
        |    (CAST(concat('0x', substr(md5(concat(fm.family, '_', xs.x, '_', ys.y, '_', fr.f)), 1, 2)) AS BIGINT)
        |     + CASE WHEN fm.doc_id % 4 > 0 AND xs.x = fm.doc_id % 4
        |                 AND ys.y = fm.doc_id % 4 AND fr.f = 0
        |            THEN (fm.doc_id % 4) * 3 ELSE 0 END) % 256 AS p
        |  FROM fams fm
        |  JOIN generate_series(0, 66) fr(f) ON fr.f < fm.nf
        |  CROSS JOIN generate_series(0, 8) xs(x)
        |  CROSS JOIN generate_series(0, 7) ys(y)),
        |vbits AS (
        |  SELECT a.doc_id, a.f, a.x, a.y,
        |    CASE WHEN b.p > a.p THEN 1 ELSE 0 END AS bit
        |  FROM vpx a JOIN vpx b ON b.doc_id = a.doc_id AND b.f = a.f
        |    AND b.y = a.y AND b.x = a.x + 1
        |  WHERE a.x < 8),
        |vsigs AS (
        |  SELECT doc_id, f,
        |    CAST(SUM(CASE WHEN y >= 4 THEN CAST(bit AS BIGINT) << ((y - 4) * 8 + x) ELSE 0 END) AS BIGINT) AS hash_hi,
        |    CAST(SUM(CASE WHEN y < 4 THEN CAST(bit AS BIGINT) << (y * 8 + x) ELSE 0 END) AS BIGINT) AS hash_lo
        |  FROM vbits GROUP BY doc_id, f),
        |fp AS (
        |  SELECT a.doc_id AS vid_a, b.doc_id AS vid_b
        |  FROM vsigs a JOIN vsigs b ON a.doc_id < b.doc_id AND a.f = b.f
        |  WHERE bit_count(xor(a.hash_hi, b.hash_hi)) +
        |        bit_count(xor(a.hash_lo, b.hash_lo)) <= 3)
        |SELECT vid_a, vid_b
        |FROM fp GROUP BY 1, 2 HAVING count(*) >= 2
        |ORDER BY vid_a, vid_b""".stripMargin,

    // the ivfTopkOracle shape over histogram vectors re-derived from the
    // replayed pixels: centroids read from the persisted ivfimg index,
    // assignment (cr=1) and probes (cr<=4) replayed by squared-L2 rank,
    // cosine over the probed cells — row-for-row the Spark IVF search
    "ann_image_ivf" -> imageIvfOracle,

    // identical replay from the partitioned image index's own centroids
    // (stored assignments were written by the same seeded kernel)
    "ann_image_pruned" -> imageIvfOracle.replace(
      "/tmp/graft_ann_index/ivfimg/", "/tmp/graft_ann_index/ivfimgpart/"),


    // Brute-force ALL pairs, kept where a member is in the incoming
    // batch (doc_id % 7 = 3) — the incremental banded path must emit
    // exactly this set: new-new and new-old pairs, never old-old
    "dedup_phash_incremental" -> (phashSigsSql +
      """
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(bit_count(xor(a.hash_hi, b.hash_hi)) +
        |       bit_count(xor(a.hash_lo, b.hash_lo)) AS BIGINT) AS hamming
        |FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.hash_hi, b.hash_hi)) +
        |      bit_count(xor(a.hash_lo, b.hash_lo)) <= 3
        |  AND (a.doc_id % 7 = 3 OR b.doc_id % 7 = 3)
        |ORDER BY doc_a, doc_b""".stripMargin),

    // Brute-force phash pairs closed transitively with a recursive CTE —
    // the banded + pointer-jumped Spark path must land on exactly these
    // labels, sizes and keepers (same closure shape as dedupClustersOracle)
    "dedup_phash_clusters" -> phashClustersOracle,

    // SHARED with dedup_phash_clusters: the incremental relabeling
    // (previous labels as star edges + batch-touching pairs only) must
    // equal the from-scratch closure — green = exact-equivalence proof,
    // the same twin contract as dedup_clusters_incremental.
    "dedup_phash_clusters_incremental" -> phashClustersOracle,

    // The enrichment cassette restated: the loopback server's response
    // fields are arithmetic in the DOI key (publisher from length mod 7,
    // cited from length and '7'-count, 404 for keys ending in '3'), so
    // the oracle recomputes what the LIVE client must have recorded.
    "etl_enrich_replay" ->
      """WITH k AS (SELECT doc_id AS d,
        |  '10.' || CAST(doc_id % 900 + 100 AS VARCHAR) || '/k' ||
        |    CAST(doc_id AS VARCHAR) AS key
        |  FROM documents WHERE doc_id % 5 <> 4)
        |SELECT d AS doc_id, key,
        |  (d % 10 <> 3) AS fetched_ok,
        |  CASE WHEN d % 10 <> 3
        |    THEN 'P' || CAST(length(key) % 7 AS VARCHAR) END AS publisher,
        |  CASE WHEN d % 10 <> 3 THEN CAST(length(key) * 3 +
        |    (length(key) - length(replace(key, '7', ''))) AS BIGINT)
        |  END AS cited,
        |  TRUE AS covered
        |FROM k ORDER BY doc_id""".stripMargin,

    // The search cassette restated: candidate lists are the exact query
    // plus two static decoys, except every (topic+volume)%7==0 query
    // where the exact title is withheld — matched/best state what the
    // fuzzy gate must decide (decoys score far under the 90 threshold;
    // the exact title scores 100).
    "etl_search_replay" ->
      """WITH q AS (SELECT DISTINCT doc_id % 50 AS t, doc_id % 9 AS v
        |  FROM documents),
        |qq AS (SELECT 'study of topic ' || CAST(t AS VARCHAR) ||
        |    ' volume ' || CAST(v AS VARCHAR) AS query,
        |    (t + v) % 7 <> 0 AS m FROM q)
        |SELECT query,
        |  CAST(CASE WHEN m THEN 3 ELSE 2 END AS BIGINT) AS n_candidates,
        |  m AS matched, CASE WHEN m THEN query END AS best
        |FROM qq ORDER BY query""".stripMargin,

    // Full offline cascade replicated in DuckDB: per-stage regex extracts
    // (RE2 accepts the same (?i) inline flag), the normalize pipeline
    // (upper -> strip trailing dots -> cut URL artifacts) for stages 1-2,
    // prefix synthesis for stages 3-5, first-non-null doi and stage name.
    "doi_extract" ->
      """WITH u0 AS (
        |  SELECT doc_id,
        |    CASE CAST(doc_id % 6 AS INT)
        |      WHEN 0 THEN 'https://doi.org/10.1' || CAST(doc_id % 1000 + 1000 AS VARCHAR)
        |                  || '/j.' || source || '.' || CAST(doc_id AS VARCHAR) || '.pdf'
        |      WHEN 1 THEN 'https://org.example/10-' || CAST(doc_id % 9000 + 1000 AS VARCHAR)
        |                  || '/item-' || CAST(doc_id AS VARCHAR) || '.abstract'
        |      WHEN 2 THEN 'https://www.biotaxa.org/zootaxa.' || CAST(doc_id % 400 + 2000 AS VARCHAR)
        |                  || '.5.' || CAST(doc_id % 9 + 1 AS VARCHAR)
        |      WHEN 3 THEN 'https://www.nature.com/articles/s' || CAST(doc_id % 90000 + 10000 AS VARCHAR)
        |                  || '-' || CAST(doc_id % 900 + 100 AS VARCHAR)
        |                  || '-' || CAST(doc_id * 7 % 90000 + 10000 AS VARCHAR) || '-x'
        |      WHEN 4 THEN 'https://www.cambridge.org/core/article?fileId=S'
        |                  || CAST(doc_id % 9000000 + 1000000 AS VARCHAR)
        |      ELSE 'https://example.com/plain/article.html' END AS url
        |  FROM documents),
        |-- F15 replay: the fixture encodes '/' as %2F and wraps in '+'/'%20'
        |-- noise; over that exact alphabet urlFix (decode + drop spaces) is
        |-- pure string substitution, so the round-trip is replayed verbatim
        |u AS (
        |  SELECT doc_id,
        |    replace(replace(replace(
        |      '+' || replace(url, '/', '%2F') || '%20',
        |      '%2F', '/'), '%20', ''), '+', '') AS url
        |  FROM u0),
        |raw AS (
        |  SELECT doc_id, url,
        |    nullif(regexp_extract(url, '(?i)(10\.\d{4,9}/[-._;()/:A-Z0-9]+)', 1), '') AS s1,
        |    nullif(regexp_extract(url, '(?i)(10.\d{4,9}/[-._A-Z0-9]+)', 1), '') AS s2,
        |    nullif(regexp_extract(url, '(\w+taxa\.\d{1,4}\.\d+\.\d+)', 1), '') AS s3,
        |    nullif(regexp_extract(url, '(s\d{5}-\d{3}-\d{5}-.)', 1), '') AS s4a,
        |    nullif(regexp_extract(url, 'nature\.com/articles/([^/]+)', 1), '') AS s4b,
        |    nullif(regexp_extract(url, 'fileId=(S[A-Z0-9]+)', 1), '') AS s5
        |  FROM u),
        |norm AS (
        |  SELECT doc_id, url,
        |    regexp_replace(regexp_replace(upper(s1), '\.+$', ''), '[./](E?PDF|ABSTRACT|FULL|SHORT).*$', '') AS d1,
        |    regexp_replace(regexp_replace(upper(s2), '\.+$', ''), '[./](E?PDF|ABSTRACT|FULL|SHORT).*$', '') AS d2,
        |    CASE WHEN s3 IS NOT NULL THEN '10.11646/' || s3 END AS d3,
        |    CASE WHEN s4a IS NOT NULL THEN '10.1038/' || s4a
        |         WHEN s4b IS NOT NULL THEN '10.1038/' || s4b END AS d4,
        |    CASE WHEN s5 IS NOT NULL THEN '10.1017/' || s5 END AS d5
        |  FROM raw)
        |SELECT doc_id, url AS url_fixed, coalesce(d1, d2, d3, d4, d5) AS doi,
        |  CASE WHEN d1 IS NOT NULL THEN 'doi_regex'
        |       WHEN d2 IS NOT NULL THEN 'doi_regex_strict'
        |       WHEN d3 IS NOT NULL THEN 'mapress_regex'
        |       WHEN d4 IS NOT NULL THEN 'nature_regex'
        |       WHEN d5 IS NOT NULL THEN 'cambridge_regex' END AS stage
        |FROM norm ORDER BY doc_id""".stripMargin,

    // rankedJournals now keeps a deterministic first-by-sort row per ISSN on
    // each ranking side, so the whole pipeline is SQL-replicable.
    "j9_journal_coverage" ->
      """WITH docs AS (
        |  SELECT doc_id,
        |    lpad(CAST(doc_id % 40 AS VARCHAR), 4, '0') || '-' ||
        |    lpad(CAST((doc_id + 7) % 40 AS VARCHAR), 4, '0') AS issns
        |  FROM documents),
        |counts AS (
        |  SELECT replace(issns, '-', '') AS issn, count(*) AS n_outputs
        |  FROM docs GROUP BY 1),
        |scopus AS (
        |  SELECT issn, title AS scopus_title, citescore FROM (
        |    SELECT replace(d.issns, '-', '') AS issn, 'J' || CAST(d.doc_id AS VARCHAR) AS title,
        |      CAST(d.doc_id % 10 AS VARCHAR) AS citescore,
        |      row_number() OVER (PARTITION BY replace(d.issns, '-', '')
        |                         ORDER BY 'J' || CAST(d.doc_id AS VARCHAR), CAST(d.doc_id % 10 AS VARCHAR)) AS rn
        |    FROM docs d WHERE d.doc_id % 4 = 0)
        |  WHERE rn = 1),
        |sjr AS (
        |  SELECT issn, sjr, h_index FROM (
        |    SELECT replace(d.issns, '-', '') AS issn,
        |      CAST(replace(CAST(d.doc_id % 3 AS VARCHAR) || ',5', ',', '.') AS DOUBLE) AS sjr,
        |      CAST(d.doc_id % 100 AS INT) AS h_index,
        |      row_number() OVER (PARTITION BY replace(d.issns, '-', '')
        |                         ORDER BY CAST(replace(CAST(d.doc_id % 3 AS VARCHAR) || ',5', ',', '.') AS DOUBLE),
        |                                  CAST(d.doc_id % 100 AS INT)) AS rn
        |    FROM docs d WHERE d.doc_id % 4 = 1)
        |  WHERE rn = 1),
        |ranked AS (
        |  SELECT c.issn, c.n_outputs, s.citescore, j.sjr, j.h_index
        |  FROM counts c LEFT JOIN scopus s ON c.issn = s.issn
        |  LEFT JOIN sjr j ON c.issn = j.issn),
        |base AS (
        |  SELECT CASE WHEN citescore IS NOT NULL THEN 'CiteScore'
        |              WHEN sjr IS NOT NULL THEN 'SJR'
        |              ELSE 'Unranked' END AS ranking, n_outputs
        |  FROM ranked)
        |SELECT ranking, CAST(sum(n_outputs) AS BIGINT) AS n_outputs, count(*) AS n_journals
        |FROM base GROUP BY 1
        |UNION ALL
        |SELECT 'Total', CAST(sum(n_outputs) AS BIGINT), count(*) FROM base
        |ORDER BY ranking""".stripMargin,

    // Replay oracle for the persisted-planes LSH search: bucket = OR of
    // sign bits of dot products against the stored hyperplanes; a corpus
    // row is a candidate if it shares any (table, bucket) with the query;
    // candidates dedup to pairs and rank by rounded cosine with id
    // tiebreak — row-identical to lshSearch.
    "ann_lsh_topk" ->
      """WITH pl AS (
        |  SELECT tbl, bit, plane
        |  FROM read_parquet('/tmp/graft_ann_index/lsh/*/planes/*.parquet')
        |  WHERE n_corpus = (SELECT count(*) FROM embeddings)),
        |v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |sig AS (SELECT vec_id, tbl,
        |          sum(CASE WHEN list_inner_product(e, plane) >= 0
        |              THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END) AS bucket
        |        FROM v, pl GROUP BY vec_id, tbl),
        |cand AS (SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
        |         FROM sig q JOIN sig c ON q.tbl = c.tbl AND q.bucket = c.bucket
        |         WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id),
        |scored AS (SELECT query_id, neighbor_id,
        |             round(list_cosine_similarity(qv.e, nv.e), 4) AS sim
        |           FROM cand
        |           JOIN v qv ON cand.query_id = qv.vec_id
        |           JOIN v nv ON cand.neighbor_id = nv.vec_id)
        |SELECT query_id, rn AS rank, neighbor_id, sim
        |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
        |        ORDER BY sim DESC, neighbor_id) AS rn FROM scored)
        |WHERE rn <= 5 ORDER BY query_id, rank""".stripMargin,

    // Replay oracle for the persisted-index IVF search: the KMeans FIT is
    // not SQL-expressible, but given the persisted centroids the rest is —
    // DuckDB reads the same parquet table (glob over the size-keyed index
    // dirs, filtered on the stamped n_corpus) and replays raw-space cell
    // assignment (rank by |c|^2 − 2x·c with cell tiebreak), the nProbe=4
    // probe set, and the in-cell cosine top-5 row-for-row.
    "ann_ivf_topk" -> ivfTopkOracle,
    // identical replay from the partitioned index's own centroids table
    // (assignments are a pure function of vectors × centroids, so the
    // oracle need never read the hive-partitioned vectors files)
    "ann_ivf_pruned" -> ivfTopkOracle.replace(
      "/tmp/graft_ann_index/ivf/", "/tmp/graft_ann_index/ivfpart/"),

    // Replay oracle for the persisted-index PQ search: given the codebooks
    // and codes tables, DuckDB rebuilds the per-query ADC lookup tables
    // (t_j[c] = q_j · centroid_{j,c} over the normalized query subvectors),
    // scores every code row as t_0[code_0] + … + t_7[code_7] in the same
    // left-to-right order, cuts the refine×k=160 shortlist (rounded-ADC
    // desc, id tiebreak), and exact-re-ranks it with normalized dot
    // products — row-identical to pqSearch.
    "ann_pq_topk" ->
      """WITH nn AS (SELECT count(*) AS n FROM embeddings),
        |books AS (
        |  SELECT subspace, centroid_id, centroid
        |  FROM read_parquet('/tmp/graft_ann_index/pq/*/codebooks/*.parquet')
        |  WHERE n_corpus = (SELECT n FROM nn)),
        |codes AS (
        |  SELECT * FROM read_parquet('/tmp/graft_ann_index/pq/*/codes/*.parquet')
        |  WHERE n_corpus = (SELECT n FROM nn)),
        |v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |nv AS (SELECT vec_id,
        |         CASE WHEN nrm > 0 THEN list_transform(e, x -> x / nrm) ELSE e END AS nvec
        |       FROM (SELECT vec_id, e,
        |               sqrt(list_inner_product(e, e)) AS nrm FROM v)),
        |qn AS (SELECT vec_id AS query_id, nvec AS qv FROM nv WHERE vec_id < 10),
        |qt AS (SELECT query_id, subspace, centroid_id,
        |         list_inner_product(qv[(subspace * 8 + 1):(subspace * 8 + 8)],
        |                            centroid) AS t
        |       FROM qn, books),
        |scored AS (
        |  SELECT q.query_id, c.neighbor_id,
        |    round(t0.t + t1.t + t2.t + t3.t + t4.t + t5.t + t6.t + t7.t, 4) AS adc
        |  FROM codes c CROSS JOIN qn q
        |  JOIN qt t0 ON t0.query_id = q.query_id AND t0.subspace = 0 AND t0.centroid_id = c.code_0 - 1
        |  JOIN qt t1 ON t1.query_id = q.query_id AND t1.subspace = 1 AND t1.centroid_id = c.code_1 - 1
        |  JOIN qt t2 ON t2.query_id = q.query_id AND t2.subspace = 2 AND t2.centroid_id = c.code_2 - 1
        |  JOIN qt t3 ON t3.query_id = q.query_id AND t3.subspace = 3 AND t3.centroid_id = c.code_3 - 1
        |  JOIN qt t4 ON t4.query_id = q.query_id AND t4.subspace = 4 AND t4.centroid_id = c.code_4 - 1
        |  JOIN qt t5 ON t5.query_id = q.query_id AND t5.subspace = 5 AND t5.centroid_id = c.code_5 - 1
        |  JOIN qt t6 ON t6.query_id = q.query_id AND t6.subspace = 6 AND t6.centroid_id = c.code_6 - 1
        |  JOIN qt t7 ON t7.query_id = q.query_id AND t7.subspace = 7 AND t7.centroid_id = c.code_7 - 1
        |  WHERE c.neighbor_id <> q.query_id),
        |short AS (SELECT query_id, neighbor_id FROM
        |  (SELECT *, row_number() OVER (PARTITION BY query_id
        |     ORDER BY adc DESC, neighbor_id) AS rn FROM scored)
        |  WHERE rn <= 160),
        |rescored AS (SELECT s.query_id, s.neighbor_id,
        |    round(list_inner_product(q.qv, n.nvec), 4) AS sim
        |  FROM short s
        |  JOIN nv n ON s.neighbor_id = n.vec_id
        |  JOIN qn q ON s.query_id = q.query_id)
        |SELECT query_id, rn AS rank, neighbor_id, sim
        |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
        |        ORDER BY sim DESC, neighbor_id) AS rn FROM rescored)
        |WHERE rn <= 5 ORDER BY query_id, rank""".stripMargin,

    // Replay oracle for the composed IVF-PQ search: both persisted halves
    // read back; the corpus' PQ codes are taken from the persisted codes
    // table (identical by construction — same codebooks, same normalized
    // vectors, same argmin), the IVF side restricts which (query, code)
    // pairs are ADC-scored to the query's 6 probed cells, and shortlist +
    // exact re-rank replay as in ann_pq_topk.
    "ann_ivfpq_topk" -> ivfPqTopkOracle,
    // identical replay from the partitioned package's own three tables;
    // the codes glob gains the cell= directory level (DuckDB's hive
    // detection surfaces cell as a column the replay's qualified joins
    // simply never reference)
    "ann_ivfpq_pruned" -> ivfPqTopkOracle
      .replace("/tmp/graft_ann_index/ivf/*/centroids/*.parquet",
        "/tmp/graft_ann_index/ivfpqpart32/*/centroids/*.parquet")
      .replace("/tmp/graft_ann_index/pq32/*/codebooks/*.parquet",
        "/tmp/graft_ann_index/ivfpqpart32/*/codebooks/*.parquet")
      .replace("/tmp/graft_ann_index/pq32/*/codes/*.parquet",
        "/tmp/graft_ann_index/ivfpqpart32/*/codes/*/*.parquet"),

    // the streamed oracle replays from the STREAMED index's own persisted
    // tables (one more glob level for the cell=/batch_id= nesting) — so
    // the hash proves the accumulated tables themselves, and since the
    // result must equal the batch-built twin's (shared seeded fits +
    // shared encoding kernels), drift between the two is impossible
    "ann_ivfpq_streamed" -> ivfPqTopkOracle
      .replace("/tmp/graft_ann_index/ivf/*/centroids/*.parquet",
        "/tmp/graft_ann_index/ivfpqstream32/*/centroids/*.parquet")
      .replace("/tmp/graft_ann_index/pq32/*/codebooks/*.parquet",
        "/tmp/graft_ann_index/ivfpqstream32/*/codebooks/*.parquet")
      .replace("/tmp/graft_ann_index/pq32/*/codes/*.parquet",
        "/tmp/graft_ann_index/ivfpqstream32/*/codes/*/*/*.parquet"),

    // The approximate-ANN recall gates: DuckDB can't run the LSH/IVF paths,
    // but it CAN assert the contract — 10 queries measured, avg recall@5
    // over the 0.6 bar. If a code change degrades recall, the Spark side
    // emits recall_ok=false and the hash comparison fails the round.
    "ann_lsh_recall" ->
      "SELECT count(DISTINCT vec_id) AS n_queries, TRUE AS recall_ok FROM embeddings WHERE vec_id < 10",

    "ann_ivf_recall" ->
      "SELECT count(DISTINCT vec_id) AS n_queries, TRUE AS recall_ok FROM embeddings WHERE vec_id < 10",

    "ann_image_recall" ->
      "SELECT count(DISTINCT doc_id) AS n_queries, TRUE AS recall_ok FROM documents WHERE doc_id < 10",

    "ann_pq_recall" ->
      "SELECT count(DISTINCT vec_id) AS n_queries, TRUE AS recall_ok FROM embeddings WHERE vec_id < 10",

    "ann_ivfpq_recall" ->
      "SELECT count(DISTINCT vec_id) AS n_queries, TRUE AS recall_ok FROM embeddings WHERE vec_id < 10",

    // Replay oracle for the persisted-centroid SemDeDup pass: normalized
    // vectors, per-cell d2 ranking with the 2-probe overlap, intra-cell
    // exact cosine over a<b pairs, threshold, and the multi-cell pair
    // dedup via max — row-identical to semanticSearchPairs.
    "dedup_semantic" ->
      """WITH cent AS (
        |  SELECT cell, centroid
        |  FROM read_parquet('/tmp/graft_ann_index/ivf/*/centroids/*.parquet')
        |  WHERE n_corpus = (SELECT count(*) FROM embeddings)),
        |v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |nv AS (SELECT vec_id,
        |         CASE WHEN nrm > 0 THEN list_transform(e, x -> x / nrm) ELSE e END AS nvec
        |       FROM (SELECT vec_id, e,
        |               sqrt(list_inner_product(e, e)) AS nrm FROM v)),
        |d AS (SELECT vec_id, cell,
        |        list_inner_product(centroid, centroid)
        |          - 2.0 * list_inner_product(nvec, centroid) AS d2
        |      FROM nv, cent),
        |asg AS (SELECT vec_id, cell FROM
        |          (SELECT vec_id, cell,
        |             row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS cr
        |           FROM d)
        |        WHERE cr <= 2),
        |pairs AS (SELECT a.vec_id AS doc_a, b.vec_id AS doc_b,
        |            round(list_inner_product(na.nvec, nb.nvec), 4) AS sim
        |          FROM asg a
        |          JOIN asg b ON a.cell = b.cell AND a.vec_id < b.vec_id
        |          JOIN nv na ON a.vec_id = na.vec_id
        |          JOIN nv nb ON b.vec_id = nb.vec_id)
        |SELECT doc_a, doc_b, max(sim) AS sim
        |FROM pairs WHERE sim >= 0.45
        |GROUP BY doc_a, doc_b ORDER BY doc_a, doc_b""".stripMargin,

    // Semantic-dedup recall gate: DuckDB can't run the KMeans partition, but
    // it CAN recompute the exact pair universe and assert the boolean.
    "dedup_semantic_recall" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_exact_pairs, TRUE AS recall_ok
        |FROM (
        |  SELECT a.vec_id FROM embeddings a, embeddings b
        |  WHERE a.vec_id < b.vec_id
        |    AND round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |                                     CAST(b.embedding AS DOUBLE[])), 4) >= 0.45
        |)""".stripMargin,

    "text_unigram_lm" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS token
        |  FROM documents),
        |cnts AS (SELECT token, count(*) AS tf_corpus FROM toks GROUP BY 1),
        |tot AS (SELECT CAST(sum(tf_corpus) AS DOUBLE) AS total FROM cnts),
        |lp AS (
        |  SELECT t.doc_id, c.tf_corpus,
        |    CAST(round(ln(c.tf_corpus / (SELECT total FROM tot)), 6)
        |         AS DECIMAL(18,6)) AS lp
        |  FROM toks t JOIN cnts c USING (token))
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |  CAST(min(tf_corpus) AS BIGINT) AS min_tf,
        |  round(CAST(-sum(lp) AS DOUBLE) / count(*), 4) AS avg_nll
        |FROM lp GROUP BY 1 ORDER BY 1""".stripMargin,

    // The plain join is the oracle for the salted join — same rows by
    // construction, different partitioning.
    "j_salted_skew" ->
      """SELECT c_nationkey, count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "text_length_quantiles_approx" ->
      """SELECT source, round(quantile_cont(n_chars, 0.5), 4) AS p50,
        |  TRUE AS approx_ok, count(*) AS n_docs
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,

    // Add-one-smoothed bigram NLL; c(w1·) derived from the bigram counts,
    // V = corpus-wide distinct token count, decimal-exact per-doc sums.
    "text_bigram_lm" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(lower(trim(text)), ' ') AS t FROM documents),
        |e AS (
        |  SELECT doc_id, unnest(list_transform(generate_series(1, len(t) - 1),
        |    i -> t[i] || ' ' || t[i+1])) AS bg
        |  FROM toks),
        |bgc AS (SELECT bg, count(*) AS c2 FROM e GROUP BY 1),
        |ctx AS (SELECT string_split(bg, ' ')[1] AS w1, sum(c2) AS c1 FROM bgc GROUP BY 1),
        |v AS (SELECT count(DISTINCT token) AS v FROM (
        |        SELECT unnest(t) AS token FROM toks)),
        |lp AS (
        |  SELECT e.doc_id, b.c2,
        |    CAST(round(ln((b.c2 + 1) / CAST(x.c1 + v.v AS DOUBLE)), 6)
        |         AS DECIMAL(18,6)) AS lp
        |  FROM e
        |  JOIN bgc b USING (bg)
        |  JOIN ctx x ON string_split(e.bg, ' ')[1] = x.w1
        |  CROSS JOIN v)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |  CAST(min(c2) AS BIGINT) AS min_bigram_tf,
        |  round(CAST(-sum(lp) AS DOUBLE) / count(*), 4) AS avg_nll
        |FROM lp GROUP BY 1 ORDER BY 1""".stripMargin,

    "pack_chunks" ->
      """WITH base AS (
        |  SELECT doc_id, source,
        |    CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT *, coalesce(sum(n_tokens) OVER (PARTITION BY source
        |    ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |    0) AS cum_before
        |  FROM base)
        |SELECT doc_id, source, n_tokens,
        |  CAST(floor(cum_before / 2048) AS BIGINT) AS chunk_first,
        |  CAST(floor((cum_before + greatest(n_tokens, 1) - 1) / 2048) AS BIGINT)
        |    AS chunk_last,
        |  CAST(floor((cum_before + greatest(n_tokens, 1) - 1) / 2048)
        |       - floor(cum_before / 2048) + 1 AS BIGINT) AS n_chunks
        |FROM c ORDER BY doc_id""".stripMargin,

    "embed_quantize" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |s AS (SELECT vec_id, e,
        |        list_max(list_transform(e, x -> abs(x))) AS scale FROM v)
        |SELECT vec_id,
        |  CAST(to_json(CASE WHEN scale > 0
        |    THEN list_transform(e, x -> CAST(round(x / scale * 127) AS INT))
        |    ELSE list_transform(e, x -> 0) END) AS VARCHAR) AS q8,
        |  round(scale, 6) AS scale,
        |  CASE WHEN scale > 0
        |    THEN round(list_max(list_transform(e,
        |           x -> abs(x - CAST(round(x / scale * 127) AS INT) * scale / 127.0))), 6)
        |    ELSE 0.0 END AS max_abs_err
        |FROM s ORDER BY vec_id""".stripMargin,

    "ann_quantized_recall" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |s AS (SELECT vec_id, e,
        |        list_max(list_transform(e, x -> abs(x))) AS scale FROM v),
        |dq AS (SELECT vec_id,
        |        CASE WHEN scale > 0
        |          THEN list_transform(e,
        |                 x -> CAST(round(x / scale * 127) AS INT) * round(scale, 6) / 127.0)
        |          ELSE list_transform(e, x -> 0.0) END AS e
        |       FROM s),
        |bt AS (
        |  SELECT query_id, neighbor_id FROM (
        |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |      row_number() OVER (PARTITION BY q.vec_id
        |        ORDER BY round(list_cosine_similarity(q.e, c.e), 4) DESC, c.vec_id) AS rn
        |    FROM v q, v c WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id)
        |  WHERE rn <= 5),
        |qt AS (
        |  SELECT query_id, neighbor_id FROM (
        |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |      row_number() OVER (PARTITION BY q.vec_id
        |        ORDER BY round(list_cosine_similarity(q.e, c.e), 4) DESC, c.vec_id) AS rn
        |    FROM dq q, dq c WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id)
        |  WHERE rn <= 5),
        |rec AS (
        |  SELECT b.query_id,
        |    round(count(q.neighbor_id) / 5.0, 4) AS recall
        |  FROM bt b LEFT JOIN qt q USING (query_id, neighbor_id)
        |  GROUP BY 1)
        |SELECT CAST(count(*) AS BIGINT) AS n_queries,
        |  round(avg(recall), 4) AS avg_recall
        |FROM rec""".stripMargin,

    // Same two-baseline recall shape as ann_quantized_recall, with the
    // int8 dequantization swapped for a 16-dim prefix slice.
    "ann_truncated_recall" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |tr AS (SELECT vec_id, e[1:16] AS e FROM v),
        |bt AS (
        |  SELECT query_id, neighbor_id FROM (
        |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |      row_number() OVER (PARTITION BY q.vec_id
        |        ORDER BY round(list_cosine_similarity(q.e, c.e), 4) DESC, c.vec_id) AS rn
        |    FROM v q, v c WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id)
        |  WHERE rn <= 5),
        |qt AS (
        |  SELECT query_id, neighbor_id FROM (
        |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |      row_number() OVER (PARTITION BY q.vec_id
        |        ORDER BY round(list_cosine_similarity(q.e, c.e), 4) DESC, c.vec_id) AS rn
        |    FROM tr q, tr c WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id)
        |  WHERE rn <= 5),
        |rec AS (
        |  SELECT b.query_id,
        |    round(count(q.neighbor_id) / 5.0, 4) AS recall
        |  FROM bt b LEFT JOIN qt q USING (query_id, neighbor_id)
        |  GROUP BY 1)
        |SELECT CAST(count(*) AS BIGINT) AS n_queries,
        |  round(avg(recall), 4) AS avg_recall
        |FROM rec""".stripMargin,

    // Replay oracle for the persisted-index BM25 search: df/N/avgdl are
    // recomputed from the SAME postings/doclens parquet the engine
    // searched, every per-term score is the identical rounded-decimal
    // expression, and the ranking replays row-for-row. SHARED with
    // text_bm25_incremental (the doc-disjoint batch-union index): one
    // oracle, two implementations — green rows prove the inverted index
    // merges additively (batches never rebuild the corpus index).
    "text_bm25_topk" -> bm25TopkOracle,
    "text_bm25_incremental" -> bm25TopkOracle,
    // identical replay over the hive-partitioned layout: the tok_bucket
    // directory level adds one glob segment; DuckDB's hive-partition
    // detection surfaces tok_bucket as a column the query simply ignores
    "text_bm25_pruned" -> bm25TopkOracle
      .replace("/tmp/graft_ann_index/bm25/*/postings/*.parquet",
        "/tmp/graft_ann_index/bm25part/*/postings/*/*.parquet")
      .replace("/tmp/graft_ann_index/bm25/*/doclens/*.parquet",
        "/tmp/graft_ann_index/bm25part/*/doclens/*.parquet"),

    // replays from the STREAMED index's own tables. The ingest layout
    // carries no n_corpus column (a stream doesn't know its final corpus
    // size), so the oracle disambiguates the sibling index dirs by the
    // ensureIndex dir name instead: filename must contain /n<count>_x
    // (contains(), not LIKE — `_` is a LIKE wildcard)
    "text_bm25_streamed" -> bm25TopkOracle
      .replace(
        "read_parquet('/tmp/graft_ann_index/bm25/*/postings/*.parquet')\n  WHERE n_corpus = (SELECT count(*) FROM documents)",
        "read_parquet('/tmp/graft_ann_index/bm25stream/*/postings/*/*/*.parquet', filename=true)\n  WHERE contains(filename, '/n' || (SELECT count(*) FROM documents) || '_x')")
      .replace(
        "read_parquet('/tmp/graft_ann_index/bm25/*/doclens/*.parquet')\n  WHERE n_corpus = (SELECT count(*) FROM documents)",
        "read_parquet('/tmp/graft_ann_index/bm25stream/*/doclens/*/*.parquet', filename=true)\n  WHERE contains(filename, '/n' || (SELECT count(*) FROM documents) || '_x')"),

    // Hybrid fusion replay: BM25 top-20 from the persisted index + cosine
    // top-20 over the aligned embeddings, fused as rounded-decimal
    // 1/(60+rank) sums — rank-space fusion, replayed end-to-end.
    "hybrid_rrf_topk" ->
      """WITH posts AS (
        |  SELECT token, doc_id, tf
        |  FROM read_parquet('/tmp/graft_ann_index/bm25part/*/postings/*/*.parquet')
        |  WHERE n_corpus = (SELECT count(*) FROM documents)),
        |lens AS (
        |  SELECT doc_id, dl
        |  FROM read_parquet('/tmp/graft_ann_index/bm25part/*/doclens/*.parquet')
        |  WHERE n_corpus = (SELECT count(*) FROM documents)),
        |stats AS (SELECT count(*) AS n_docs,
        |            CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM lens),
        |dfs AS (SELECT token, count(*) AS df FROM posts GROUP BY 1),
        |q AS (SELECT doc_id AS query_id,
        |        list_distinct(list_slice(string_split(lower(trim(text)), ' '), 1, 8)) AS qt
        |      FROM documents WHERE doc_id % 100 = 7),
        |qterms AS (SELECT query_id, unnest(qt) AS token FROM q),
        |scored AS (
        |  SELECT qt.query_id, p.doc_id,
        |    sum(CAST(round(
        |      ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
        |      * (p.tf * 2.5 / (p.tf + 1.5 * (0.25 + 0.75 * l.dl / s.avgdl))),
        |      6) AS DECIMAL(18,6))) AS sc
        |  FROM posts p
        |  JOIN qterms qt USING (token)
        |  JOIN dfs d USING (token)
        |  JOIN lens l ON p.doc_id = l.doc_id
        |  CROSS JOIN stats s
        |  GROUP BY 1, 2),
        |bm AS (SELECT query_id, rn AS rank, doc_id
        |       FROM (SELECT *, row_number() OVER (PARTITION BY query_id
        |               ORDER BY sc DESC, doc_id) AS rn FROM scored)
        |       WHERE rn <= 20),
        |vq AS (SELECT * FROM embeddings WHERE vec_id % 100 = 7),
        |vscored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS doc_id,
        |    round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
        |          CAST(c.embedding AS DOUBLE[])), 4) AS sim
        |  FROM vq q, embeddings c WHERE c.vec_id <> q.vec_id),
        |vec AS (SELECT query_id, rn AS rank, doc_id
        |        FROM (SELECT *, row_number() OVER (PARTITION BY query_id
        |                ORDER BY sim DESC, doc_id) AS rn FROM vscored)
        |        WHERE rn <= 20),
        |contrib AS (
        |  SELECT query_id, doc_id,
        |    CAST(round(1.0 / (60 + rank), 6) AS DECIMAL(18,6)) AS rc FROM bm
        |  UNION ALL
        |  SELECT query_id, doc_id,
        |    CAST(round(1.0 / (60 + rank), 6) AS DECIMAL(18,6)) AS rc FROM vec),
        |fused AS (
        |  SELECT query_id, doc_id, sum(rc) AS fscore, count(*) AS n_lists
        |  FROM contrib GROUP BY 1, 2)
        |SELECT query_id, rn AS rank, doc_id, CAST(fscore AS DOUBLE) AS rrf,
        |  n_lists
        |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
        |        ORDER BY fscore DESC, doc_id) AS rn FROM fused)
        |WHERE rn <= 10 ORDER BY query_id, rank""".stripMargin,

    "etl_upsert" -> etlUpsertOracle,

    // as-of batch 0 = the state before the update batch: the base table
    // verbatim — history recovered from the untouched early log dirs
    "etl_upsert_asof" ->
      """SELECT CAST(c_custkey AS BIGINT) AS cust_id, c_acctbal, c_mktsegment
        |FROM customer ORDER BY cust_id""".stripMargin,

    // the version-0 → version-1 delta = exactly the update batch
    "etl_upsert_changes" ->
      """SELECT CAST(c_custkey AS BIGINT) AS cust_id,
        |  c_acctbal + 1000.0 AS c_acctbal, 'UPSERTED' AS c_mktsegment
        |FROM customer WHERE c_custkey % 10 = 3
        |UNION ALL
        |SELECT CAST(c_custkey + 1000000 AS BIGINT), c_acctbal, 'INSERTED'
        |FROM customer WHERE c_custkey % 100 = 7
        |ORDER BY cust_id""".stripMargin,

    // the Delta-CDF row convention: updated keys emit BOTH images,
    // inserted keys one insert row; the identical-re-upsert case is
    // covered by the spec (no such rows in this fixture)
    "etl_upsert_cdc" ->
      """WITH upd AS (
        |  SELECT CAST(c_custkey AS BIGINT) AS cust_id, c_acctbal, c_mktsegment
        |  FROM customer WHERE c_custkey % 10 = 3)
        |SELECT cust_id, c_acctbal + 1000.0 AS c_acctbal,
        |  'UPSERTED' AS c_mktsegment, 'update_postimage' AS change_type
        |FROM upd
        |UNION ALL
        |SELECT cust_id, c_acctbal, c_mktsegment, 'update_preimage' FROM upd
        |UNION ALL
        |SELECT CAST(c_custkey + 1000000 AS BIGINT), c_acctbal, 'INSERTED',
        |  'insert'
        |FROM customer WHERE c_custkey % 100 = 7
        |ORDER BY cust_id, change_type""".stripMargin,

    // the from-scratch version-1 aggregate — a green row proves the
    // retraction-maintained aggregate equals the full recompute
    "etl_upsert_incr_agg" ->
      """WITH merged AS (
        |  SELECT CASE WHEN c_custkey % 10 = 3 THEN 'UPSERTED'
        |              ELSE c_mktsegment END AS c_mktsegment,
        |    CASE WHEN c_custkey % 10 = 3 THEN c_acctbal + 1000.0
        |         ELSE c_acctbal END AS bal
        |  FROM customer
        |  UNION ALL
        |  SELECT 'INSERTED', c_acctbal FROM customer WHERE c_custkey % 100 = 7)
        |SELECT c_mktsegment,
        |  CAST(sum(CAST(bal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal,
        |  count(*) AS n_customers
        |FROM merged GROUP BY 1 ORDER BY 1""".stripMargin,

    // the SAME oracle: latest-batch-per-key over the changelog must equal
    // the copy-on-write merge
    "etl_upsert_streamed" -> etlUpsertOracle,

    "etl_scd2" ->
      """WITH c AS (
        |  SELECT o_custkey AS cust_id, o_orderdate AS ts, o_orderkey AS tie,
        |    o_orderpriority AS priority
        |  FROM orders),
        |d AS (SELECT *, lag(priority) OVER (PARTITION BY cust_id
        |        ORDER BY ts, tie) AS prev FROM c),
        |dd AS (SELECT cust_id, ts, tie, priority FROM d
        |       -- IS DISTINCT FROM matches Spark's struct comparison, where
        |       -- null attribute fields compare as ordinary values
        |       WHERE prev IS NULL OR prev IS DISTINCT FROM priority),
        |v AS (SELECT cust_id, priority, ts,
        |        lead(ts) OVER (PARTITION BY cust_id ORDER BY ts, tie) AS vt
        |      FROM dd)
        |SELECT CAST(cust_id AS BIGINT) AS cust_id, priority,
        |  strftime(ts, '%Y-%m-%d') AS valid_from,
        |  strftime(vt, '%Y-%m-%d') AS valid_to,
        |  vt IS NULL AS is_current
        |-- NULLS FIRST matches Spark's ascending default on the nullable
        |-- valid_to tiebreaker
        |FROM v ORDER BY cust_id, valid_from, priority, valid_to NULLS FIRST""".stripMargin,

    "events_ohlc" ->
      """WITH e AS (
        |  SELECT event_type, date_trunc('hour', ts) AS h, ts, event_id, value,
        |    row_number() OVER (PARTITION BY event_type, date_trunc('hour', ts)
        |      ORDER BY ts, event_id) AS rn_a,
        |    row_number() OVER (PARTITION BY event_type, date_trunc('hour', ts)
        |      ORDER BY ts DESC, event_id DESC) AS rn_d
        |  FROM events)
        |SELECT event_type, strftime(h, '%Y-%m-%d %H:%M:%S') AS hour,
        |  max(CASE WHEN rn_a = 1 THEN value END) AS open,
        |  max(value) AS high, min(value) AS low,
        |  max(CASE WHEN rn_d = 1 THEN value END) AS close,
        |  count(*) AS n
        |FROM e GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "j_star_revenue" ->
      """SELECT n_name,
        |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4)))
        |       AS DOUBLE) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE o_orderdate >= DATE '1994-01-01' AND o_orderdate < DATE '1997-01-01'
        |  AND r_name <> 'EUROPE'
        |GROUP BY n_name ORDER BY n_name""".stripMargin,

    // DuckDB's ROLLUP + GROUPING() replays the Expand-based one-pass
    // multi-granularity aggregation level-for-level.
    "events_rollup" ->
      """SELECT coalesce(event_type, 'ALL') AS event_type,
        |  coalesce(strftime(date_trunc('day', ts), '%Y-%m-%d'), 'ALL') AS day,
        |  count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
        |  CAST(GROUPING(event_type) * 2 + GROUPING(date_trunc('day', ts)) AS BIGINT) AS gid
        |FROM events
        |GROUP BY ROLLUP (event_type, date_trunc('day', ts))
        |ORDER BY gid, event_type, day""".stripMargin,

    "a_pivot_langs" ->
      """SELECT source,
        |  CAST(sum(CASE WHEN lang = 'de' THEN 1 ELSE 0 END) AS BIGINT) AS de,
        |  CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS en,
        |  CAST(sum(CASE WHEN lang = 'es' THEN 1 ELSE 0 END) AS BIGINT) AS es,
        |  CAST(sum(CASE WHEN lang = 'fr' THEN 1 ELSE 0 END) AS BIGINT) AS fr,
        |  CAST(sum(CASE WHEN lang = 'zh' THEN 1 ELSE 0 END) AS BIGINT) AS zh
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,

    // Positional-shingle replay of the span cuts: hot grams, the
    // gaps-and-islands merge and the length gate are all integer-exact.
    "text_span_cuts" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(lower(trim(text)), ' ') AS t
        |  FROM documents),
        |sh AS (SELECT doc_id,
        |         unnest(list_transform(generate_series(1, len(t) - 3),
        |           i -> {'i': i, 'g': array_to_string(t[i:i+3], ' ')})) AS s
        |       FROM toks WHERE len(t) >= 4),
        |f AS (SELECT doc_id, s.i AS i, s.g AS g FROM sh),
        |hot AS (SELECT g FROM f GROUP BY g HAVING count(*) >= 2),
        |dup AS (SELECT doc_id, i FROM f JOIN hot USING (g)),
        |isl AS (SELECT doc_id, i,
        |          i - row_number() OVER (PARTITION BY doc_id ORDER BY i) AS grp
        |        FROM dup),
        |runs AS (SELECT doc_id, CAST(min(i) AS BIGINT) AS start_pos,
        |           CAST(max(i) + 3 AS BIGINT) AS end_pos
        |         FROM isl GROUP BY doc_id, grp)
        |SELECT doc_id, start_pos, end_pos,
        |  end_pos - start_pos + 1 AS span_tokens
        |FROM runs WHERE end_pos - start_pos + 1 >= 8
        |ORDER BY doc_id, start_pos""".stripMargin,

    // Span rewrite replay: the cuts CTE chain from text_span_cuts, then a
    // positional token filter via correlated NOT EXISTS and an ordered
    // re-join of the survivors.
    "text_span_rewrite" ->
      """WITH toks0 AS (
        |  SELECT doc_id, string_split(lower(trim(text)), ' ') AS t
        |  FROM documents),
        |sh AS (SELECT doc_id,
        |         unnest(list_transform(generate_series(1, len(t) - 3),
        |           i -> {'i': i, 'g': array_to_string(t[i:i+3], ' ')})) AS s
        |       FROM toks0 WHERE len(t) >= 4),
        |f AS (SELECT doc_id, s.i AS i, s.g AS g FROM sh),
        |hot AS (SELECT g FROM f GROUP BY g HAVING count(*) >= 2),
        |dup AS (SELECT doc_id, i FROM f JOIN hot USING (g)),
        |isl AS (SELECT doc_id, i,
        |          i - row_number() OVER (PARTITION BY doc_id ORDER BY i) AS grp
        |        FROM dup),
        |cuts AS (SELECT doc_id, min(i) AS start_pos, max(i) + 3 AS end_pos
        |         FROM isl GROUP BY doc_id, grp
        |         HAVING max(i) + 3 - min(i) + 1 >= 8),
        |tp AS (SELECT doc_id, s.i AS i, s.tok AS tok FROM (
        |         SELECT doc_id,
        |           unnest(list_transform(generate_series(1, len(t)),
        |             i -> {'i': i, 'tok': t[i]})) AS s
        |         FROM toks0)),
        |kept AS (
        |  SELECT tp.doc_id, tp.i, tp.tok FROM tp
        |  WHERE NOT EXISTS (SELECT 1 FROM cuts c
        |    WHERE c.doc_id = tp.doc_id
        |      AND tp.i BETWEEN c.start_pos AND c.end_pos))
        |SELECT t0.doc_id,
        |  coalesce(k.clean_text, '') AS clean_text,
        |  CAST(len(t0.t) AS BIGINT) AS n_tokens_before,
        |  coalesce(k.n_after, 0) AS n_tokens_after
        |FROM toks0 t0 LEFT JOIN (
        |  SELECT doc_id, array_to_string(list(tok ORDER BY i), ' ') AS clean_text,
        |    CAST(count(*) AS BIGINT) AS n_after
        |  FROM kept GROUP BY doc_id) k USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    // The range join's oracle is the PLAIN containment join — DuckDB never
    // sees the bins, so a green row proves the binning neither dropped nor
    // duplicated a match.
    "events_range_join" ->
      """WITH iv AS (
        |  SELECT et.event_type, w.week,
        |    epoch_us(TIMESTAMP '2024-01-01') + w.week * 604800000000 AS ws
        |  FROM (SELECT DISTINCT event_type FROM events) et,
        |       (SELECT unnest(generate_series(0, 4)) AS week) w),
        |e AS (SELECT event_type, epoch_us(ts) AS tsu, value FROM events)
        |SELECT iv.event_type, iv.week, count(*) AS n,
        |  CAST(sum(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM e JOIN iv ON e.event_type = iv.event_type
        |  AND e.tsu >= iv.ws AND e.tsu <= iv.ws + 259200000000
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // Blocked-fuzzy replay: same block key, same shorter-over-longer
    // window sweep as partialRatioOracle (constant series + bound filter —
    // generate_series can't be lateral), same round/max/threshold chain.
    "er_fuzzy_pairs" ->
      """WITH p AS (
        |  SELECT doc_id AS id, substr(text, 1, 48) AS name,
        |    array_to_string(string_split(substr(text, 1, 48), ' ')[1:2], ' ') AS block
        |  FROM documents),
        |cand AS (
        |  SELECT a.id AS id_a, b.id AS id_b, a.name AS na, b.name AS nb
        |  FROM p a JOIN p b ON a.block = b.block AND a.id < b.id),
        |norm AS (
        |  SELECT id_a, id_b,
        |    CASE WHEN len(na) <= len(nb) THEN na ELSE nb END AS s,
        |    CASE WHEN len(na) <= len(nb) THEN nb ELSE na END AS l
        |  FROM cand),
        |win AS (
        |  SELECT id_a, id_b,
        |    round(100 * (1.0 - levenshtein(s, substr(l, i, len(s))) * 1.0 / len(s))) AS r
        |  FROM norm, generate_series(1, 64) AS t(i)
        |  WHERE i <= len(l) - len(s) + 1),
        |sc AS (SELECT id_a, id_b, CAST(max(r) AS INTEGER) AS score
        |       FROM win GROUP BY 1, 2)
        |SELECT id_a, id_b, score FROM sc
        |WHERE score >= 80 ORDER BY id_a, id_b""".stripMargin,

    // MMR greedy-selection replay: per step the recursive CTE appends the
    // argmax of 0.75·rel − 0.25·max-sim-to-picked (ties to the smallest
    // doc_id — the engine's strict-> ascending scan); the final select
    // recomputes each step's score from its picked prefix.
    "ann_mmr_topk" ->
      """WITH RECURSIVE
        |v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |sc AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS doc_id,
        |    round(list_cosine_similarity(q.e, c.e), 4) AS rel, c.e AS e
        |  FROM v q, v c WHERE q.vec_id % 100 = 7 AND c.vec_id <> q.vec_id),
        |cand AS (
        |  SELECT query_id, doc_id, rel, e FROM (
        |    SELECT *, row_number() OVER (PARTITION BY query_id
        |      ORDER BY rel DESC, doc_id) AS rn FROM sc)
        |  WHERE rn <= 20),
        |sel AS (
        |  SELECT query_id, 0 AS step, CAST([] AS BIGINT[]) AS picked
        |  FROM (SELECT DISTINCT query_id FROM cand)
        |  UNION ALL
        |  SELECT s.query_id, s.step + 1,
        |    list_append(s.picked, (
        |      SELECT c.doc_id FROM cand c
        |      WHERE c.query_id = s.query_id
        |        AND NOT list_contains(s.picked, c.doc_id)
        |      ORDER BY 0.75*c.rel - 0.25*coalesce((
        |          SELECT max(round(list_cosine_similarity(c.e, p.e), 4))
        |          FROM cand p WHERE p.query_id = s.query_id
        |            AND list_contains(s.picked, p.doc_id)), 0.0) DESC,
        |        c.doc_id
        |      LIMIT 1))
        |  FROM sel s WHERE s.step < least(10,
        |    (SELECT count(*) FROM cand c WHERE c.query_id = s.query_id))),
        |fin AS (
        |  SELECT query_id, step, picked[step] AS doc_id,
        |    list_slice(picked, 1, step - 1) AS prev
        |  FROM sel WHERE step > 0)
        |SELECT f.query_id, CAST(f.step AS BIGINT) AS rank, f.doc_id,
        |  round(0.75*c.rel - 0.25*coalesce((
        |      SELECT max(round(list_cosine_similarity(c.e, p.e), 4))
        |      FROM cand p WHERE p.query_id = f.query_id
        |        AND list_contains(f.prev, p.doc_id)), 0.0), 6) AS mmr
        |FROM fin f JOIN cand c
        |  ON c.query_id = f.query_id AND c.doc_id = f.doc_id
        |ORDER BY f.query_id, rank""".stripMargin,

    // The unigram-LM CTE is text_unigram_lm's replay; the tercile cuts use
    // the same shortest-repr double literals the Spark plan carries.
    "curation_ccnet_buckets" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS token
        |  FROM documents),
        |cnts AS (SELECT token, count(*) AS tf_corpus FROM toks GROUP BY 1),
        |tot AS (SELECT CAST(sum(tf_corpus) AS DOUBLE) AS total FROM cnts),
        |lp AS (
        |  SELECT t.doc_id,
        |    CAST(round(ln(c.tf_corpus / (SELECT total FROM tot)), 6)
        |         AS DECIMAL(18,6)) AS lp
        |  FROM toks t JOIN cnts c USING (token)),
        |scored AS (
        |  SELECT doc_id,
        |    round(CAST(-sum(lp) AS DOUBLE) / count(*), 4) AS avg_nll
        |  FROM lp GROUP BY 1),
        |cuts AS (SELECT quantile_cont(avg_nll, 0.3333333333333333) AS c1,
        |                quantile_cont(avg_nll, 0.6666666666666666) AS c2
        |         FROM scored)
        |SELECT doc_id, avg_nll,
        |  CASE WHEN avg_nll <= (SELECT c1 FROM cuts) THEN 'head'
        |       WHEN avg_nll <= (SELECT c2 FROM cuts) THEN 'middle'
        |       ELSE 'tail' END AS bucket
        |FROM scored ORDER BY doc_id""".stripMargin,

    // Full DSIR replay: portable md5-prefix feature hashing, add-one
    // smoothed per-bucket log-likelihood ratios rounded to decimal,
    // per-doc sums, and the 0.8-percentile selection threshold.
    "curation_dsir" ->
      """WITH toks AS (
        |  SELECT doc_id, lang, string_split(lower(trim(text)), ' ') AS t
        |  FROM documents),
        |f AS (
        |  SELECT doc_id, lang,
        |    CAST(concat('0x', substr(md5(bg), 1, 15)) AS BIGINT) % 1024 AS b
        |  FROM (SELECT doc_id, lang,
        |          unnest(list_transform(generate_series(1, len(t) - 1),
        |            i -> t[i] || ' ' || t[i+1])) AS bg
        |        FROM toks WHERE len(t) >= 2)),
        |cs AS (SELECT b, count(*) AS cs FROM f GROUP BY 1),
        |ct AS (SELECT b, count(*) AS ct FROM f WHERE lang = 'en' GROUP BY 1),
        |tots AS (SELECT count(*) AS ts,
        |           sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS tt FROM f),
        |lw AS (
        |  SELECT cs.b,
        |    CAST(round(ln(
        |      ((coalesce(ct.ct, 0) + 1.0) / (tots.tt + 1024))
        |        / ((cs.cs + 1.0) / (tots.ts + 1024))), 6) AS DECIMAL(18,6)) AS lw
        |  FROM cs LEFT JOIN ct ON cs.b = ct.b CROSS JOIN tots),
        |dw AS (
        |  SELECT f.doc_id, count(*) AS n_feats,
        |    CAST(sum(lw.lw) AS DOUBLE) AS log_w
        |  FROM f JOIN lw ON f.b = lw.b GROUP BY 1),
        |cut AS (SELECT quantile_cont(log_w, 0.8) AS c FROM dw)
        |SELECT doc_id, n_feats, log_w,
        |  log_w >= (SELECT c FROM cut) AS selected
        |FROM dw ORDER BY doc_id""".stripMargin,

    // Same persisted-centroid assignment replay as ann_ivf_topk (cr = 1),
    // then the per-cell hash-order rank and cap.
    "curation_cluster_balance" ->
      """WITH cent AS (
        |  SELECT cell, centroid
        |  FROM read_parquet('/tmp/graft_ann_index/ivf/*/centroids/*.parquet')
        |  WHERE n_corpus = (SELECT count(*) FROM embeddings)),
        |v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |d AS (SELECT vec_id, cell,
        |        list_inner_product(centroid, centroid)
        |          - 2.0 * list_inner_product(e, centroid) AS d2
        |      FROM v, cent),
        |a AS (SELECT vec_id, cell FROM (
        |        SELECT vec_id, cell,
        |          row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS cr
        |        FROM d)
        |      WHERE cr = 1),
        |r AS (SELECT vec_id, cell,
        |        row_number() OVER (PARTITION BY cell
        |          ORDER BY CAST(concat('0x', substr(md5(vec_id::VARCHAR), 1, 15)) AS BIGINT)
        |                     / 1152921504606846976.0, vec_id) AS cell_rank
        |      FROM a)
        |SELECT vec_id, cell, cell_rank, cell_rank <= 40 AS kept
        |FROM r ORDER BY vec_id""".stripMargin,

    "text_length_quantiles" ->
      """SELECT source,
        |  round(quantile_cont(n_chars, 0.5), 4) AS p50,
        |  round(quantile_cont(n_chars, 0.9), 4) AS p90,
        |  round(quantile_cont(n_chars, 0.99), 4) AS p99,
        |  count(*) AS n_docs
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,

    "curation_mix" ->
      """WITH base AS (
        |  SELECT doc_id, source,
        |    CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS n_tokens,
        |    CAST(CAST(substr(source, 4) AS INT) % 4 + 1 AS DOUBLE) AS w
        |  FROM documents),
        |tot AS (
        |  SELECT source, sum(n_tokens) AS src_tokens, max(w) AS w
        |  FROM base GROUP BY 1),
        |sw AS (SELECT sum(w) AS sum_w FROM tot),
        |frac AS (
        |  SELECT source, least(1.0, w / sum_w * 20000 / src_tokens) AS keep_frac
        |  FROM tot, sw)
        |SELECT b.doc_id, b.source, b.n_tokens, round(f.keep_frac, 6) AS keep_frac
        |FROM base b JOIN frac f USING (source)
        |WHERE CAST(concat('0x', substr(md5(b.doc_id::VARCHAR), 1, 15)) AS BIGINT)
        |      / 1152921504606846976.0 < f.keep_frac
        |ORDER BY doc_id""".stripMargin,

    "curation_upsample" ->
      """SELECT doc_id, source, unnest(generate_series(1,
        |    CAST(substr(source, 4) AS INT) % 3 + 1)) AS epoch
        |FROM documents ORDER BY doc_id, epoch""".stripMargin,

    // Same derived weights: floor(sqrt(src_tokens)) summed as integers,
    // identical left-to-right division chain.
    "curation_mix_temp" ->
      """WITH base AS (
        |  SELECT doc_id, source,
        |    CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |tot AS (
        |  SELECT source, sum(n_tokens) AS src_tokens,
        |    CAST(floor(sqrt(CAST(sum(n_tokens) AS DOUBLE))) AS BIGINT) AS w
        |  FROM base GROUP BY 1),
        |sw AS (SELECT sum(w) AS sum_w FROM tot),
        |frac AS (
        |  SELECT source,
        |    least(1.0, CAST(w AS DOUBLE) / sum_w * 10000 / src_tokens) AS keep_frac
        |  FROM tot, sw)
        |SELECT b.doc_id, b.source, b.n_tokens, round(f.keep_frac, 6) AS keep_frac
        |FROM base b JOIN frac f USING (source)
        |WHERE CAST(concat('0x', substr(md5(b.doc_id::VARCHAR), 1, 15)) AS BIGINT)
        |      / 1152921504606846976.0 < f.keep_frac
        |ORDER BY doc_id""".stripMargin,

    "text_keywords" -> keywordsOracle,
    "text_keywords_topk" -> keywordsOracle,

    "approx_distinct_users" ->
      """SELECT event_type, count(DISTINCT user_id) AS exact_users, TRUE AS approx_ok
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    // Same exact column + bound flag: the merged-sketch estimate must sit
    // within 5% of the full-recompute distinct count.
    "approx_distinct_incremental" ->
      """SELECT event_type, count(DISTINCT user_id) AS exact_users, TRUE AS approx_ok
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    // partial_ratio is windowed Levenshtein, which DuckDB can replicate
    // directly. The harness corpora guarantee len(text) >= 44, so the
    // 40-char prefix is always the longer side and the 23-char needle
    // yields exactly 18 windows; round() never sees a .5 tie because
    // 100*(23-d)/23 has no half-integer values.
    "fuzzy_partial_ratio" -> partialRatioOracle,
    // Shared with the DataFrame form — green = SQL path ≡ DataFrame path.
    "fuzzy_partial_ratio_sql" -> partialRatioOracle,

    // Full simhash pipeline replicated on the portable md5-derived 60-bit
    // token hash: same tokenize normalization, 60 bit-vote sums, signature
    // reassembly, top-12-bit bucket. Generated programmatically — the 60
    // per-bit sums are mechanical.
    "dedup_simhash" -> {
      val votes = (0 until 60)
        .map(i => s"sum(CASE WHEN (h >> $i) & 1 = 1 THEN 1 ELSE -1 END) AS v$i")
        .mkString(", ")
      val bits = (0 until 60)
        .map(i => s"(CASE WHEN v$i > 0 THEN (CAST(1 AS BIGINT) << $i) ELSE CAST(0 AS BIGINT) END)")
        .mkString(" | ")
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(list_filter(
         |    regexp_split_to_array(regexp_replace(lower(text), '[^a-z- ]', ' ', 'g'), ' +'),
         |    t -> len(t) > 1)) AS tok
         |  FROM documents),
         |hashed AS (
         |  SELECT doc_id, CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT) AS h FROM toks),
         |votes AS (SELECT doc_id, $votes FROM hashed GROUP BY doc_id),
         |sims AS (SELECT doc_id, $bits AS simhash FROM votes)
         |SELECT d.doc_id, CAST(coalesce(s.simhash, 0) AS BIGINT) AS simhash,
         |  CAST(coalesce(s.simhash, 0) >> 48 AS BIGINT) AS bucket
         |FROM documents d LEFT JOIN sims s ON d.doc_id = s.doc_id
         |ORDER BY d.doc_id""".stripMargin
    },

    // Brute-force ALL pairs at hamming <= 3 from the same portable
    // signatures — the pigeonhole guarantee means the banded Spark path
    // must produce exactly this set (equality, not recall).
    "dedup_simhash_pairs" -> {
      val votes = (0 until 60)
        .map(i => s"sum(CASE WHEN (h >> $i) & 1 = 1 THEN 1 ELSE -1 END) AS v$i")
        .mkString(", ")
      val bits = (0 until 60)
        .map(i => s"(CASE WHEN v$i > 0 THEN (CAST(1 AS BIGINT) << $i) ELSE CAST(0 AS BIGINT) END)")
        .mkString(" | ")
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(list_filter(
         |    regexp_split_to_array(regexp_replace(lower(text), '[^a-z- ]', ' ', 'g'), ' +'),
         |    t -> len(t) > 1)) AS tok
         |  FROM documents),
         |hashed AS (
         |  SELECT doc_id, CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT) AS h FROM toks),
         |votes AS (SELECT doc_id, $votes FROM hashed GROUP BY doc_id),
         |sims AS (SELECT doc_id, $bits AS simhash FROM votes),
         |full_sigs AS (
         |  SELECT d.doc_id, CAST(coalesce(s.simhash, 0) AS BIGINT) AS simhash
         |  FROM documents d LEFT JOIN sims s ON d.doc_id = s.doc_id)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
         |FROM full_sigs a JOIN full_sigs b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
         |ORDER BY doc_a, doc_b""".stripMargin
    },

    // Same shingle universe as the Jaccard oracles; only the denominator
    // changes (min set size instead of union).
    "dedup_containment" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split(regexp_replace(lower(text), '[^a-z\- ]', ' ', 'g'), ' '),
        |                x -> len(x) > 1) AS toks
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(generate_series(1, len(toks) - 2),
        |                  i -> array_to_string(list_slice(toks, i, i + 2), ' '))) AS shingles
        |  FROM toks WHERE len(toks) >= 3),
        |ex AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
        |sizes AS (SELECT doc_id, len(shingles) AS n_sh FROM sh),
        |inter AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
        |  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1,2)
        |SELECT doc_a, doc_b,
        |  round(n_inter * 1.0 / least(sa.n_sh, sb.n_sh), 6) AS containment
        |FROM inter
        |JOIN sizes sa ON sa.doc_id = doc_a
        |JOIN sizes sb ON sb.doc_id = doc_b
        |WHERE n_inter * 1.0 / least(sa.n_sh, sb.n_sh) >= 0.9
        |ORDER BY doc_a, doc_b""".stripMargin,

    // Same dirty-text synthesis, same three redaction regexes (fixed-shape
    // patterns — no greedy-optional suffixes, which differ across regex
    // engines), same order (emails first).
    "text_pii_scrub" ->
      """SELECT doc_id,
        |  regexp_replace(
        |    regexp_replace(
        |      regexp_replace(
        |        concat('contact u', doc_id, '@mail.example.org or +1-555-01',
        |               lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0'),
        |               ' ip 10.0.0.', CAST(doc_id % 256 AS VARCHAR), ' :: ', text),
        |        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |      '\+?\d{1,3}[-. ]\d{3}[-. ]\d{4}', '<PHONE>', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS clean
        |FROM documents ORDER BY doc_id""".stripMargin,

    // Consistent-surrogate replay: the oracle rebuilds each surrogate
    // FROM THE ENTITY VALUE ALONE (md5 prefix of the planted address /
    // ip) — it can only match if Spark mapped identical entities to
    // identical tokens everywhere.
    "text_pii_surrogates" ->
      """SELECT doc_id,
        |  'contact <EMAIL_' ||
        |    substr(md5('u' || (doc_id % 10) || '@mail.example.org'), 1, 8) ||
        |  '> from <IP_' || substr(md5('10.0.0.' || (doc_id % 5)), 1, 8) ||
        |  '> :: ' || text AS clean
        |FROM documents ORDER BY doc_id""".stripMargin,

    "text_repetition" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(
        |    regexp_split_to_array(regexp_replace(lower(text), '[^a-z- ]', ' ', 'g'), ' +'),
        |    t -> len(t) > 1) AS tk
        |  FROM documents),
        |bg AS (
        |  SELECT doc_id, CASE WHEN len(tk) >= 2
        |    THEN list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1])
        |    ELSE CAST([] AS VARCHAR[]) END AS bigrams
        |  FROM toks)
        |SELECT doc_id,
        |  CASE WHEN len(bigrams) > 0
        |    THEN round(1.0 - len(list_distinct(bigrams))*1.0/len(bigrams), 6)
        |    ELSE 0.0 END AS rep_score
        |FROM bg ORDER BY doc_id""".stripMargin,

    // Same word-3-gram shingles (slice semantics: DuckDB list[a:b] is
    // 1-based inclusive; range(a,b) excludes b), distinct per doc, so the
    // join count per (doc, bench) pair is the intersection size.
    // normalized cross cosine vs the eval split, thresholded — exact
    "dedup_contamination_embedding" ->
      """WITH v AS (
        |  SELECT vec_id,
        |    list_transform(CAST(embedding AS DOUBLE[]),
        |      x -> x / sqrt(list_inner_product(CAST(embedding AS DOUBLE[]),
        |                                       CAST(embedding AS DOUBLE[])))) AS e
        |  FROM embeddings),
        |c AS (SELECT * FROM v WHERE vec_id % 50 <> 0),
        |ev AS (SELECT * FROM v WHERE vec_id % 50 = 0),
        |s AS (
        |  SELECT c.vec_id AS doc_id, ev.vec_id AS eval_id,
        |    round(list_inner_product(c.e, ev.e), 4) AS sim
        |  FROM c, ev)
        |SELECT doc_id, eval_id, sim FROM s
        |WHERE sim >= 0.35 ORDER BY doc_id, eval_id""".stripMargin,

    "dedup_contamination" ->
      """WITH tk AS (
        |  SELECT doc_id, list_filter(
        |    regexp_split_to_array(regexp_replace(lower(text), '[^a-z- ]', ' ', 'g'), ' +'),
        |    t -> len(t) > 1) AS toks
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, list_distinct(CASE WHEN len(toks) >= 3
        |    THEN list_transform(range(1, len(toks) - 1), i -> array_to_string(toks[i:i+2], ' '))
        |    ELSE CAST([] AS VARCHAR[]) END) AS shingles
        |  FROM tk),
        |ce AS (SELECT doc_id, unnest(shingles) AS s FROM sh WHERE doc_id % 50 <> 0),
        |be AS (SELECT doc_id AS bench_id, unnest(shingles) AS s FROM sh WHERE doc_id % 50 = 0),
        |ov AS (
        |  SELECT doc_id, bench_id, count(*) AS n_shared
        |  FROM ce JOIN be USING (s) GROUP BY 1, 2 HAVING count(*) >= 3),
        |agg AS (
        |  SELECT doc_id, max(n_shared) AS max_shared, count(DISTINCT bench_id) AS n_bench_hits
        |  FROM ov GROUP BY 1)
        |SELECT d.doc_id,
        |  CAST(coalesce(max_shared, 0) AS BIGINT) AS max_shared,
        |  CAST(coalesce(n_bench_hits, 0) AS BIGINT) AS n_bench_hits,
        |  coalesce(max_shared, 0) >= 3 AS contaminated
        |FROM (SELECT doc_id FROM documents WHERE doc_id % 50 <> 0) d
        |LEFT JOIN agg USING (doc_id) ORDER BY d.doc_id""".stripMargin,

    // Interval bounds compared at MICROsecond precision on both sides:
    // Spark's loaded timestamps ARE the ns-truncated micros, and DuckDB's
    // epoch_us truncates identically — so the boundary cases agree exactly.
    "events_attribution" ->
      """WITH v AS (SELECT user_id, ts AS view_ts FROM events WHERE event_type = 'view'),
        |p AS (SELECT user_id, ts AS purchase_ts, value FROM events WHERE event_type = 'purchase')
        |SELECT user_id, count(*) AS n_attributed,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS attributed_value
        |FROM v JOIN p USING (user_id)
        |WHERE epoch_us(purchase_ts) >= epoch_us(view_ts)
        |  AND epoch_us(purchase_ts) <= epoch_us(view_ts) + 1800000000
        |GROUP BY user_id ORDER BY user_id""".stripMargin,

    // The composed filter decision: each component reuses its standalone
    // oracle's formulation (quality, lang cascade, bigram repetition,
    // min-id-per-md5 keeper).
    "pipeline_keep" ->
      """WITH base AS (
        |  SELECT doc_id, text,
        |    round(0.4 * (CASE WHEN len(text) BETWEEN 50 AND 100000 THEN 1.0 ELSE 0.0 END)
        |        + 0.4 * (len(regexp_replace(text, '[^a-zA-Z]', '', 'g')) * 1.0 / len(text))
        |        + 0.2 * (CASE WHEN (len(text) + 1) * 1.0 / len(string_split(trim(text), ' '))
        |                      BETWEEN 3.0 AND 12.0 THEN 1.0 ELSE 0.0 END), 6) AS quality,
        |    (min(doc_id) OVER (PARTITION BY md5(text))) = doc_id AS is_keeper
        |  FROM documents),
        |lang AS (
        |  SELECT doc_id,
        |    CASE WHEN h_en = m AND m > 0 THEN 'en'
        |         WHEN h_fr = m AND m > 0 THEN 'fr'
        |         WHEN h_es = m AND m > 0 THEN 'es'
        |         ELSE 'und' END AS lang
        |  FROM (
        |    SELECT doc_id,
        |      len(list_filter(string_split(lower(text), ' '), x -> x IN ('the', 'a'))) AS h_en,
        |      len(list_filter(string_split(lower(text), ' '), x -> x IN ('le', 'la'))) AS h_fr,
        |      len(list_filter(string_split(lower(text), ' '), x -> x IN ('el', 'los'))) AS h_es,
        |      greatest(
        |        len(list_filter(string_split(lower(text), ' '), x -> x IN ('the', 'a'))),
        |        len(list_filter(string_split(lower(text), ' '), x -> x IN ('le', 'la'))),
        |        len(list_filter(string_split(lower(text), ' '), x -> x IN ('el', 'los')))) AS m
        |    FROM documents)),
        |tk AS (
        |  SELECT doc_id, list_filter(
        |    regexp_split_to_array(regexp_replace(lower(text), '[^a-z- ]', ' ', 'g'), ' +'),
        |    t -> len(t) > 1) AS toks
        |  FROM documents),
        |bg AS (
        |  SELECT doc_id, CASE WHEN len(toks) >= 2
        |    THEN list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])
        |    ELSE CAST([] AS VARCHAR[]) END AS bigrams
        |  FROM tk),
        |rep AS (
        |  SELECT doc_id, CASE WHEN len(bigrams) > 0
        |    THEN round(1.0 - len(list_distinct(bigrams))*1.0/len(bigrams), 6)
        |    ELSE 0.0 END AS rep_score
        |  FROM bg)
        |SELECT b.doc_id, b.quality, l.lang, b.is_keeper, r.rep_score,
        |  (b.quality >= 0.8 AND l.lang = 'en' AND r.rep_score < 0.1 AND b.is_keeper) AS keep
        |FROM base b JOIN lang l USING (doc_id) JOIN rep r USING (doc_id)
        |ORDER BY b.doc_id""".stripMargin,

    // Gap compare in integral microseconds (epoch_us truncates ns→us the
    // same way Spark's `ts DIV 1000` load conversion does).
    "events_sessions" -> eventsSessionsOracle,

    // the SAME oracle: 4 event-time-sliced batches with carried open-
    // session state must reproduce the one-pass batch window exactly —
    // including sessions spanning batch cuts (equivalence twin)
    "events_sessions_streamed" -> eventsSessionsOracle,

    // DuckDB's native ASOF LEFT JOIN is the oracle for the composed
    // union+window implementation (ties impossible: view side is deduped
    // per (user, ts) in both formulations).
    // Same ntile over the same deterministic order; remainder-to-early-
    // buckets semantics are standard SQL in both engines.
    "events_user_deciles" ->
      """WITH c AS (SELECT user_id, count(*) AS n_events FROM events GROUP BY 1),
        |d AS (SELECT user_id, n_events,
        |        ntile(10) OVER (ORDER BY n_events DESC, user_id) AS decile
        |      FROM c)
        |SELECT CAST(decile AS BIGINT) AS decile, count(*) AS n_users,
        |  CAST(sum(n_events) AS BIGINT) AS total_events,
        |  min(n_events) AS min_events, max(n_events) AS max_events
        |FROM d GROUP BY 1 ORDER BY 1""".stripMargin,

    "events_wau" -> eventsWauOracle,

    // the SAME oracle: third serving view off the streamed activity set
    "events_wau_streamed" -> eventsWauOracle,

    "events_dau" -> eventsDauOracle,

    // the SAME oracle: the accumulated distinct (user, day) set must
    // yield exactly the batch DAU/new/cumulative numbers
    "events_dau_streamed" -> eventsDauOracle,

    // Same integer sums (s1, s2 bigint-exact), same IEEE chain for
    // mean/var/z — the compare is exact; round(,6) guards the last ulp.
    "events_anomaly" ->
      """WITH hourly AS (
        |  SELECT event_type, date_trunc('hour', ts) AS h, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |st AS (
        |  SELECT event_type, count(*) AS nh, sum(n) AS s1, sum(n * n) AS s2
        |  FROM hourly GROUP BY 1),
        |j AS (
        |  SELECT hourly.event_type, h, n,
        |    (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / nh) / (nh - 1) AS vr,
        |    CAST(s1 AS DOUBLE) / nh AS mean
        |  FROM hourly JOIN st ON hourly.event_type = st.event_type),
        |z AS (
        |  SELECT event_type, h, n,
        |    CASE WHEN vr > 0 THEN round((CAST(n AS DOUBLE) - mean) / sqrt(vr), 6)
        |         ELSE 0.0 END AS z
        |  FROM j)
        |SELECT event_type, epoch_us(h) AS hour_us, n, z,
        |  abs(z) > 2.5 AS is_anomaly
        |FROM z ORDER BY event_type, hour_us""".stripMargin,

    // Strict-order comparisons run at MICROsecond precision on both sides
    // (epoch_us) — the parquet carries nanos, Spark's loader truncates to
    // micros, and min() commutes with the monotone truncation.
    "events_funnel" ->
      """WITH e AS (SELECT user_id, event_type, ts FROM events),
        |v AS (SELECT user_id, min(ts) AS t_view FROM e
        |      WHERE event_type = 'view' GROUP BY 1),
        |c AS (SELECT e.user_id, min(e.ts) AS t_click
        |      FROM e JOIN v ON e.user_id = v.user_id
        |      WHERE e.event_type = 'click' AND epoch_us(e.ts) > epoch_us(v.t_view)
        |      GROUP BY 1),
        |p AS (SELECT e.user_id, min(e.ts) AS t_purchase
        |      FROM e JOIN c ON e.user_id = c.user_id
        |      WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > epoch_us(c.t_click)
        |      GROUP BY 1)
        |SELECT v.user_id, epoch_us(v.t_view) AS view_us,
        |  coalesce(epoch_us(c.t_click), -1) AS click_us,
        |  coalesce(epoch_us(p.t_purchase), -1) AS purchase_us
        |FROM v
        |LEFT JOIN c ON c.user_id = v.user_id
        |LEFT JOIN p ON p.user_id = v.user_id
        |ORDER BY v.user_id""".stripMargin,

    "events_retention" -> eventsRetentionOracle,

    // the SAME oracle: the accumulated activity set serves retention too
    "events_retention_streamed" -> eventsRetentionOracle,

    // recall-gate convention over the exact WAU replay (the eventsWauOracle
    // derivation + the pinned-TRUE sketch-accuracy bound)
    "events_wau_sketch" ->
      """WITH d AS (SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events),
        |s AS (
        |  SELECT user_id,
        |    unnest(generate_series(day, day + INTERVAL 6 DAY, INTERVAL 1 DAY))
        |      AS report_day
        |  FROM d),
        |o AS (SELECT DISTINCT day AS report_day FROM d)
        |SELECT epoch_us(s.report_day) AS day_us,
        |  count(DISTINCT s.user_id) AS wau, TRUE AS est_ok
        |FROM s JOIN o ON s.report_day = o.report_day
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // exact week-over-week retained users per consecutive observed week
    // pair; the inclusion–exclusion sketch estimate is Spark-side and
    // gated by the pinned-TRUE bound
    "events_retention_sketch" ->
      """WITH pairs AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS w FROM events),
        |wks AS (SELECT DISTINCT w FROM pairs),
        |nxt AS (SELECT a.w FROM wks a JOIN wks b ON b.w = a.w + INTERVAL 7 DAY),
        |r AS (SELECT a.w, count(*) AS retained
        |      FROM pairs a JOIN pairs b ON a.user_id = b.user_id
        |                               AND b.w = a.w + INTERVAL 7 DAY
        |      GROUP BY a.w)
        |SELECT epoch_us(n.w) AS week_us,
        |  CAST(COALESCE(r.retained, 0) AS BIGINT) AS retained, TRUE AS est_ok
        |FROM nxt n LEFT JOIN r ON r.w = n.w ORDER BY week_us""".stripMargin,

    // the churn cohort replays the alternating-week filter (week index
    // anchored at Monday 1970-01-05, same arithmetic both engines) and
    // the SAME retained derivation — every pair's exact retained is 0 by
    // construction (disjoint parities), so the pinned-TRUE gate is
    // carried entirely by the union-scaled floor
    "events_retention_sketch_churn" ->
      """WITH act AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS w
        |  FROM events
        |  WHERE user_id % 2 =
        |    (date_diff('day', DATE '1970-01-05',
        |       CAST(date_trunc('week', ts) AS DATE)) // 7) % 2),
        |wks AS (SELECT DISTINCT w FROM act),
        |nxt AS (SELECT a.w FROM wks a JOIN wks b ON b.w = a.w + INTERVAL 7 DAY),
        |r AS (SELECT a.w, count(*) AS retained
        |      FROM act a JOIN act b ON a.user_id = b.user_id
        |                            AND b.w = a.w + INTERVAL 7 DAY
        |      GROUP BY a.w)
        |SELECT epoch_us(n.w) AS week_us,
        |  CAST(COALESCE(r.retained, 0) AS BIGINT) AS retained, TRUE AS est_ok
        |FROM nxt n LEFT JOIN r ON r.w = n.w ORDER BY week_us""".stripMargin,

    // recall-gate convention: exact DAU replayed, sketch-accuracy bound
    // pinned TRUE — a sketch regression becomes a hash mismatch
    "events_dau_sketch" ->
      """SELECT epoch_us(day) AS day_us, count(*) AS dau, TRUE AS est_ok
        |FROM (SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events)
        |GROUP BY day ORDER BY day_us""".stripMargin,

    "events_asof" ->
      """WITH v AS (SELECT user_id, ts AS view_ts, max(event_id) AS view_id
        |           FROM events WHERE event_type = 'view' GROUP BY 1, 2),
        |p AS (SELECT event_id AS purchase_id, user_id, ts AS purchase_ts
        |      FROM events WHERE event_type = 'purchase')
        |SELECT p.purchase_id, p.user_id, epoch_us(p.purchase_ts) AS purchase_us, v.view_id,
        |  epoch_us(p.purchase_ts) - epoch_us(v.view_ts) AS lag_us
        |FROM p ASOF LEFT JOIN v
        |  ON p.user_id = v.user_id AND p.purchase_ts >= v.view_ts
        |ORDER BY purchase_id""".stripMargin,

    // Same tokenize normalization as Spark's TextStats.tokenize, then md5
    // of the space-joined stream: lower → non-[a-z- ] to space → split on
    // runs of spaces → drop tokens of length < 2.
    "text_fingerprint" ->
      """SELECT doc_id,
        |  md5(array_to_string(list_filter(
        |    regexp_split_to_array(regexp_replace(lower(text), '[^a-z- ]', ' ', 'g'), ' +'),
        |    t -> len(t) > 1), ' ')) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin
  )
}
