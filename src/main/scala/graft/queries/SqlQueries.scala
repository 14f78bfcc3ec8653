package graft
package queries

import graft.functions.Cleaning
import graft.operators.Rounds
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.Column
import QueryCommon._

/** The small SQL cases: scans, joins, windows, aggregates and the text and
  * type functions the reference notebooks use one at a time.
  *
  * One [[QuerySpec]] per query: the Spark body beside its DuckDB oracle.
  */
object SqlQueries {
  def specs(root: String): Seq[QuerySpec] = Seq(
    // S1/P1/P2/O1 — projected, aliased scan with null/empty filters.
    QuerySpec("s1_scan_project", (s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_returnflag").isNotNull && col("l_returnflag") =!= "" &&
          col("l_quantity") > 30)
        .select(
          col("l_orderkey").as("order_id"), col("l_linenumber").as("line_no"),
          col("l_quantity").as("qty"), col("l_returnflag").as("flag"))
        .orderBy("order_id", "line_no")
    },
      """SELECT l_orderkey AS order_id, l_linenumber AS line_no, l_quantity AS qty, l_returnflag AS flag
        |FROM lineitem
        |WHERE l_returnflag IS NOT NULL AND l_returnflag <> '' AND l_quantity > 30
        |ORDER BY order_id, line_no""".stripMargin),

    // U1/A1/S2 — 4-way round-tagged union, min/max per round
    // (FillRound analog, etl.py:181-202).
    QuerySpec("u1_round_minmax", (s, dir) => {
      Rounds.fourWaySplitUnion(t(s, dir, "orders"), "o_orderkey")
        .groupBy(col("round"))
        .agg(min(col("o_orderdate")).as("mn"), max(col("o_orderdate")).as("mx"),
          count(lit(1)).as("n"))
        .select(col("round"), fmt(col("mn")).as("min_date"),
          fmt(col("mx")).as("max_date"), col("n"))
        .orderBy("round")
    },
      """SELECT CAST(o_orderkey % 4 AS INT) AS round,
        |  strftime(min(o_orderdate), '%Y-%m-%d %H:%M:%S') AS min_date,
        |  strftime(max(o_orderdate), '%Y-%m-%d %H:%M:%S') AS max_date,
        |  count(*) AS n
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin),

    // A2/J3 — the vw_project_access_requests aggregate (etl.py:661-669):
    // countDistinct + sum + the count==1 boolean flag.
    QuerySpec("a2_project_requests", (s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(
          countDistinct(col("l_linenumber")).as("n_requests"),
          sum(col("l_quantity")).as("total_days"))
        .select(col("l_orderkey").as("project_id"), col("n_requests"),
          col("total_days"), (col("n_requests") =!= 1).as("multiple"))
        .orderBy("project_id")
    },
      """SELECT l_orderkey AS project_id,
        |  count(DISTINCT l_linenumber) AS n_requests,
        |  sum(l_quantity) AS total_days,
        |  count(DISTINCT l_linenumber) <> 1 AS multiple
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin),

    // J1/J2 — two-level left-join denormalization against broadcast dims
    // (unidentified.ipynb cell 8 / etl.py:339-346).
    QuerySpec("j1_denorm", (s, dir) => {
      t(s, dir, "orders")
        .join(broadcast(t(s, dir, "customer")), col("o_custkey") === col("c_custkey"), "left")
        .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"), "left")
        .select(col("o_orderkey").as("order_id"), col("c_name").as("customer_name"),
          col("n_name").as("nation_name"), col("o_totalprice").as("total_price"))
        .orderBy("order_id")
    },
      """SELECT o_orderkey AS order_id, c_name AS customer_name, n_name AS nation_name,
        |  o_totalprice AS total_price
        |FROM orders
        |LEFT JOIN customer ON o_custkey = c_custkey
        |LEFT JOIN nation ON c_nationkey = n_nationkey
        |ORDER BY order_id""".stripMargin),

    // J8/W3/O1 — positional-ordinal join: first order per customer via
    // row_number within partition (etl.py:219,469-473).
    QuerySpec("j8_first_order", (s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      t(s, dir, "orders")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("o_custkey").as("cust_id"), col("o_orderkey").as("first_order"),
          fmt(col("o_orderdate")).as("first_date"))
        .orderBy("cust_id")
    },
      """SELECT o_custkey AS cust_id, o_orderkey AS first_order,
        |  strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS first_date
        |FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rn
        |      FROM orders) t
        |WHERE rn = 1 ORDER BY cust_id""".stripMargin),

    // W1/O1 — sequential ID assignment replacing itertools.count
    // (etl.py:215,269-270,348,461,488).
    QuerySpec("w1_seq_ids", (s, dir) => {
      t(s, dir, "part")
        .withColumn("new_id",
          row_number().over(Window.orderBy(col("p_partkey"))).cast("bigint"))
        .select(col("new_id"), col("p_partkey").as("part_id"), col("p_name").as("name"))
        .orderBy("new_id")
    },
      """SELECT row_number() OVER (ORDER BY p_partkey) AS new_id,
        |  p_partkey AS part_id, p_name AS name
        |FROM part ORDER BY new_id""".stripMargin),

    // A3/F21 — ScoreStats: unpivot score columns, zero-drop quirk
    // (utils.py:181), count/mean/sum/stddev with min_size semantics
    // (utils.py:156-199).
    QuerySpec("a3_score_stats", (s, dir) => {
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
    },
      """WITH u AS (
        |  SELECT l_returnflag AS flag, 'quantity' AS score_name, l_quantity AS score FROM lineitem
        |  UNION ALL SELECT l_returnflag, 'discount', l_discount FROM lineitem
        |  UNION ALL SELECT l_returnflag, 'tax', l_tax FROM lineitem)
        |SELECT flag, score_name, count(*) AS n, round(avg(score), 6) AS mean,
        |  CAST(sum(CAST(score AS DECIMAL(18,2))) AS DOUBLE) AS total,
        |  CASE WHEN count(*) < 2 THEN NULL ELSE round(stddev_samp(score), 6) END AS sd
        |FROM u WHERE score IS NOT NULL AND score <> 0
        |GROUP BY 1,2 ORDER BY 1,2""".stripMargin),

    // A3 mode — deterministic mode (highest count, lowest value tiebreak;
    // utils.py:156-199 note in SURVEY §7.4.2).
    QuerySpec("a3_mode", (s, dir) => {
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
    },
      """WITH u AS (
        |  SELECT l_returnflag AS flag, 'quantity' AS score_name, l_quantity AS score FROM lineitem
        |  UNION ALL SELECT l_returnflag, 'discount', l_discount FROM lineitem
        |  UNION ALL SELECT l_returnflag, 'tax', l_tax FROM lineitem),
        |c AS (SELECT flag, score_name, score, count(*) AS c FROM u
        |      WHERE score IS NOT NULL AND score <> 0 GROUP BY 1,2,3)
        |SELECT flag, score_name, score AS mode_score
        |FROM (SELECT *, row_number() OVER (PARTITION BY flag, score_name ORDER BY c DESC, score) AS rn FROM c)
        |WHERE rn = 1 ORDER BY flag, score_name""".stripMargin),

    // A4/O3 — first-seen-wins canonical row via max_by over a struct
    // (SpecificDiscipline dedup, etl.py:263-321).
    QuerySpec("a4_canonical_rows", (s, dir) => {
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
    },
      """SELECT l_partkey AS part_id, l_orderkey AS last_order, l_linenumber AS last_line,
        |  l_quantity AS last_qty, n_rows
        |FROM (SELECT *,
        |        row_number() OVER (PARTITION BY l_partkey ORDER BY l_orderkey DESC, l_linenumber DESC) AS rn,
        |        count(*) OVER (PARTITION BY l_partkey) AS n_rows
        |      FROM lineitem)
        |WHERE rn = 1 ORDER BY part_id""".stripMargin),

    // A6/W2 — percent-of-group via window denominator
    // (unidentified.ipynb cells 11,15).
    QuerySpec("a6_pct_of_group", (s, dir) => {
      val base = t(s, dir, "orders")
        .groupBy(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy(col("o_orderstatus"))
      base
        .select(col("o_orderstatus").as("status"), col("o_orderpriority").as("priority"),
          col("n"), round(col("n") * lit(100.0) / sum(col("n")).over(w), 6).as("pct"))
        .orderBy("status", "priority")
    },
      """SELECT o_orderstatus AS status, o_orderpriority AS priority, count(*) AS n,
        |  round(count(*) * 100.0 / sum(count(*)) OVER (PARTITION BY o_orderstatus), 6) AS pct
        |FROM orders GROUP BY 1,2 ORDER BY 1,2""".stripMargin),

    // W4/P11/O2 — z-score outliers. Two-pass agg + broadcast cross join, NOT
    // a whole-table window: scales to any corpus (outliers.ipynb cell 5).
    QuerySpec("w4_zscore", (s, dir) => {
      val cust = t(s, dir, "customer")
      val stats = cust.agg(avg(col("c_acctbal")).as("mu"),
        stddev_samp(col("c_acctbal")).as("sigma"))
      cust.crossJoin(broadcast(stats))
        .withColumn("z", round((col("c_acctbal") - col("mu")) / col("sigma"), 4))
        .filter(col("z") < -1.5)
        .select(col("c_custkey").as("cust_id"), col("c_acctbal").as("acctbal"), col("z"))
        .orderBy("cust_id")
    },
      """SELECT * FROM (
        |  SELECT c_custkey AS cust_id, c_acctbal AS acctbal,
        |    round((c_acctbal - avg(c_acctbal) OVER ()) / stddev_samp(c_acctbal) OVER (), 4) AS z
        |  FROM customer)
        |WHERE z < -1.5 ORDER BY cust_id""".stripMargin),

    // O2/O4 — deterministic top-k (orderBy desc + unique tiebreak + limit).
    QuerySpec("o4_topk", (s, dir) => {
      t(s, dir, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(20)
        .select(col("o_orderkey").as("order_id"), col("o_totalprice").as("total_price"),
          col("o_orderpriority").as("priority"))
        .orderBy("order_id")
    },
      """SELECT o_orderkey AS order_id, o_totalprice AS total_price, o_orderpriority AS priority
        |FROM (SELECT * FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 20)
        |ORDER BY order_id""".stripMargin),

    // U4/P5 — left-anti set difference (resources.py:338,349): customers
    // with no pending orders.
    QuerySpec("u4_no_orders", (s, dir) => {
      t(s, dir, "customer")
        .join(t(s, dir, "orders").filter(col("o_orderstatus") === "P"),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey").as("cust_id"), col("c_name").as("name"))
        .orderBy("cust_id")
    },
      """SELECT c_custkey AS cust_id, c_name AS name
        |FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'P')
        |ORDER BY cust_id""".stripMargin),

    // U3/A12 — distinct collapse.
    QuerySpec("u3_distinct", (s, dir) => {
      t(s, dir, "customer")
        .select(col("c_nationkey").as("nation_id"), col("c_mktsegment").as("segment"))
        .distinct()
        .orderBy("nation_id", "segment")
    },
      """SELECT DISTINCT c_nationkey AS nation_id, c_mktsegment AS segment
        |FROM customer ORDER BY 1, 2""".stripMargin),

    // P3/P7/P9 — inequality + range predicates pushed to the parquet scan.
    QuerySpec("p9_range_filter", (s, dir) => {
      t(s, dir, "orders")
        .filter(col("o_orderstatus") =!= "P" &&
          col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
        .select(col("o_orderkey").as("order_id"), fmt(col("o_orderdate")).as("order_date"),
          col("o_orderstatus").as("status"))
        .orderBy("order_id")
    },
      """SELECT o_orderkey AS order_id, strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS order_date,
        |  o_orderstatus AS status
        |FROM orders
        |WHERE o_orderstatus <> 'P'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |ORDER BY order_id""".stripMargin),

    // J10/F20/F22 — identified-flag left join + fillna(false)
    // (unidentified.ipynb cell 8).
    QuerySpec("j10_has_order", (s, dir) => {
      val flags = t(s, dir, "orders").select(col("o_custkey")).distinct()
        .withColumn("has", lit(true))
      t(s, dir, "customer")
        .join(flags, col("c_custkey") === col("o_custkey"), "left")
        .select(col("c_custkey").as("cust_id"),
          coalesce(col("has"), lit(false)).as("has_order"))
        .orderBy("cust_id")
    },
      """SELECT c_custkey AS cust_id, (o.o_custkey IS NOT NULL) AS has_order
        |FROM customer
        |LEFT JOIN (SELECT DISTINCT o_custkey FROM orders) o ON c_custkey = o.o_custkey
        |ORDER BY cust_id""".stripMargin),

    // F19 — value recode ('YES'→'Open' style, journal-analysis.ipynb cell 4).
    QuerySpec("f19_recode", (s, dir) => {
      t(s, dir, "orders")
        .withColumn("status_label",
          when(col("o_orderstatus") === "O", "Open")
            .when(col("o_orderstatus") === "F", "Finished")
            .when(col("o_orderstatus") === "P", "Pending")
            .otherwise("Unknown"))
        .groupBy("status_label").agg(count(lit(1)).as("n"))
        .orderBy("status_label")
    },
      """SELECT CASE o_orderstatus WHEN 'O' THEN 'Open' WHEN 'F' THEN 'Finished'
        |  WHEN 'P' THEN 'Pending' ELSE 'Unknown' END AS status_label, count(*) AS n
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin),

    // A11/F17/O4 — explode + token frequency top-N
    // (classifiers.ipynb cell 12, outliers.ipynb cell 6).
    QuerySpec("a11_top_tokens", (s, dir) => {
      t(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("word"))
        .groupBy("word").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("word"))
        .limit(20)
    },
      """SELECT word, count(*) AS n
        |FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        |GROUP BY 1 ORDER BY n DESC, word LIMIT 20""".stripMargin),

    // A9 — duplicate-grouping histogram (duplicates.ipynb cells 11,14).
    QuerySpec("a9_dup_histogram", (s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_partkey")).agg(count(lit(1)).as("n_records"))
        .filter(col("n_records") > 1)
        .groupBy(col("n_records")).agg(count(lit(1)).as("n_groups"))
        .orderBy("n_records")
    },
      """SELECT n_records, count(*) AS n_groups
        |FROM (SELECT l_partkey, count(*) AS n_records FROM lineitem GROUP BY 1)
        |WHERE n_records > 1 GROUP BY 1 ORDER BY 1""".stripMargin),

    // A8/U2 — group totals + synthetic 'Total' facet row
    // (journal-analysis.ipynb cell 16), over a 3-way broadcast join.
    QuerySpec("a8_region_totals", (s, dir) => {
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
    },
      """SELECT r_name AS region,
        |  CAST(sum(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal, count(*) AS n
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1
        |UNION ALL
        |SELECT 'Total', CAST(sum(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE), count(*) FROM supplier
        |ORDER BY region""".stripMargin),

    // F1 — clean_string contract (utils.py:69-87) over the documents corpus.
    QuerySpec("f1_clean_text", (s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), Cleaning.cleanString(col("text")).as("clean"))
        .orderBy("doc_id")
    },
      """SELECT doc_id,
        |  CASE WHEN t IS NULL OR t = '' OR NOT regexp_matches(t, '\w') THEN NULL ELSE t END AS clean
        |FROM (SELECT doc_id,
        |        trim(regexp_replace(regexp_replace(text, '[\r\n\t]+', ' ', 'g'), ' {2,}', ' ', 'g')) AS t
        |      FROM documents)
        |ORDER BY doc_id""".stripMargin),

    // F12/O5 — regex-extraction cascade, first matching stage wins
    // (parsers/doi.py:13-42).
    QuerySpec("o5_extract_cascade", (s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          coalesce(
            nullif(regexp_extract(col("text"), "(spark\\w*)", 1), lit("")),
            nullif(regexp_extract(col("text"), "(join\\w*)", 1), lit("")),
            lit("none")).as("first_hit"))
        .orderBy("doc_id")
    },
      """SELECT doc_id,
        |  coalesce(nullif(regexp_extract(text, '(spark\w*)', 1), ''),
        |           nullif(regexp_extract(text, '(join\w*)', 1), ''),
        |           'none') AS first_hit
        |FROM documents ORDER BY doc_id""".stripMargin),

    // F2 — find_names-style token extraction (utils.py:56-66; ASCII variant
    // so the RE2 oracle is bit-identical).
    QuerySpec("f2_find_names", (s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          array_join(
            slice(regexp_extract_all(
              regexp_replace(col("text"), " and |&", "; "),
              lit("([a-zA-Z]{3,}[-' ]?)+"), lit(0)), 1, 3),
            ";").as("names"))
        .orderBy("doc_id")
    },
      """SELECT doc_id,
        |  array_to_string(list_slice(
        |    regexp_extract_all(regexp_replace(text, ' and |&', '; ', 'g'), '([a-zA-Z]{3,}[-'' ]?)+', 0),
        |    1, 3), ';') AS names
        |FROM documents ORDER BY doc_id""".stripMargin),

    // F7 — per-element transform + array_join (author formatting,
    // etl.py:393-404).
    QuerySpec("f7_author_format", (s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          array_join(
            transform(slice(split(col("text"), " "), 1, 4),
              a => concat(a, lit("-x"))),
            "; ").as("authors"))
        .orderBy("doc_id")
    },
      """SELECT doc_id,
        |  array_to_string(list_transform(list_slice(string_split(text, ' '), 1, 4), a -> a || '-x'), '; ') AS authors
        |FROM documents ORDER BY doc_id""".stripMargin),

    // P4 — ILIKE disjunction over DOI-ish columns (resources.py:345-346).
    QuerySpec("p4_ilike", (s, dir) => {
      t(s, dir, "documents")
        .filter(lower(col("text")).contains("spark") || col("text").like("%10.%"))
        .select(col("doc_id"))
        .orderBy("doc_id")
    },
      """SELECT doc_id FROM documents
        |WHERE contains(lower(text), 'spark') OR text LIKE '%10.%'
        |ORDER BY doc_id""".stripMargin),

    // P8/P10 — null-conjunction + isin filters
    // (journal-analysis.ipynb cell 14, unidentified.ipynb cell 15).
    QuerySpec("p8_null_conj", (s, dir) => {
      t(s, dir, "documents")
        .filter(nullif(col("lang"), lit("en")).isNull &&
          nullif(col("source"), lit("src0")).isNotNull)
        .select(col("doc_id"), col("lang"), col("source"))
        .orderBy("doc_id")
    },
      """SELECT doc_id, lang, source FROM documents
        |WHERE nullif(lang, 'en') IS NULL AND nullif(source, 'src0') IS NOT NULL
        |ORDER BY doc_id""".stripMargin),

    // P6/P10 — IN-set filter + per-key counts.
    QuerySpec("p10_isin", (s, dir) => {
      t(s, dir, "events")
        .filter(col("event_type").isin("click", "view"))
        .groupBy(col("user_id")).agg(count(lit(1)).as("n"))
        .orderBy("user_id")
    },
      """SELECT user_id, count(*) AS n FROM events
        |WHERE event_type IN ('click', 'view')
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // F3 — legacy datetime format round-trip through Cleaning.toDatetimeLegacy
    // ('Mon Jan 02 15:04:05 GMT 2006' shape, utils.py:90-102).
    QuerySpec("f3_time_roundtrip", (s, dir) => {
      t(s, dir, "events")
        .select(col("event_id"),
          fmt(Cleaning.toDatetimeLegacy(
            date_format(col("ts"), "EEE MMM dd HH:mm:ss 'GMT' yyyy"))).as("parsed"))
        .orderBy("event_id")
    },
      """SELECT event_id,
        |  strftime(strptime(strftime(ts, '%b %d %H:%M:%S GMT %Y'), '%b %d %H:%M:%S GMT %Y'),
        |           '%Y-%m-%d %H:%M:%S') AS parsed
        |FROM events ORDER BY event_id""".stripMargin),

    // F24 — JSON key extraction (resources.py:240-268).
    QuerySpec("f24_json", (s, dir) => {
      t(s, dir, "events")
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").cast("int").as("k"))
        .orderBy("event_id")
    },
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS INT) AS k
        |FROM events ORDER BY event_id""".stripMargin),

    // A10 — describe()/summary per group (classifiers.ipynb cell 30).
    QuerySpec("a10_describe", (s, dir) => {
      t(s, dir, "orders")
        .groupBy(col("o_orderstatus").as("status"))
        .agg(count(lit(1)).as("n"),
          min(col("o_totalprice")).as("min_price"),
          max(col("o_totalprice")).as("max_price"),
          round(avg(col("o_totalprice")), 6).as("avg_price"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("sum_price"))
        .orderBy("status")
    },
      """SELECT o_orderstatus AS status, count(*) AS n,
        |  min(o_totalprice) AS min_price, max(o_totalprice) AS max_price,
        |  round(avg(o_totalprice), 6) AS avg_price,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin),

    // F18 — decimal-comma repair round-trip (journal-analysis.ipynb cell 10):
    // synthesize a comma-decimal string, repair it, recover the double.
    QuerySpec("f18_decimal_comma", (s, dir) => {
      t(s, dir, "part")
        .select(col("p_partkey").as("part_id"),
          graft.analysis.Journals.repairDecimalComma(
            regexp_replace(col("p_retailprice").cast("string"), "\\.", ","))
            .as("repaired"))
        .orderBy("part_id")
    },
      """SELECT p_partkey AS part_id,
        |  CAST(replace(replace(CAST(p_retailprice AS VARCHAR), '.', ','), ',', '.') AS DOUBLE) AS repaired
        |FROM part ORDER BY part_id""".stripMargin),

    // W1 scale path — distributed two-phase sequential ids must equal the
    // global-window ids (graft.operators.Ids).
    QuerySpec("w1_distributed_ids", (s, dir) => {
      graft.operators.Ids.distributedSequentialIds(
          t(s, dir, "customer"), Seq("c_custkey"), "new_id")
        .select(col("new_id"), col("c_custkey").as("cust_id"))
        .orderBy("new_id")
    },
      """SELECT row_number() OVER (ORDER BY c_custkey) AS new_id, c_custkey AS cust_id
        |FROM customer ORDER BY new_id""".stripMargin),

    // ORC ROUND-TRIP — the OTHER columnar lake format Spark ships
    // natively (Hive lineage; parquet carries every other fixture in
    // this suite). documents written once as zlib ORC (ensureIndex),
    // read back, compared per row by digest — green = the write→read
    // loop is value-exact across types incl. UTF-8 text. At scale the
    // format choice changes codecs and stats granularity, not the
    // plan: the same PushedFilters/ReadSchema machinery serves both.
    QuerySpec("s_orc_roundtrip", (s, dir) => {
      val docs = t(s, dir, "documents")
      // fingerprint the FULL frame: the round-trip's content is every
      // column, and two sf dirs share the same doc_id set — an id-only
      // key would serve one dir's ORC to the other
      val path = ensureIndex(s, root, docs, "orcdocs") { p =>
        docs.write.mode("overwrite").option("compression", "zlib")
          .orc(s"$p/docs")
      }
      s.read.orc(s"$path/docs")
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
          md5(col("text")).as("text_md5"))
        .orderBy("doc_id")
    },
      // ORC replay: the round-trip must reproduce the parquet-read rows
      // value-exactly, digests over the same UTF-8 text bytes.
      """SELECT doc_id, lang, source, n_chars, md5(text) AS text_md5
        |FROM documents ORDER BY doc_id""".stripMargin),

    QuerySpec("s10_ddl", (s, dir) => {
      import s.implicits._
      Seq("region", "nation")
        .map(n => (n, graft.sinks.SqlDump.createTableDdl(t(s, dir, n), n)))
        .toDF("tbl", "ddl")
        .orderBy("tbl")
    },
      // The DDL text is a pure function of the (fixed, declared) schema —
      // the oracle pins it literally.
      """SELECT * FROM (VALUES
        |  ('nation', 'CREATE TABLE `nation` (' || chr(10) ||
        |    chr(9) || '`n_nationkey` INTEGER,' || chr(10) ||
        |    chr(9) || '`n_name` TEXT,' || chr(10) ||
        |    chr(9) || '`n_regionkey` INTEGER' || chr(10) || ');'),
        |  ('region', 'CREATE TABLE `region` (' || chr(10) ||
        |    chr(9) || '`r_regionkey` INTEGER,' || chr(10) ||
        |    chr(9) || '`r_name` TEXT' || chr(10) || ');')
        |) AS t(tbl, ddl) ORDER BY tbl""".stripMargin),

    // S12/F25 — SQL-dump sink statements as a distributed text column.
    QuerySpec("s12_sql_dump", (s, dir) => {
      graft.sinks.SqlDump.insertStatements(
          t(s, dir, "region").orderBy("r_regionkey"), "region")
        .orderBy("stmt")
    },
      """SELECT 'INSERT INTO region VALUES (' || CAST(r_regionkey AS VARCHAR) || ', ''' ||
        |  replace(r_name, '''', '\''') || ''');' AS stmt
        |FROM region ORDER BY stmt""".stripMargin),

    // J9/F17/F18/A8/U2 — the journal-ranking analytics pipeline
    // (graft.analysis.Journals) over synth-shaped frames derived from
    // documents; rows-only (dropDuplicates keeper is plan-dependent).
    QuerySpec("j9_journal_coverage", (s, dir) => {
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
    },
      // rankedJournals now keeps a deterministic first-by-sort row per ISSN on
      // each ranking side, so the whole pipeline is SQL-replicable.
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
        |ORDER BY ranking""".stripMargin),

    // Salted skew join (operators/SkewJoin): identical ROWS to the plain
    // equi-join — the salt only changes the partitioning — so the plain
    // join IS the oracle. AQE skew handling is the first line of defense;
    // salting is the plan-level fallback this query keeps honest.
    QuerySpec("j_salted_skew", (s, dir) => {
      val orders = t(s, dir, "orders")
      val cust = t(s, dir, "customer")
        .select(col("c_custkey").as("o_custkey"), col("c_nationkey"))
      graft.operators.SkewJoin.saltedJoin(orders, cust, "o_custkey",
          saltFactor = 4, saltBy = "o_orderkey")
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total"))
        .orderBy("c_nationkey")
    },
      // The plain join is the oracle for the salted join — same rows by
      // construction, different partitioning.
      """SELECT c_nationkey, count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // TPC-H-Q5-shaped star join: revenue per nation through the full
    // customer→orders→lineitem→supplier chain with the local-supplier
    // condition (c_nationkey = s_nationkey) and dim filters. The two fact
    // joins shuffle on their keys; customer/supplier/nation/region
    // broadcast; revenue sums as DECIMAL (order-free exact).
    QuerySpec("j_star_revenue", (s, dir) => {
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
    },
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
        |GROUP BY n_name ORDER BY n_name""".stripMargin),

    // Wide-format pivot: per-source language histogram as columns — one
    // groupBy with conditional aggregates (what .pivot plans), never a
    // per-language scan.
    QuerySpec("a_pivot_langs", (s, dir) => {
      t(s, dir, "documents")
        .groupBy(col("source"))
        .pivot("lang", Seq("de", "en", "es", "fr", "zh"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy("source")
    },
      """SELECT source,
        |  CAST(sum(CASE WHEN lang = 'de' THEN 1 ELSE 0 END) AS BIGINT) AS de,
        |  CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS en,
        |  CAST(sum(CASE WHEN lang = 'es' THEN 1 ELSE 0 END) AS BIGINT) AS es,
        |  CAST(sum(CASE WHEN lang = 'fr' THEN 1 ELSE 0 END) AS BIGINT) AS fr,
        |  CAST(sum(CASE WHEN lang = 'zh' THEN 1 ELSE 0 END) AS BIGINT) AS zh
        |FROM documents GROUP BY source ORDER BY source""".stripMargin)
  )
}
