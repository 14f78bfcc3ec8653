package graft

import graft.queries._
import graft.queries.QueryCommon.t
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Registry contract (SURVEY §7): one `queries` entry per
  * implemented operator from SURVEY §2, each with a DuckDB-equivalent
  * `oracleSql` where the semantics are ANSI-SQL-expressible.
  *
  * Each query lives as one [[graft.queries.QuerySpec]] — its Spark body
  * beside its oracle — in its family's file under `graft/queries/`:
  * `SqlQueries`, `EtlQueries`, `EventsQueries`, `TextQueries`,
  * `DedupQueries`, `AnnQueries`, `GraphQueries`, `WarcQueries`,
  * `PipelineQueries`, `CurationQueries` and `MultimodalQueries`, with the
  * helpers several families share in `QueryCommon`. `queries` and
  * `oracleSql` are derived from that one list at [[defaultIndexRoot]];
  * [[specs]] builds it for any other index root.
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

  /** The directory every persisted index, streamed sink and generated
    * fixture lives under (`<root>/<kind>/n<rows>_x<fingerprint>`), and that
    * the index-replaying oracles read back.
    */
  val defaultIndexRoot: String = "/tmp/graft_ann_index"

  /** Every registry query, its build and oracle both bound to `root`. Two
    * entries with one name fail here instead of one silently winning.
    */
  def specs(root: String = defaultIndexRoot): Seq[QuerySpec] = {
    val all = Seq(SqlQueries.specs(root), EtlQueries.specs(root),
      EventsQueries.specs(root), TextQueries.specs(root),
      DedupQueries.specs(root), AnnQueries.specs(root),
      GraphQueries.specs(root), WarcQueries.specs(root),
      PipelineQueries.specs(root), CurationQueries.specs(root),
      MultimodalQueries.specs(root)).flatten
    val dup = all.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    require(dup.isEmpty, s"query names registered twice: ${dup.toSeq.sorted.mkString(", ")}")
    all
  }

  /** Flagship query (smoke-checked for rows > 0 on sf0.001): revenue per
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

  private lazy val defaultQueries = specs().map(q => q.name -> q.build).toMap

  def queries: Map[String, (SparkSession, String) => DataFrame] = defaultQueries

  def oracleSql: Map[String, String] = specs().map(q => q.name -> q.oracle).toMap
}
