package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Pins what every index kind builds: `index_build.sha256` holds one line per
  * (kind, table), tab-separated, with the SHA-256 of the table's sorted rows.
  * The queries below build every kind once, at a fresh root over sf0.001. A
  * table is a top-level child of an entry, other than the `built` marker and
  * Spark-hidden `_`/`.` names. Its rows are the rows of each parquet or ORC
  * file under it, each prefixed with the file's directory relative to the
  * table (partition placement counts), plus every other file's bytes under
  * its relative path, except for two formats whose bytes are not stable:
  *  - a WARC file's rows are its name and its records, read back through
  *    `Warc.readRecords` without the `path` they were read from, under the
  *    file's directory. `Warc.writeRecords` deals records to its files
  *    round-robin in the order of their row bytes, source `path` included,
  *    so which file holds a record depends on where the checkout lives;
  *  - a workbook's rows are its sheets' rows, read back through
  *    `Xlsx.readRaw`: its zip entries carry the time of the write.
  * A writer edit that moves any kind's rows
  * fails here, by name; a change made on purpose updates that line in the
  * same diff. Every run writes what it computed to
  * `target/index_build.sha256`.
  */
class IndexBuildGuardSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  // one query per kind it builds first; the two-kind queries are noted
  private val builders = Seq(
    "ann_lsh_topk", "ann_ivf_topk", "ann_ivf_pruned", "ann_ivf_streamed",
    "ann_pq_topk", "ann_ivfpq_topk" /* pq32 */, "ann_ivfpq_pruned",
    "ann_ivfpq_streamed", "text_bm25_topk", "text_bm25_pruned",
    "text_bm25_streamed", "graph_pagerank_incremental", "etl_enrich_replay",
    "s4_xlsx", "etl_upsert_streamed", "etl_upsert_asof", "events_dau_streamed",
    "events_sessions_streamed", "events_dau_sketch",
    "events_retention_sketch_churn", "events_hourly_streamed", "ann_image_ivf",
    "ann_image_pruned", "ann_image_streamed", "dedup_phash_streamed",
    "pipeline_crawl_refresh_adaptive" /* warcsnap1, warclqr, crawlsched */,
    "pipeline_crawl_refresh" /* warcingestl2qr, crawlrankm */,
    "s_orc_roundtrip", "warc_read_zstd", "warc_mime_gate", "warc_mime_sniff",
    "warc_canonical", "warc_charset", "warc_main_streamed", "warc_cdx_pruned",
    "warc_rewrite_dedup", "warc_rewrite", "warc_truncated_export",
    "warc_wet_roundtrip")

  private lazy val pinned: Map[String, String] = {
    val src = scala.io.Source.fromResource("index_build.sha256", getClass.getClassLoader)
    try src.getLines().map(_.split('\t')).map { case Array(k, h) => k -> h }.toMap
    finally src.close()
  }

  private def hidden(p: Path): Boolean = {
    val n = p.getFileName.toString
    n.startsWith("_") || n.startsWith(".")
  }

  private def children(p: Path): Seq[Path] = {
    val s = Files.list(p)
    try s.iterator().asScala.toSeq.sortBy(_.getFileName.toString) finally s.close()
  }

  private def render(v: Any): String = v match {
    case null => "null"
    case b: Array[Byte] => b.map(x => f"${x & 0xff}%02x").mkString("0x", "", "")
    case r: org.apache.spark.sql.Row => r.toSeq.map(render).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => s"${render(k)}->${render(x)}" }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case x => x.toString
  }

  /** One line per row (or per non-table file) under `table`, sorted. */
  private def rows(table: Path): Seq[String] =
    if (table.toString.endsWith(".xlsx"))
      graft.sources.Xlsx.readRaw(table.toString).flatMap { sh =>
        (sh.header +: sh.rows.map(_.toSeq)).map(r => s"${sh.name}\t${render(r)}")
      }.sorted
    else if (Files.isRegularFile(table))
      Seq(render(Files.readAllBytes(table)))
    else {
      def files(d: Path): Seq[Path] = children(d).filterNot(hidden).flatMap { c =>
        if (Files.isDirectory(c)) files(c) else Seq(c)
      }
      files(table).groupBy(_.getParent).toSeq.flatMap { case (dir, fs) =>
        val rel = table.relativize(dir).toString
        val (tabular, raw) = fs.partition(f =>
          f.toString.endsWith(".parquet") || f.toString.endsWith(".orc"))
        val (warc, other) = raw.partition(_.getFileName.toString.contains(".warc"))
        val read = if (tabular.exists(_.toString.endsWith(".orc"))) spark.read.format("orc")
          else spark.read.format("parquet")
        val tabRows = if (tabular.isEmpty) Seq.empty
          else read.load(tabular.map(_.toString): _*).collect().toSeq
        val warcRows = if (warc.isEmpty) Seq.empty
          else graft.sources.Warc.readRecords(spark, dir.toString).toDF().drop("path")
            .collect().toSeq
        (tabRows ++ warcRows).map(r => s"$rel\t${render(r)}") ++
          warc.map(f => s"${table.relativize(f)}") ++
          other.map(f => s"${table.relativize(f)}\t${render(Files.readAllBytes(f))}")
      }.sorted
    }

  private def sha256(lines: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.foreach(l => md.update((l + "\n").getBytes("UTF-8")))
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  test("every kind's tables match their pinned digest, key for key") {
    val root = Paths.get("target/index_build_guard").toAbsolutePath
    org.apache.commons.io.FileUtils.deleteDirectory(root.toFile)
    val specs = SparkEntry.specs(root.toString).map(q => q.name -> q.build).toMap
    builders.foreach(q => specs(q)(spark, sf))
    val got = for {
      kind <- children(root)
      entry <- children(kind)
      table <- children(entry) if !hidden(table) && table.getFileName.toString != "built"
    } yield s"${kind.getFileName}/${table.getFileName}" -> sha256(rows(table))
    Files.write(Paths.get("target/index_build.sha256"),
      got.map { case (k, h) => s"$k\t$h\n" }.mkString.getBytes("UTF-8"))
    assert(children(root).forall(k => children(k).size == 1), "one entry per kind")
    assert(children(root).size === 42)
    assert(got.map(_._1).toSet === pinned.keySet)
    val changed = got.filter { case (k, h) => pinned(k) != h }
    assert(changed.isEmpty, "tables that differ from the pinned digest:\n" +
      changed.map { case (k, h) => s"$k\t$h" }.mkString("\n"))
  }
}
