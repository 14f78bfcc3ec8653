package graft
import graft.queries.QuerySpec
import java.nio.file.{Files, Paths}
/** Correctness dump: each registry query's result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional arg 3: comma-separated query subset (fast local iteration),
    // or `all`
    val only: Option[Set[String]] =
      if (args.length > 2 && args(2) != "all") Some(args(2).split(",").toSet) else None
    // optional arg 4: the index root the queries build under and the
    // oracles read back; a fresh root runs every index writer and ingest
    val specs = SparkEntry.specs(if (args.length > 3) args(3) else SparkEntry.defaultIndexRoot)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt
    val spark = GraftSession.get(s"local[$cpus]", shufflePartitions = cpus)
    new java.io.File(outDir).mkdirs()
    val selected = specs.sortBy(_.name).filter(q => only.forall(_.contains(q.name)))
    selected.foreach { case QuerySpec(name, build, _) =>
      val t0 = System.nanoTime()
      try {
        // NOTE: output path must be exactly `$outDir/$name` (no extension):
        // the driver keys its oracle lookup by the literal directory name,
        // so `$name.parquet` would orphan every oracle (round-2 regression).
        build(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        System.err.println(f"[verify] $name ok ${(System.nanoTime() - t0) / 1e9}%.1fs")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name FAILED: ${e.getMessage}")
      } finally {
        // drop any persist()ed and checkpointed intermediates a query pinned
        // (dedup/LSH, the iterative kernels) — leaked blocks degrade every
        // subsequent query in the session
        graft.tools.TimedRun.drain(spark)
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = specs.map(q => q.name -> q.oracle).toMap
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
