package graft.tools

import graft.{GraftSession, SparkEntry}

/** Plan-audit utility: prints `explain("formatted")` and wall time for the
  * named queries, built under the index root `root` (default
  * [[SparkEntry.defaultIndexRoot]]).
  * Usage: Explain <sfDir> <q1,q2,...> [--no-run] [root]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val run   = !args.contains("--no-run")
    val pos   = args.filterNot(_ == "--no-run")
    val sfDir = pos(0)
    val names = pos(1).split(",")
    val queries = SparkEntry.specs(pos.lift(2).getOrElse(SparkEntry.defaultIndexRoot))
      .map(q => q.name -> q.build).toMap
    val cpus  = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.get(s"local[$cpus]", shufflePartitions = cpus)
    names.foreach { name =>
      val df = if (name == "entry") SparkEntry.entry(spark)
               else queries(name)(spark, sfDir)
      println(s"========== $name ==========")
      df.explain("formatted")
      if (run) {
        // execution only: the query was built above, before explain
        val r = TimedRun.once(spark)(df).orThrow
        println(f"[$name] rows=${r.rows} time=${r.sec}%.2fs")
      }
    }
    spark.stop()
  }
}
