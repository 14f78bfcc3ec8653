package graft.tools

import graft.{GraftSession, SparkEntry}

/** Plan-audit utility: prints `explain("formatted")` and wall time for the
  * named queries. Usage: Explain <sfDir> <q1,q2,...> [--no-run]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(",")
    val run   = !args.contains("--no-run")
    val cpus  = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.get(s"local[$cpus]", shufflePartitions = cpus)
    names.foreach { name =>
      val df = if (name == "entry") SparkEntry.entry(spark)
               else SparkEntry.queries(name)(spark, sfDir)
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
