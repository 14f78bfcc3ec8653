package graft.tools

import graft.{GraftSession, SparkEntry}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Per-run seconds of each named query in one warm JVM (run 1 carries
  * JIT/codegen warmup and any cold index build), then a per-job breakdown
  * of its LAST run — wall ms, task time ms, task count and callsite per
  * job, including the jobs query CONSTRUCTION starts (persist+count,
  * cutLineage) — and the executed plan's per-operator metrics. The
  * queries build under the index root `root` (default
  * [[SparkEntry.defaultIndexRoot]]).
  * Usage: JobProfile <sfDir> <q[,q...]> [runs=2] [root]
  */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(",")
    val runs  = if (args.length > 2) args(2).toInt else 2
    require(runs >= 1, "runs must be >= 1")
    val queries = SparkEntry.specs(args.lift(3).getOrElse(SparkEntry.defaultIndexRoot))
      .map(q => q.name -> q.build).toMap
    val cpus  = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.get(s"local[$cpus]", shufflePartitions = cpus)

    case class J(id: Int, var start: Long = 0L, var end: Long = 0L,
      var desc: String = "", var taskMs: Long = 0L, var nTasks: Int = 0,
      var stages: List[String] = Nil)
    val jobs = scala.collection.concurrent.TrieMap[Int, J]()
    val stageToJob = scala.collection.concurrent.TrieMap[Int, Int]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val j = J(js.jobId, start = js.time,
          desc = Option(js.properties.getProperty("spark.job.description"))
            .orElse(Option(js.properties.getProperty("callSite.short")))
            .getOrElse(""))
        jobs.put(js.jobId, j)
        js.stageIds.foreach(sid => stageToJob.put(sid, js.jobId))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        jobs.get(je.jobId).foreach(_.end = je.time)
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        stageToJob.get(si.stageId).flatMap(jobs.get).foreach { j =>
          j.taskMs += si.taskMetrics.executorRunTime
          j.nTasks += si.numTasks
          j.stages ::= s"${si.stageId}:${si.name.takeWhile(_ != ' ')}(${si.numTasks}t)"
        }
      }
    }

    // post-run SQL-metric walk: per-operator timing/cardinality off the
    // executed (post-AQE) plan, broadcast/subquery subtrees included —
    // names the slow operator where the job listing can only name a stage
    def dumpPlan(p: org.apache.spark.sql.execution.SparkPlan, depth: Int): Unit = {
      val interesting = p.metrics.filter { case (k, m) =>
        m.value > 0 && (k.contains("time") || k.contains("Time") ||
          k == "numOutputRows" || k.contains("build") || k.contains("collect"))
      }
      val ms = interesting.map { case (k, m) => s"$k=${m.value}" }.mkString(" ")
      println("  " * depth + p.getClass.getSimpleName + "  " + ms)
      val kids = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          Seq(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(q.plan)
        case r: org.apache.spark.sql.execution.ReusedSubqueryExec => Seq(r.child)
        case other => other.children
      }
      kids.foreach(dumpPlan(_, depth + 1))
      p.subqueries.foreach(dumpPlan(_, depth + 1))
    }

    names.foreach { name =>
      var lastDf: org.apache.spark.sql.DataFrame = null
      def once(): Double = TimedRun.once(spark) {
        lastDf = queries(name)(spark, sfDir); lastDf
      }.orThrow.sec
      val warm = (1 until runs).map(_ => once())
      jobs.clear(); stageToJob.clear()
      spark.sparkContext.addSparkListener(listener)
      val sec = once()
      spark.sparkContext.removeSparkListener(listener)
      Thread.sleep(500) // let the listener bus drain
      println(f"[$name] " + (warm :+ sec).map(t => f"$t%.2f").mkString(" "))

      val js = jobs.values.toSeq.sortBy(_.id)
      val wall = js.map(j => math.max(0L, j.end - j.start)).sum
      println(f"[$name] run=${sec}%.2fs sum-of-job-wall=${wall / 1000.0}%.2fs jobs=${js.length}")
      js.foreach { j =>
        println(f"  job ${j.id}%3d wall=${math.max(0L, j.end - j.start)}%6dms " +
          f"taskTime=${j.taskMs}%7dms tasks=${j.nTasks}%4d ${j.desc.take(90)}%s")
        println("        stages: " + j.stages.reverse.mkString(" "))
      }
      println("---- executed plan metrics ----")
      dumpPlan(lastDf.queryExecution.executedPlan, 0)
    }
    spark.stop()
  }
}
