package graft.tools

import graft.{GraftSession, SparkEntry}
import TimedRun.num
import scala.jdk.CollectionConverters._

/** Machine-readable steady-state bands for EVERY registry query.
  * Re-times each query in ONE warm JVM (run 1 dropped as JIT/codegen
  * warmup) and writes `STEADY.json`:
  *
  * {{{
  * {"sf":"...","runs":8,"producer":"builder","canary":[...],
  *  "load_avg_end":0.4,
  *  "queries":{"name":{"median":2.5,"min":2.1,"max":2.8,"runs":[...]}}}
  * }}}
  *
  * A bench value within ~1.5× of a band's `max` is in band; beyond it,
  * investigate the code, not the box. The canary (`s1_scan_project`, a
  * bare pushed-down scan) travels in the file, but a quiet canary does
  * NOT certify a cool box for the heavy shuffle queries — weigh
  * `load_avg_end` and the spread of the heavy runs themselves.
  *
  * Every registry query gets a band (`scripts/steady_check.py` fails when
  * one lacks it). A query whose warmup run is under `lightCut` (0.8 s) is
  * banded from `lightRuns` (4) runs, the rest from `runs` (8).
  *
  * usage: Steady <sfDir> [runs=8] [onlyCsv]
  * `onlyCsv` re-times only the listed queries and MERGES their bands into
  * the existing STEADY.json, every other band preserved verbatim.
  */
object Steady {
  def main(args: Array[String]): Unit = {
    val sfDir     = args(0)
    val runs      = if (args.length > 1) args(1).toInt else 8
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val lightRuns = math.min(4, runs)
    val lightCut  = 0.8
    val cpus      = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt

    // the "queries" object of a STEADY artifact, via the Jackson that
    // ships with Spark — no extra dependency
    def queriesOf(path: String) = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))).get("queries")
    val all = SparkEntry.queries.keys.toSeq.sorted
    val timed = only.fold(all)(o => all.filter(o.contains))

    val spark = GraftSession.get(s"local[$cpus]", shufflePartitions = cpus)
    // a failing query fails the whole regen: a band needs every run
    def timeOnce(name: String): TimedRun.Run =
      TimedRun.once(spark)(SparkEntry.queries(name)(spark, sfDir)).orThrow
    def timeQuery(name: String): Seq[TimedRun.Run] = {
      val warm = timeOnce(name)
      val rest = if (warm.sec < lightCut) lightRuns - 1 else runs - 1
      warm +: (1 to rest).map(_ => timeOnce(name))
    }
    def arr(xs: Seq[Any]): String = xs.mkString("[", ",", "]")

    // canary FIRST: its run-1 JIT absorbs session warmup off the heavy
    // queries' clocks, same as Bench's alphabetical order does in practice
    val canary = timeQuery("s1_scan_project").map(_.sec)
    val rows = timed.map { name =>
      val runsQ = timeQuery(name)
      System.gc()
      val ts = runsQ.map(_.sec)
      val steady = ts.drop(1).sorted // run 1 = JIT/codegen warmup, dropped
      val median = TimedRun.median(steady)
      System.err.println(f"[steady] $name%-40s median $median%.2f " +
        f"band ${steady.head}%.2f-${steady.last}%.2f (run1 ${ts.head}%.2f)")
      s""""$name":{"median":${num(median)},"min":${num(steady.head)},"max":${num(steady.last)},""" +
        s""""runs":${arr(ts.map(num))},"steal":${arr(runsQ.map(_.steal))},""" +
        s""""gc":${arr(runsQ.map(_.gc))},"load":${arr(runsQ.map(r => num(r.load)))}}"""
    }
    val load = TimedRun.loadAvg
    val producer = sys.env.getOrElse("SPARK_GRAFT_PRODUCER", "builder")
    // incremental mode: preserve every band not re-timed this run
    val kept: Seq[String] = only.toSeq.flatMap { retimed =>
      val prior = queriesOf("STEADY.json")
      prior.fieldNames().asScala.filterNot(retimed).toSeq.sorted
        .map(n => "\"" + n + "\":" + prior.get(n).toString)
    }
    val allRows = (kept ++ rows).mkString(",")
    val json =
      s"""{"sf":"$sfDir","runs":$runs,""" +
        s""""producer":"$producer","load_avg_end":$load,""" +
        s""""canary":${arr(canary.map(num))},""" +
        s""""queries":{$allRows}}"""
    println(json)
    java.nio.file.Files.write(java.nio.file.Paths.get("STEADY.json"),
      (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    spark.stop()
  }
}
