package graft

import graft.tools.TimedRun
import graft.tools.TimedRun.{Run, num}

/** Benchmark main (driver contract): runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and reports per-query seconds. Failed queries are
  * reported as -1.0 so a broken query can never masquerade as a fast one,
  * and the failure list is printed to stderr.
  *
  * Measurement discipline (r4 finding: one shared session accumulated
  * enough debris — uncollected broadcasts, shuffle files, GC pressure —
  * to inflate late-alphabet queries up to 8× over their standalone times):
  *
  *   - each query first runs ONE untimed WARM pass (recorded separately as
  *     `cold_detail`): the first execution pays JIT/codegen warmup and any
  *     cold `ensureIndex` build — measured 8.6 s cold vs 1.0 s warm on
  *     multimodal_video, 7.3 s vs 1.1 s on ann_image_recall — and a
  *     single-pass consumer would otherwise book that one-time cost as
  *     the operator's price. The warm/cold split keeps both numbers
  *     honest: `queries` is steady-state, `cold_detail` is what a
  *     fresh-JVM first run pays;
  *   - each query then runs `runs` times (default 3) and reports the
  *     MEDIAN, so one GC pause can't define a query's number;
  *   - `clearCache()` after every run drops persist()ed intermediates;
  *   - `System.gc()` between queries lets Spark's ContextCleaner reap
  *     dereferenced broadcasts/shuffles before the next query is timed.
  *
  * The reported total is the sum of medians — i.e. the cost of one clean
  * warm pass over the suite, which is the number BASELINE.md is compared
  * to.
  *
  * Artifact layout (r16 adjudication gap: the driver keeps only the LAST
  * 2000 chars of stdout, so a 262-query single-line JSON has parsed as
  * null since r10 — per-run evidence could never reach the artifact):
  *
  *   - stdout: ONE COMPACT JSON line, guaranteed < 2000 chars — headline
  *     total, counts, load, and per-run arrays for the `slowest` 8
  *     queries (the ones adjudication actually asks about);
  *   - `bench_last.json` AND `bench_last_c<cpus>.json` (identical
  *     content; the per-cpus twin stops a second driver run at a lower
  *     core count from overwriting the first's per-query detail): the
  *     FULL artifact — per-query medians (`queries`), every raw run in
  *     execution order (`runs_detail`), the untimed first-pass seconds
  *     (`cold_detail`), and the per-run adjudication triple aligned with
  *     `runs_detail`: hypervisor steal (`steal_detail`), JVM GC ms
  *     (`gc_detail`), host 1-min load at each run's end (`load_runs`).
  *     These files are what a judge should read; the stdout line exists
  *     to make the driver's tail capture parse.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus  = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val runs  = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    val warm  = sys.env.getOrElse("SPARK_GRAFT_BENCH_WARM", "1") == "1"
    val spark = GraftSession.get(s"local[$cpus]", shufflePartitions = cpus)

    // one timed execution plus its steal/GC/load triple (TimedRun.once)
    def timeOnce(name: String, fn: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame): Run = {
      val r = TimedRun.once(spark)(fn(spark, sfDir))
      r.error.foreach(e => System.err.println(s"[bench] $name FAILED: ${e.getMessage}"))
      r
    }

    case class QRes(name: String, value: Double, runsD: Seq[Run],
      cold: Run, loadBefore: Double)

    val loadStart = TimedRun.loadAvg
    val suite = new TimedRun.Mark
    val noRun = Run(Double.NaN, -1L, -1L, Double.NaN)
    val results = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val loadBefore = TimedRun.loadAvg
      // warm pass: untimed-for-the-headline but RECORDED — the cold/warm
      // gap is itself adjudication evidence (a query whose cold run is 7×
      // its warm median has an index build, not a regression)
      val cold = if (warm) timeOnce(name, fn) else noRun
      val runsD =
        if (warm && cold.sec < 0) Seq.empty[Run] // failed warm ⇒ failed query
        else (1 to runs).iterator
          .map(_ => timeOnce(name, fn))
          .takeWhile(_.sec >= 0) // a failed run fails the query; don't re-run
          .toSeq
      System.gc() // let ContextCleaner reap broadcasts/shuffles off-clock
      val value =
        if (runsD.length < runs) -1.0
        else TimedRun.median(runsD.map(_.sec))
      QRes(name, value, runsD, cold, loadBefore)
    }
    def detail(f: QRes => String): String =
      results.map(r => "\"" + r.name + "\":" + f(r)).mkString("{", ",", "}")
    val qs = results.map(r => "\"" + r.name + "\":" + r.value)
      .mkString("{", ",", "}")
    // Per-run evidence travels IN the artifact (r15 adjudication gap: a
    // 30 s MEDIAN of 3 cannot be told apart from "one 80 s GC run + two
    // 2 s runs" from the median alone). `runs_detail` is each query's
    // raw run array in execution order; `cold_detail` the untimed warm
    // pass; the adjudication triple rides beside it PER RUN:
    // `steal_detail` (hypervisor steal jiffies), `gc_detail` (JVM GC ms),
    // `load_runs` (host 1-min load at each run's end — r17's per-QUERY
    // load_detail pair couldn't say WHICH run a load ramp hit). An
    // over-band run adjudicates mechanically: steal ≫ 0 ⇒ hypervisor;
    // gc ≫ 0 ⇒ memory pressure; load ramped ⇒ co-tenant; all quiet ⇒
    // investigate the code.
    val runsDetail = detail(_.runsD.map(r => num(r.sec)).mkString("[", ",", "]"))
    val coldDetail = detail(r => if (r.cold.sec.isNaN) "null" else num(r.cold.sec))
    val loadDetail = detail { r =>
      val after = r.runsD.lastOption.getOrElse(r.cold).load
      s"[${num(r.loadBefore)},${if (after.isNaN) "null" else num(after)}]"
    }
    val loadRuns = detail(_.runsD.map(r => num(r.load)).mkString("[", ",", "]"))
    val stealDetail = detail(_.runsD.map(_.steal).mkString("[", ",", "]"))
    val stealColdDetail = detail(_.cold.steal.toString)
    val gcDetail = detail(_.runsD.map(_.gc).mkString("[", ",", "]"))
    val gcColdDetail = detail(_.cold.gc.toString)
    val total = results.collect { case r if r.value >= 0 => r.value }.sum
    // Host 1-minute load average at end of run: CPU contention from
    // neighboring JVMs inflates multi-stage shuffle queries superlinearly
    // (measured: 2× oversubscription ⇒ 2.5× on the shingle-dedup queries,
    // 1× on map-only queries), so the number contextualizes the timings.
    val load = TimedRun.loadAvg
    // n_failed/n_queries travel IN the artifact: the process exits 0 even
    // with failed queries (the -1.0 convention), so a consumer checking the
    // exit code alone must still see partial-suite failure in the JSON.
    val nFailed = results.count(_.value < 0)
    val failedNames = results.collect { case r if r.value < 0 => r.name }
    // provenance stamp: the r14 driver artifact overwrote the working
    // tree's bench_last.json and readers mistook whose run it was — the
    // producer travels IN the JSON (driver leaves the env unset)
    val producer = sys.env.getOrElse("SPARK_GRAFT_PRODUCER", "driver")
    val stealTotal = suite.steal
    val common = s""""unit":"sec","sf":"$sfDir","cpus":$cpus,"runs":$runs,"warm":$warm,""" +
      s""""n_queries":${results.length},"n_failed":$nFailed,""" +
      s""""load_avg":${num(load)},"load_avg_start":${num(loadStart)},""" +
      s""""steal_total_jiffies":$stealTotal,""" +
      s""""producer":"$producer""""
    val full = s"""{"metric":"total","value":$total,$common,"queries":$qs,""" +
      s""""runs_detail":$runsDetail,"cold_detail":$coldDetail,""" +
      s""""load_detail":$loadDetail,"load_runs":$loadRuns,""" +
      s""""steal_detail":$stealDetail,"steal_cold":$stealColdDetail,""" +
      s""""gc_detail":$gcDetail,"gc_cold":$gcColdDetail}"""
    // The full artifact goes to FILES (survives any stdout mangling):
    // bench_last.json for continuity, PLUS a per-core-count twin —
    // the driver benches the same tree at two $SPARK_GRAFT_CPUS values
    // and the second run used to OVERWRITE the first's per-query detail
    // (PERF_r17 lost the c32 table to the c8 run), so per-cpus files let
    // both survive for the scaling comparison.
    val detailFile = s"bench_last_c$cpus.json"
    Seq("bench_last.json", detailFile).foreach { f =>
      java.nio.file.Files.write(java.nio.file.Paths.get(f),
        (full + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    // stdout gets a compact line sized to the driver's 2000-char tail
    // capture, carrying per-run s/steal/gc arrays for the 8 slowest
    // queries — the ones an over-band adjudication actually interrogates.
    val slowest = results.filter(_.value >= 0).sortBy(-_.value).take(8)
      .map { r =>
        "\"" + r.name + "\":{\"s\":" + r.runsD.map(x => num(x.sec)).mkString("[", ",", "]") +
          ",\"steal\":" + r.runsD.map(_.steal).mkString("[", ",", "]") +
          ",\"gc\":" + r.runsD.map(_.gc).mkString("[", ",", "]") + "}"
      }.mkString("{", ",", "}")
    val failedJson = failedNames.map("\"" + _ + "\"").mkString("[", ",", "]")
    var compact = s"""{"metric":"total","value":${num(total)},$common,""" +
      s""""failed":$failedJson,"detail_file":"$detailFile",""" +
      s""""slowest":$slowest}"""
    if (compact.length > 1900) // never outgrow the tail capture
      compact = s"""{"metric":"total","value":${num(total)},$common,""" +
        s""""detail_file":"$detailFile"}"""
    println(compact)
    spark.stop()
  }
}
