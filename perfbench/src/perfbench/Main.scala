package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** JVM side of the benchmark: runs one workload for one seed and writes the
  * run's result (metrics, checks, per-operation host signals) as JSON, plus
  * the span trace when tracing is on. `perfbench/run.py` builds, launches
  * and post-processes it.
  *
  * {{{
  * perfbench.Main --workload rebuild|interactive --seed N --seconds S
  *                --trace 0|1 --work DIR --data DIR --gen-s SEC --result FILE
  *                [--trace-file FILE] [--expected FILE]       (rebuild)
  *                [--queries FILE]                            (interactive)
  * }}}
  *
  * `--data` holds the generated inputs, one directory per workload, and
  * `--gen-s` is the median time the generator took to write the workload's.
  * A traced run (`--trace 1`) runs both workloads and the heavy registry
  * queries (the `operators` layer, over the `interactive` tables), so that it
  * measures every layer: the per-layer metrics are the whole program's.
  */
object Main {

  /** End-to-end metrics, every workload, tracing off. */
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "cold_ms" -> "ms", "op_p50_ms" -> "ms", "op_p90_ms" -> "ms",
    "ops_per_s" -> "1/s", "retained_heap_mb" -> "MB")

  private val runtime = Seq("jobs" -> "count", "tasks" -> "count", "executor_run_s" -> "s",
    "executor_cpu_s" -> "s", "shuffle_write_bytes" -> "bytes", "spill_bytes" -> "bytes",
    "gc_s" -> "s", "task_busy_share" -> "ratio")

  /** Per-layer metrics, every workload, tracing on: a traced run runs every
    * layer, whichever workload it names.
    */
  val perLayer: Seq[(String, String)] =
    Seq("rebuild.s" -> "s", "readback.s" -> "s", "etl.run_s" -> "s") ++
      RebuildBench.tables.map(t => s"etl.$t.write_s" -> "s") ++
      Seq("sources.read_s" -> "s", "sources.xlsx_s" -> "s",
        "sources.rows_read_per_source_row" -> "ratio", "sinks.write_s" -> "s",
        "sinks.bytes_written" -> "bytes", "sinks.files_written" -> "count",
        "sinks.records_written" -> "count", "sinks.bytes_ratio" -> "ratio",
        "readback.files_scanned" -> "count", "readback.tasks" -> "count",
        "rebuild.accounted_share" -> "ratio") ++
      runtime.map { case (m, u) => s"rebuild.$m" -> u } ++
      Seq("rebuild.trace_overhead_share" -> "ratio",
        "interactive.construct_ms_p50" -> "ms", "interactive.plan_ms_p50" -> "ms",
        "interactive.exec_ms_p50" -> "ms", "interactive.jobs_per_query" -> "count",
        "interactive.stages_per_query" -> "count", "interactive.tasks_per_query" -> "count",
        "interactive.single_task_stages_per_query" -> "count") ++
      runtime.map { case (m, u) => s"interactive.$m" -> u } ++
      Seq("interactive.trace_overhead_share" -> "ratio") ++
      QueryBench.operators.flatMap(q => Seq(s"operators.$q.s" -> "s",
        s"operators.$q.construct_s" -> "s", s"operators.$q.shuffle_bytes" -> "bytes")) ++
      Seq("operators.single_task_stages" -> "count") ++
      runtime.map { case (m, u) => s"operators.$m" -> u } ++
      Seq("operators.trace_overhead_share" -> "ratio",
        "setup.session_s" -> "s", "setup.generate_s" -> "s",
        "host.steal_share" -> "ratio", "host.load_1m" -> "load", "host.peak_rss_mb" -> "MB",
        "jvm.peak_live_heap_mb" -> "MB")

  private def median(xs: Iterable[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (numpy's default); NaN when empty. */
  private def quantile(xs: Iterable[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.toIndexedSeq.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  private def now(): Double = System.nanoTime() / 1e9

  /** Phase marks in the JVM log: seconds since JVM start. */
  private def phase(name: String): Unit =
    System.err.println(f"[perfbench] ${(System.currentTimeMillis() - Host.jvmStartMs) / 1000.0}%.1f s: $name")

  /** Parsed command line and the state a run accumulates. */
  final class Run(args: Map[String, String]) {
    val workload: String = args("workload")
    val seed: Long = args("seed").toLong
    val seconds: Double = args("seconds").toDouble
    val traced: Boolean = args.getOrElse("trace", "0") == "1"
    val work: Path = Paths.get(args("work"))
    val cores: Int = Runtime.getRuntime.availableProcessors()
    val metrics = mutable.LinkedHashMap.empty[String, Double]
    val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
    val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
    var attempted = 0L
    var failed = 0L
    /** Registry queries run: their oracle SQL and first timed row count. */
    val oracleSql = mutable.LinkedHashMap.empty[String, String]
    val timedRows = mutable.LinkedHashMap.empty[String, Long]
    private var ops0 = 0

    /** Operation ids are unique within a run, across workloads. */
    def nextOp(): Int = { ops0 += 1; ops0 - 1 }

    /** Record a check; a failed check is a failed operation. */
    def check(name: String, ok: Boolean, detail: String): Unit = {
      checks += ((name, ok, detail))
      attempted += 1
      if (!ok) failed += 1
    }

    /** Time one operation; its host signals go to the op log. */
    def timed[T](kind: String, op: Int, traced: Boolean)(body: => T): (T, Double) = {
      val mark = Host.mark()
      val t0 = now()
      val r = body
      val s = now() - t0
      ops += (Map("op" -> op, "kind" -> kind, "seconds" -> s, "traced" -> traced) ++ Host.since(mark))
      (r, s)
    }
  }

  def main(argv: Array[String]): Unit = {
    val args = argv.indices.collect {
      case i if argv(i).startsWith("--") =>
        argv(i).drop(2) -> argv.lift(i + 1).filterNot(_.startsWith("--")).getOrElse("")
    }.toMap
    Host.watchLiveHeap()
    val spark = graft.GraftSession.get(
      s"local[${Runtime.getRuntime.availableProcessors()}]",
      shufflePartitions = Runtime.getRuntime.availableProcessors())
    // the first job pays scheduler and codegen start-up: part of the session
    spark.range(1).count()
    val sessionS = (System.currentTimeMillis() - Host.jvmStartMs) / 1000.0
    phase("session ready")
    try {
      val run = new Run(args)
      Files.createDirectories(run.work)
      run.metrics("setup.session_s") = sessionS
      run.metrics("setup.generate_s") = args("gen-s").toDouble
      val trace = new Tracer(spark)
      val data = Paths.get(args("data"))
      def rebuild() = rebuildWorkload(spark, run, trace, data.resolve("rebuild"), args("expected"))
      val registryDir = data.resolve("interactive").toString
      def interactive() = registryWorkload(spark, run, trace, registryDir, "interactive",
        scala.io.Source.fromFile(args("queries"), "UTF-8").getLines()
          .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#")).toVector)
      def operators() = registryWorkload(spark, run, trace, registryDir, "operators", QueryBench.operators)
      run.workload match {
        case _ if run.traced => rebuild(); interactive(); operators(); hostMetrics(run)
        case "rebuild"       => rebuild()
        case "interactive"   => interactive()
        case w               => throw new IllegalArgumentException(s"unknown workload '$w'")
      }
      if (run.oracleSql.nonEmpty) {
        val check = Files.createDirectories(run.work.resolve("check"))
        Files.write(check.resolve("oracle_sql.json"), Json.render(run.oracleSql).getBytes(UTF_8))
        Files.write(check.resolve("timed_rows.json"), Json.render(run.timedRows).getBytes(UTF_8))
      }
      val names = if (run.traced) perLayer else endToEnd
      val result = Map(
        "correct" -> (run.failed == 0),
        "attempted" -> run.attempted,
        "failed" -> run.failed,
        "metrics" -> names.map { case (n, u) =>
          n -> Map("value" -> run.metrics.getOrElse(n, 0.0), "unit" -> u) }.toMap,
        "checks" -> run.checks.map { case (n, ok, d) => Map("name" -> n, "ok" -> ok, "detail" -> d) },
        "ops" -> run.ops)
      Files.write(Paths.get(args("result")), Json.render(result).getBytes(UTF_8))
      if (run.traced) args.get("trace-file").foreach(f => writeTrace(Paths.get(f), run, trace))
    } finally {
      spark.stop()
      phase("session stopped")
    }
  }

  // ------------------------------------------------------------------ rebuild

  private def rebuildWorkload(spark: SparkSession, run: Run, trace: Tracer,
      in: Path, expectedFile: String): Unit = {
    val out = run.work.resolve("out").toString
    val expected = RebuildBench.loadExpected(expectedFile)
    run.metrics("setup_s") = run.metrics("setup.session_s") + run.metrics("setup.generate_s")
    val (srcBytes, _) = RebuildBench.dirBytes(in)

    // each rebuild reads the workbook from its own path (see RebuildBench.inputs)
    var nextXlsx = 0
    def xlsxCopy(): String = {
      nextXlsx += 1
      val d = run.work.resolve(s"xlsx$nextXlsx")
      Files.createDirectories(d)
      Files.copy(in.resolve("resources/access_request_rebuild.xlsx"),
        d.resolve("access_request_rebuild.xlsx"), java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      d.toString
    }

    // one operation: the operator's rebuild, then the analyst's read-back
    case class Sample(op: Int, traced: Boolean, rebuildS: Double, readbackS: Double) {
      def seconds: Double = rebuildS + readbackS
    }
    val samples = mutable.ArrayBuffer.empty[Sample]
    var rollup = Map.empty[Int, Long]
    var filesScanned = 0L
    def once(op: Int, traced: Boolean): Unit = {
      val x = xlsxCopy()
      trace.set(traced)
      run.attempted += 1
      try {
        val (_, rs) = run.timed("rebuild", op, traced)(RebuildBench.rebuild(spark, in.toString, x, out, trace, op))
        val ((rb, files), bs) = run.timed("readback", op, traced)(RebuildBench.readback(spark, out, trace, op))
        rollup = rb
        filesScanned = files
        samples += Sample(op, traced, rs, bs)
      } catch {
        case e: Exception =>
          run.failed += 1
          System.err.println(s"[perfbench] rebuild op $op failed: $e")
          samples += Sample(op, traced, Double.PositiveInfinity, Double.PositiveInfinity)
      } finally trace.set(false)
    }

    // measured window: the cold operation — what a `synth rebuild` call in a
    // fresh JVM pays — then warm ones until the time is up. A traced run,
    // which runs every workload, makes only the cold one.
    val t0 = now()
    val overhead0 = trace.overheadSeconds
    once(run.nextOp(), run.traced)
    while (!run.traced && now() - t0 < run.seconds)
      once(run.nextOp(), run.traced)
    val wall = now() - t0
    phase("measured window done")
    if (!run.traced) memoryMetrics(run)
    val cold = samples.head
    run.metrics("cold_ms") = cold.seconds * 1000
    run.metrics("op_p50_ms") = median(samples.map(_.seconds)) * 1000
    run.metrics("op_p90_ms") = quantile(samples.map(_.seconds), 0.9) * 1000
    run.metrics("ops_per_s") = samples.count(_.seconds.isFinite) / wall

    // off the clock: check the written tables against the generator
    RebuildBench.checks(spark, out, expected, rollup).foreach((run.check _).tupled)
    val (outBytes, outFiles) = RebuildBench.dirBytes(Paths.get(out))
    run.metrics("sinks.bytes_ratio") = outBytes.toDouble / srcBytes
    run.metrics("sinks.files_written") = outFiles.toDouble
    phase("checks done")

    if (run.traced) {
      val spans = trace.spans
      val tracedOps = samples.filter(_.traced)
      def perOp(s: Sample, p: String => Boolean): Double =
        spans.filter(x => x.op == s.op && p(x.name)).map(_.seconds).sum
      def med(p: String => Boolean) = median(tracedOps.map(perOp(_, p)))
      run.metrics("rebuild.s") = median(tracedOps.map(_.rebuildS))
      run.metrics("readback.s") = median(tracedOps.map(_.readbackS))
      run.metrics("etl.run_s") = med(_ == "etl.run")
      RebuildBench.tables.foreach(t => run.metrics(s"etl.$t.write_s") = med(_ == s"etl.$t.write"))
      run.metrics("sources.read_s") = med(_ == "sources.read")
      run.metrics("sources.xlsx_s") = med(_ == "sources.xlsx")
      run.metrics("sinks.write_s") = med(_.endsWith(".write"))
      run.metrics("rebuild.accounted_share") = median(tracedOps.map(s =>
        perOp(s, n => n == "sources.read" || n == "etl.run" || n.endsWith(".write")) / s.rebuildS))
      def totals(s: Sample, p: String => Boolean): Counts =
        spans.filter(x => x.op == s.op && p(x.name)).foldLeft(new Counts)((c, x) => c.add(trace.total(x)))
      def medCount(p: String => Boolean)(f: Counts => Long) = median(tracedOps.map(s => f(totals(s, p)).toDouble))
      run.metrics("sinks.bytes_written") = medCount(_.endsWith(".write"))(_.outBytes)
      run.metrics("sinks.records_written") = medCount(_.endsWith(".write"))(_.outRecords)
      run.metrics("sources.rows_read_per_source_row") =
        medCount(_ == "rebuild")(_.inRecords) / expected.sourceRows
      run.metrics("readback.files_scanned") = filesScanned.toDouble
      run.metrics("readback.tasks") = medCount(_ == "readback")(_.tasks)
      runtimeMetrics(run, "rebuild", tracedOps.map(totals(_, _ == "rebuild")), tracedOps.map(_.rebuildS))
      run.metrics("rebuild.trace_overhead_share") =
        (trace.overheadSeconds - overhead0) / samples.map(_.seconds).sum
    }
  }

  // ---------------------------------------------------------------- registry

  /** Registry queries issued back to back by one client: the `interactive`
    * workload, and in a traced run the `operators` layer.
    *
    * `interactive` first executes every query once, writing its result for
    * the oracle check (run.py compares it, and its row count, with DuckDB),
    * then times passes that execute with `toRdd.count`. `operators` executes
    * every query once, in a seeded order, and that timed execution writes the
    * result for the oracle check: its spans are `operator.*`.
    */
  private def registryWorkload(spark: SparkSession, run: Run, trace: Tracer,
      dir: String, layer: String, names: Seq[String]): Unit = {
    val unknown = names.filterNot(graft.SparkEntry.queries.contains)
    require(unknown.isEmpty, s"not in the registry: ${unknown.mkString(", ")}")
    val interactive = layer == "interactive"
    val check = run.work.resolve("check")
    names.foreach(n => run.oracleSql(n) = graft.SparkEntry.oracleSql.get(n).orNull)
    def order(pass: Int) = new scala.util.Random(run.seed * 1000003L + pass * 31L + layer.hashCode).shuffle(names)

    if (interactive) {
      val first = mutable.ArrayBuffer.empty[Double]
      val firstT0 = now()
      names.foreach { n =>
        try {
          val (_, s) = run.timed(s"first:$n", run.nextOp(), traced = false) {
            graft.SparkEntry.queries(n)(spark, dir).write.mode("overwrite").parquet(check.resolve(n).toString)
          }
          first += s
        } catch {
          case e: Exception => run.check(s"first.$n", ok = false, s"first execution failed: $e")
        }
        QueryBench.cleanup(spark)
      }
      run.metrics("setup_s") =
        run.metrics("setup.session_s") + run.metrics("setup.generate_s") + (now() - firstT0)
      // the mean: one execution per query, and a mean of twenty drifts less
      // with the host than their median
      run.metrics("cold_ms") = first.sum / first.size * 1000
      phase("interactive: first executions done")
    }

    // measured window: seeded shuffles of the list, back to back — at least
    // two passes on `interactive`; one in a traced run, which runs every
    // workload, and on `operators`
    case class Sample(op: Int, name: String, pass: Int, e: Option[QueryBench.Exec], seconds: Double)
    val samples = mutable.ArrayBuffer.empty[Sample]
    val t0 = now()
    var pass = 0
    val overhead0 = trace.overheadSeconds
    trace.set(run.traced)
    while (if (run.traced || !interactive) pass < 1 else pass < 2 || now() - t0 < run.seconds) {
      order(pass).foreach { n =>
        val op = run.nextOp()
        run.attempted += 1
        val (e, s) = run.timed(n, op, run.traced) {
          try Some(
            if (interactive) QueryBench.run(spark, dir, n, trace, op, "query")
            else QueryBench.run(spark, dir, n, trace, op, "operator", Some(check.resolve(n).toString)))
          catch { case e: Exception => System.err.println(s"[perfbench] $n failed: $e"); None }
        }
        QueryBench.cleanup(spark)
        // the first timed count is the query's row count; a failed query or
        // a different count counts as infinite latency
        e.flatMap(_.rows).foreach(r => run.timedRows.getOrElseUpdate(n, r))
        val ok = e.exists(x => x.rows.forall(r => run.timedRows.get(n).contains(r)))
        if (!ok) run.failed += 1
        samples += Sample(op, n, pass, e, if (ok) s else Double.PositiveInfinity)
      }
      pass += 1
    }
    trace.set(false)
    val wall = now() - t0
    phase(s"$layer: measured window done")
    if (interactive) {
      if (!run.traced) memoryMetrics(run)
      // percentiles over the queries, each at its median over the passes
      val perQuery = samples.groupBy(_.name).values.map(ss => median(ss.map(_.seconds)))
      run.metrics("op_p50_ms") = median(perQuery) * 1000
      run.metrics("op_p90_ms") = quantile(perQuery, 0.9) * 1000
      run.metrics("ops_per_s") = samples.count(_.seconds.isFinite) / wall
    }
    if (!run.traced) return

    val span = if (interactive) "query" else "operator"
    val roots = trace.spans.filter(_.name == span).map(x => x.op -> trace.total(x)).toMap
    val traced = samples.filter(_.e.isDefined)
    val counts = traced.flatMap(s => roots.get(s.op))
    // per pass: one sweep of the client's list
    val passes = traced.groupBy(_.pass).values.toSeq
    runtimeMetrics(run, layer, passes.map(_.flatMap(s => roots.get(s.op)).foldLeft(new Counts)(_ add _)),
      passes.map(_.map(_.seconds).sum))
    run.metrics(s"$layer.trace_overhead_share") =
      (trace.overheadSeconds - overhead0) / samples.map(_.seconds).sum
    if (interactive) {
      def ms(f: QueryBench.Exec => Double) = median(traced.flatMap(_.e).map(f)) * 1000
      run.metrics("interactive.construct_ms_p50") = ms(_.constructS)
      run.metrics("interactive.plan_ms_p50") = ms(_.planS)
      run.metrics("interactive.exec_ms_p50") = ms(_.execS)
      def mean(f: Counts => Long) = counts.map(f(_).toDouble).sum / counts.size
      run.metrics("interactive.jobs_per_query") = mean(_.jobs)
      run.metrics("interactive.stages_per_query") = mean(_.stages)
      run.metrics("interactive.tasks_per_query") = mean(_.tasks)
      run.metrics("interactive.single_task_stages_per_query") = mean(_.singleTaskStages)
    } else {
      samples.foreach { s =>
        run.metrics(s"operators.${s.name}.s") = s.seconds
        run.metrics(s"operators.${s.name}.construct_s") = s.e.map(_.constructS).getOrElse(Double.NaN)
        run.metrics(s"operators.${s.name}.shuffle_bytes") =
          roots.get(s.op).map(_.shuffleWrite.toDouble).getOrElse(Double.NaN)
      }
      run.metrics("operators.single_task_stages") = counts.map(_.singleTaskStages).sum.toDouble
    }
  }

  // ------------------------------------------------------------------ shared

  /** Spark runtime totals per operation (rebuild) or per pass (interactive). */
  private def runtimeMetrics(run: Run, prefix: String, counts: collection.Seq[Counts],
      walls: collection.Seq[Double]): Unit = {
    def med(f: Counts => Double) = median(counts.map(f))
    run.metrics(s"$prefix.jobs") = med(_.jobs.toDouble)
    run.metrics(s"$prefix.tasks") = med(_.tasks.toDouble)
    run.metrics(s"$prefix.executor_run_s") = med(_.runMs / 1000.0)
    run.metrics(s"$prefix.executor_cpu_s") = med(_.cpuNs / 1e9)
    run.metrics(s"$prefix.shuffle_write_bytes") = med(_.shuffleWrite.toDouble)
    run.metrics(s"$prefix.spill_bytes") = med(_.spill.toDouble)
    run.metrics(s"$prefix.gc_s") = med(_.gcMs / 1000.0)
    run.metrics(s"$prefix.task_busy_share") =
      median(counts.zip(walls).map { case (c, w) => c.runMs / 1000.0 / (w * run.cores) })
  }

  /** Read right after the measured window, before the off-clock checks. The
    * peaks (per-layer, read at the end of a traced run) follow when the
    * collector ran and how far it grew the heap, so the end-to-end memory
    * metric is the heap still in use after a full collection: what the
    * session keeps alive between operations.
    */
  private def memoryMetrics(run: Run): Unit =
    run.metrics("retained_heap_mb") = retainedHeapMb()

  /** Heap in use once collections stop freeing memory: Spark's context
    * cleaner releases blocks of unreachable RDDs and broadcasts only after a
    * collection has found them, so one collection is not enough.
    */
  private def retainedHeapMb(): Double = {
    val heap = java.lang.management.ManagementFactory.getMemoryMXBean
    var prev = Long.MaxValue
    var used = heap.getHeapMemoryUsage.getUsed
    var i = 0
    while (i < 6 && used < prev - prev / 100) {
      prev = used
      System.gc()
      Thread.sleep(200)
      used = heap.getHeapMemoryUsage.getUsed
      i += 1
    }
    used / 1048576.0
  }

  /** Steal as a share of the CPU time the timed operations had, load, and
    * the memory peaks of the whole run.
    */
  private def hostMetrics(run: Run): Unit = {
    run.metrics("jvm.peak_live_heap_mb") = Host.peakLiveHeapMb
    run.metrics("host.peak_rss_mb") = Host.peakRssMb
    def num(k: String) = run.ops.flatMap(_.get(k)).collect { case d: Double => d }
    run.metrics("host.steal_share") = num("steal_s").sum / (num("seconds").sum * run.cores)
    run.metrics("host.load_1m") = median(num("load_1m"))
  }

  /** Spans with self time, counts and host signals, plus self time per layer. */
  private def writeTrace(path: Path, run: Run, trace: Tracer): Unit = {
    val spans = trace.spans
    val t0 = spans.map(_.startNs).foldLeft(Long.MaxValue)(math.min)
    val bySelf = spans.groupBy(_.name.takeWhile(_ != '.'))
      .map { case (layer, ss) => layer -> ss.map(trace.selfSeconds).sum }
    Files.createDirectories(path.getParent)
    Files.write(path, Json.render(Map(
      "workload" -> run.workload, "seed" -> run.seed, "cores" -> run.cores,
      "self_s_by_layer" -> bySelf,
      "metrics" -> run.metrics,
      "ops" -> run.ops,
      "spans" -> spans.map(s => Map(
        "id" -> s.id, "op" -> s.op, "name" -> s.name, "parent" -> s.parent,
        "start_ms" -> (s.startNs - t0) / 1e6, "end_ms" -> (s.endNs - t0) / 1e6,
        "self_ms" -> trace.selfSeconds(s) * 1000, "counts" -> s.counts.toMap, "host" -> s.host)))
    ).getBytes(UTF_8))
  }
}
