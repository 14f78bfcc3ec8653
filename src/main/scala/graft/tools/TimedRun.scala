package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one rule for a timed registry run, shared by `Bench`, `Steady`,
  * `JobProfile`, `Explain` and (for the drain) `Verify`: execute through
  * `toRdd.count()`, drain both caches off-clock, and record the steal / GC
  * / load triple per run. Artifact numbers format through [[num]].
  */
object TimedRun {
  /** Seconds (-1.0 on failure), steal jiffies and GC ms over the run (-1
    * when a clock was unreadable), host 1-min load at its end, output rows.
    */
  final case class Run(sec: Double, steal: Long, gc: Long, load: Double,
      rows: Long = -1L, error: Option[Throwable] = None) {
    /** This run, or its failure rethrown — for tools that stop at the first. */
    def orThrow: Run = { error.foreach(e => throw e); this }
  }

  // Hypervisor steal clock: /proc/stat's 8th cpu field, in jiffies. The
  // host episodically loses ALL vCPUs for ~2 s bursts while the guest's
  // thread-CPU clocks keep ticking, so a slow run with steal ≫ 0 is the
  // host's, not the engine's.
  private def stealJiffies: Long =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().take(1).toSeq.headOption
        .map(_.trim.split("\\s+")).filter(_.length > 8).map(_(8).toLong)
        .getOrElse(-1L)
      finally src.close()
    } catch { case scala.util.control.NonFatal(_) => -1L }

  // Cumulative JVM GC ms across all collectors: a slow run with steal ≈ 0,
  // gc ≈ 0 and a flat load is the engine's fault.
  private def gcMillis: Long =
    try {
      val it = java.lang.management.ManagementFactory
        .getGarbageCollectorMXBeans.iterator()
      var sum = 0L
      while (it.hasNext) { val t = it.next().getCollectionTime; if (t > 0) sum += t }
      sum
    } catch { case scala.util.control.NonFatal(_) => -1L }

  def loadAvg: Double = java.lang.management.ManagementFactory
    .getOperatingSystemMXBean.getSystemLoadAverage

  /** Steal/GC clocks read now; `steal`/`gc` are deltas since (-1: unreadable). */
  final class Mark {
    private val s0 = stealJiffies
    private val g0 = gcMillis
    private def delta(a: Long, b: Long) = if (a < 0 || b < 0) -1L else b - a
    def steal: Long = delta(s0, stealJiffies)
    def gc: Long = delta(g0, gcMillis)
  }

  /** Build and execute `query` on the clock (by-name: construction's eager
    * checkpoints and index builds count), then [[drain]] off it. A failure
    * is returned in `error`, not thrown.
    */
  def once(spark: SparkSession)(query: => DataFrame): Run = {
    val m = new Mark
    val t0 = System.nanoTime()
    // toRdd.count(), NOT count(): count() wraps the query in a new
    // Aggregate and re-optimizes, letting Catalyst ELIMINATE real work —
    // left joins with unique right keys drop out (text_span_dup: 0.5 s
    // under count() vs 12 s real) and unused columns prune to a bare scan.
    val (rows, error) =
      try (query.queryExecution.toRdd.count(), None)
      catch { case e: Throwable => (-1L, Some(e)) }
    val sec = (System.nanoTime() - t0) / 1e9
    val run = Run(if (error.isEmpty) sec else -1.0, m.steal, m.gc, loadAvg, rows, error)
    drain(spark)
    run
  }

  /** Drop the SQL cache, then BLOCKING-unpersist every persistent RDD: the
    * localCheckpoint blocks of the iterative kernels and pre-sort cuts are
    * outside the SQL cache and otherwise linger until the async
    * ContextCleaner gets to them (the query after a checkpoint-heavy one
    * ran up to 4× slow: events_anomaly 4.6 s in-suite vs 1.0 s standalone).
    *
    * INVARIANT (why the blanket sweep is safe, even for locally-checkpointed
    * RDDs whose truncated lineage cannot recompute them): no DataFrame,
    * cached table or checkpoint is ever shared ACROSS queries in a session —
    * every query function builds its frames from the sfDir parquet inputs,
    * and `ensureIndex` state lives on DISK, not in RDD blocks. A
    * session-level cached frame would break this sweep (its next use would
    * fail to recompute) — keep cross-query state on disk.
    */
  def drain(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  /** Locale.ROOT: a comma decimal separator would corrupt a JSON artifact. */
  def num(d: Double): String = String.format(java.util.Locale.ROOT, "%.3f", Double.box(d))

  /** Middle element, or the mean of the two middles for an even count. */
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }
}
