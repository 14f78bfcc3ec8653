package perfbench

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** Host signals recorded around every timed operation: hypervisor steal
  * (`/proc/stat`), JVM GC time and the 1-minute load average. A slow run
  * with steal or GC well above zero is noise, not a regression.
  */
object Host {
  final case class Mark(stealJiffies: Long, gcMs: Long)

  private def stealJiffies: Long =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().next().trim.split("\\s+").lift(8).map(_.toLong).getOrElse(-1L)
      finally src.close()
    } catch { case scala.util.control.NonFatal(_) => -1L }

  private def gcMs: Long = {
    var sum = 0L
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .forEach(b => sum += math.max(0L, b.getCollectionTime))
    sum
  }

  def mark(): Mark = Mark(stealJiffies, gcMs)

  /** Steal seconds, GC seconds and load since `m`; unknown steal is null. */
  def since(m: Mark): Map[String, Any] = {
    val s1 = stealJiffies
    Map(
      "steal_s" -> (if (m.stealJiffies < 0 || s1 < 0) null else (s1 - m.stealJiffies) / 100.0),
      "gc_s" -> (gcMs - m.gcMs) / 1000.0,
      "load_1m" -> java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage)
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
    finally src.close()
  }

  def jvmStartMs: Long = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

  /** Largest heap occupancy right after a collection since [[watchLiveHeap]]:
    * the peak live set, in MB. Unlike the resident set it does not follow how
    * far the collector chose to grow the heap.
    */
  def peakLiveHeapMb: Double = peakLive / 1048576.0
  @volatile private var peakLive = 0L

  def watchLiveHeap(): Unit = {
    import com.sun.management.GarbageCollectionNotificationInfo
    import java.lang.management.{ManagementFactory, MemoryType}
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.toArray
      .collect { case p: java.lang.management.MemoryPoolMXBean if p.getType == MemoryType.HEAP => p.getName }
      .toSet
    ManagementFactory.getGarbageCollectorMXBeans.forEach {
      case e: javax.management.NotificationEmitter =>
        e.addNotificationListener((n: javax.management.Notification, _: Any) =>
          if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = GarbageCollectionNotificationInfo.from(
              n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
            var used = 0L
            info.getGcInfo.getMemoryUsageAfterGc.forEach((pool, u) => if (heapPools(pool)) used += u.getUsed)
            synchronized { if (used > peakLive) peakLive = used }
          }, null, null)
      case _ => ()
    }
  }
}

/** Spark work attributed to one job group. */
final class Counts {
  var jobs, stages, singleTaskStages, tasks = 0L
  var runMs, cpuNs, gcMs, shuffleWrite, shuffleRead, spill = 0L
  var inRecords, inBytes, outRecords, outBytes = 0L

  def add(o: Counts): Counts = {
    jobs += o.jobs; stages += o.stages; singleTaskStages += o.singleTaskStages; tasks += o.tasks
    runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead; spill += o.spill
    inRecords += o.inRecords; inBytes += o.inBytes; outRecords += o.outRecords; outBytes += o.outBytes
    this
  }

  def toMap: Map[String, Any] = Map(
    "jobs" -> jobs, "stages" -> stages, "single_task_stages" -> singleTaskStages,
    "tasks" -> tasks, "executor_run_s" -> runMs / 1000.0, "executor_cpu_s" -> cpuNs / 1e9,
    "gc_s" -> gcMs / 1000.0, "shuffle_write_bytes" -> shuffleWrite,
    "shuffle_read_bytes" -> shuffleRead, "spill_bytes" -> spill,
    "records_read" -> inRecords, "bytes_read" -> inBytes,
    "records_written" -> outRecords, "bytes_written" -> outBytes)
}

/** Counts jobs, stages and task metrics per job group. Only the benchmark
  * registers it, and only for traced operations.
  */
final class GroupListener extends SparkListener {
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val byGroup = new ConcurrentHashMap[String, Counts]()
  private def counts(g: String): Counts = byGroup.computeIfAbsent(g, _ => new Counts)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    e.stageIds.foreach(stageGroup.put(_, g))
    counts(g).synchronized(counts(g).jobs += 1)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val c = counts(stageGroup.getOrDefault(e.stageInfo.stageId, ""))
    c.synchronized {
      c.stages += 1
      if (e.stageInfo.numTasks == 1) c.singleTaskStages += 1
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val c = counts(stageGroup.getOrDefault(e.stageId, ""))
    val m = e.taskMetrics
    c.synchronized {
      c.tasks += 1
      if (m != null) {
        c.runMs += m.executorRunTime; c.cpuNs += m.executorCpuTime; c.gcMs += m.jvmGCTime
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        c.inRecords += m.inputMetrics.recordsRead; c.inBytes += m.inputMetrics.bytesRead
        c.outRecords += m.outputMetrics.recordsWritten; c.outBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  def take(group: String): Counts = Option(byGroup.remove(group)).getOrElse(new Counts)
}

/** Span recorder. Spans carry name, start, end, parent and the id of the
  * operation they belong to; each span runs its Spark jobs under its own job
  * group, so the listener's counts are attached at the span's boundaries.
  * Spans stay in memory until [[spans]] is read at the end of the run.
  *
  * With tracing off (`on = false`) a span only runs its body: no listener,
  * no job groups, no clock reads. With it on, the time a span spends on its
  * own bookkeeping (host signals, job groups, waiting for the listener bus)
  * adds up in [[overheadSeconds]]: the cost tracing puts on the measured path.
  */
final class Tracer(spark: SparkSession) {
  final case class Span(id: Int, op: Int, name: String, parent: Int,
      startNs: Long, endNs: Long, counts: Counts, host: Map[String, Any]) {
    def seconds: Double = (endNs - startNs) / 1e9
  }

  private val sc = spark.sparkContext
  private val listener = new GroupListener
  private val recorded = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  private var _on = false
  private var overheadNs = 0L

  def overheadSeconds: Double = overheadNs / 1e9

  def on: Boolean = _on

  /** Switch tracing on or off between operations. */
  def set(enabled: Boolean): Unit = if (enabled != _on) {
    if (enabled) sc.addSparkListener(listener) else sc.removeSparkListener(listener)
    _on = enabled
  }

  def span[T](name: String, op: Int)(body: => T): T =
    if (!_on) body
    else {
      val enter = System.nanoTime()
      nextId += 1
      val id = nextId
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      sc.setJobGroup(s"span-$id", name)
      val mark = Host.mark()
      val t0 = System.nanoTime()
      overheadNs += t0 - enter
      try body
      finally {
        val t1 = System.nanoTime()
        org.apache.spark.PerfbenchBus.drain(sc)
        recorded += Span(id, op, name, parent, t0, t1, listener.take(s"span-$id"), Host.since(mark))
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(s"span-$p", "")
          case None    => sc.clearJobGroup()
        }
        overheadNs += System.nanoTime() - t1
      }
    }

  def spans: Seq[Span] = recorded.toSeq

  /** A span's counts plus those of all its descendants. */
  def total(s: Span): Counts = {
    val c = new Counts().add(s.counts)
    recorded.filter(_.parent == s.id).foreach(ch => c.add(total(ch)))
    c
  }

  /** Span duration minus the time its children cover (children run
    * sequentially on the calling thread, so their intervals do not overlap).
    */
  def selfSeconds(s: Span): Double =
    s.seconds - recorded.filter(_.parent == s.id).map(_.seconds).sum
}
