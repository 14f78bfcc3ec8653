package graft

import org.apache.spark.sql.catalyst.plans.physical.{RangePartitioning, SinglePartition}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{CoalesceExec, FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, ShuffleExchangeExec}
import org.apache.spark.sql.internal.SQLConf

/** Two physical planning rules that let a query over small inputs run
  * without the shuffles AQE would coalesce to one partition anyway.
  *
  * Both use one threshold, AQE's own floor under a coalesced partition:
  * `spark.sql.adaptive.coalescePartitions.minPartitionSize` (1 MiB by
  * default), read from the session conf when the rule runs. An input under
  * it would land in one post-shuffle partition, so the shuffle moves the
  * rows without buying any parallelism. Inputs over it keep their
  * exchanges, so a plan at scale is the plan Spark would make. Both rules
  * run only inside adaptive execution (`AdaptiveSparkPlanExec` is what
  * applies post-planner and query-stage-prep rules).
  *
  *  - [[SingleFileScan]] (post-planner, before `EnsureRequirements`): a
  *    non-bucketed, non-streaming parquet/file scan of exactly one file of at
  *    most the threshold is already one split. Wrapped in `CoalesceExec(1)`
  *    it reports `SinglePartition`, so aggregates, windows, global sorts and
  *    joins between such scans need no exchange above it. The scan runs the
  *    same one task with the same partition id, so
  *    `monotonically_increasing_id()` and `spark_partition_id()` read the
  *    same values.
  *  - [[SmallRangeShuffle]] (query-stage prep, after `EnsureRequirements`):
  *    a range shuffle that `EnsureRequirements` added for a global sort, over
  *    an input whose logical size is at most the threshold, becomes a
  *    `SinglePartition` shuffle. The sort above it gives the same global
  *    order without the job that samples range bounds. Once a stage below has
  *    run, the size is its runtime size. `repartitionByRange` shuffles are a
  *    user's request for partitions and are left alone.
  */
object SmallInputPlanning {
  private def threshold(conf: SQLConf): Long =
    conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE)

  /** One file, at most the threshold, and one split: a file is split only
    * above Spark's max split size, which is never below the smaller of
    * `maxPartitionBytes` and `openCostInBytes` (4 MiB by default).
    */
  private def oneSmallSplit(scan: FileSourceScanExec, conf: SQLConf): Boolean =
    scan.stream.isEmpty && !scan.bucketedScan && {
      val files = scan.selectedPartitions
      val limit = Seq(threshold(conf), conf.filesMaxPartitionBytes, conf.filesOpenCostInBytes).min
      files.totalNumberOfFiles == 1 && files.totalFileSize <= limit
    }

  /** Idempotent: the build side of a dynamic-pruning subquery comes back
    * through this rule already wrapped, and wrapping it twice would keep
    * the subquery from reusing the main plan's broadcast.
    */
  object SingleFileScan extends Rule[SparkPlan] {
    override def apply(plan: SparkPlan): SparkPlan = plan match {
      case wrapped @ CoalesceExec(1, _: FileSourceScanExec) => wrapped
      case scan: FileSourceScanExec if oneSmallSplit(scan, conf) => CoalesceExec(1, scan)
      case other => other.mapChildren(apply)
    }
  }

  object SmallRangeShuffle extends Rule[SparkPlan] {
    override def apply(plan: SparkPlan): SparkPlan = {
      val limit = threshold(conf)
      plan.transformUp {
        case e @ ShuffleExchangeExec(_: RangePartitioning, child, ENSURE_REQUIREMENTS, _)
            if child.logicalLink.exists(_.stats.sizeInBytes <= limit) =>
          e.copy(outputPartitioning = SinglePartition)
      }
    }
  }
}
