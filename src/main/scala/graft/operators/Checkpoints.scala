package graft.operators

import org.apache.spark.sql.DataFrame

/** Lineage truncation for iterative kernels (PageRank/HITS/label
  * propagation rounds, the pointer-jump CC core): each round's frame
  * feeds the next round's joins, so without truncation the logical plan
  * grows per round (~3^k for PageRank, which references the rank vector
  * three times) and planning time chokes long before data does.
  *
  * TWO durability tiers behind one call:
  *
  *  - `localCheckpoint()` (eager) when no checkpoint dir is configured —
  *    blocks live on executors, zero I/O beyond the shuffle. Right for
  *    single-JVM local runs (tests, the bench): there is no executor
  *    loss to survive.
  *  - reliable `checkpoint()` (eager) when the session's SparkContext
  *    HAS a checkpoint dir (`sc.setCheckpointDir(...)` /
  *    `spark.checkpoint.dir`) — blocks are written to the fault-tolerant
  *    store, so on a real cluster an executor loss mid-iteration recovers
  *    from the checkpoint instead of killing the job: a localCheckpoint's
  *    blocks die with their executor AND the truncated lineage means
  *    nothing can recompute them. At 100 TB an iterative job outliving
  *    a preempted executor is the difference between a retry of one
  *    stage and a rerun of the whole chain.
  *
  * Both paths are EAGER and both preserve the frame's physical layout
  * (`Dataset.checkpoint`/`localCheckpoint` keep outputPartitioning in
  * the LogicalRDD they return), so the iterative kernels' reuse of the
  * node/src hash layout across rounds — the no-reshuffle-per-round
  * invariant — holds under either tier.
  *
  * [[materialized]] is the in-memory sibling for a frame with several
  * consumers in one query: persist and count, lineage kept.
  */
object Checkpoints {
  /** Persist AND eagerly materialize a frame that has several downstream
    * consumers. persist() alone is lazy: when one action has three stages
    * reading the cache, the first tasks of each stage race to compute the
    * same blocks (`Block rdd_N already exists` churn — observed tripling
    * the most expensive map stage of the r4 minhash plan). The count()
    * forces a single computation before any consumer starts. At scale this
    * is the in-session analog of writing an intermediate table.
    *
    * Lifetime contract: the cache lives until the session drops it — the
    * returned frame feeds lazy consumers, so this function cannot
    * unpersist. Verify/Bench call `spark.catalog.clearCache()` after
    * every query; a long-lived caller looping over corpora must do the
    * same (or unpersist the operator's result lineage) or caches
    * accumulate.
    */
  private[operators] def materialized(df: DataFrame): DataFrame = {
    val p = df.persist()
    p.count()
    p
  }

  implicit final class LineageOps(private val df: DataFrame) extends AnyVal {
    /** Eagerly materialize and truncate lineage — reliable when the
      * context has a checkpoint dir, local otherwise.
      */
    def cutLineage(): DataFrame =
      if (df.sparkSession.sparkContext.getCheckpointDir.isDefined)
        df.checkpoint()
      else df.localCheckpoint()
  }
}
