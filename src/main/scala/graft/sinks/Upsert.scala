package graft.sinks

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Keyed upsert (MERGE) over parquet tables: new versions of existing keys
  * replace the stored rows, unseen keys insert.
  *
  * This is the copy-on-write shape ([[merged]] → overwrite): rewrite the
  * base minus updated keys, union the updates. One anti-join (the updates'
  * key set broadcasts when batch-sized); the read path stays a plain scan.
  * The merge-on-read shape, version-stamped appends resolved per key at
  * read time, is the streamed changelog [[graft.streaming.UpsertIngest]].
  *
  * The updates carry one row per key (enforced nowhere here — duplicate
  * keys in one batch are the caller's bug, flagged by
  * [[graft.operators.Expectations]]-style uniqueness checks upstream).
  */
object Upsert {

  /** Copy-on-write merge: base rows whose key is NOT updated + all update
    * rows. Schemas must match.
    */
  def merged(base: DataFrame, updates: DataFrame, keyCol: String): DataFrame =
    base.join(updates.select(col(keyCol)), Seq(keyCol), "left_anti")
      .unionByName(updates)
}
