package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.lit
import graft.etl.IncrementalAgg

/** Streaming materialized-rollup maintenance — the streaming tier of
  * [[graft.etl.IncrementalAgg]] (q89's operator): each micro-batch
  * folds into the latest rollup snapshot with `mergeRollup`, so the
  * dashboard aggregate stays current at O(|batch| + |snapshot|) per
  * trigger, never rescanning history.
  *
  * Why a [[VersionedStore]] snapshot store and not a streaming
  * aggregation sink: a native streaming `groupBy().agg()` in update mode
  * holds every group in the state store FOREVER (rollup keys never
  * expire) and cannot serve the snapshot as one consistent table; every
  * store version IS a full queryable rollup, and the store's replay rule
  * keeps a retried batch from double-applying itself.
  */
object StreamingRollup {

  /** The per-batch kernel: `mergeRollup` folded into the snapshot store
    * ([[VersionedStore.fold]]). Pure DataFrame logic, unit-testable
    * without a streaming context. */
  def runBatch(
      batch: DataFrame,
      batchId: Long,
      keys: Seq[String],
      measures: Seq[(String, Column)],
      storePath: String): Unit =
    VersionedStore.fold(batch, batchId, storePath,
        IncrementalAgg.rollup(batch, keys, measures).where(lit(false)))(
      IncrementalAgg.mergeRollup(_, batch, keys, measures))

  /** Retention: drop all but the newest `keep` snapshot versions
    * ([[VersionPrune.keepLatest]]; `keep = 2` floor — replay rebuilds
    * from the predecessor version). */
  def prune(spark: org.apache.spark.sql.SparkSession, storePath: String,
      keep: Int = 2): Seq[Long] =
    VersionPrune.keepLatest(spark, storePath, keep)
}
