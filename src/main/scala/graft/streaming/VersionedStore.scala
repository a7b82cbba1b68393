package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

/** The one store contract every streaming module shares: a store is a
  * directory of `v<N>` entries, one per micro-batch id, and batch n
  * only ever READS entries strictly below n and WRITES (overwrites)
  * `v<n>`. A replayed batch id — the engine redelivers the batch after
  * its last commit on restart — therefore recomputes from the same
  * inputs and rewrites the same entry instead of reading, or
  * double-applying, its own failed attempt's output.
  *
  * Two store shapes ride on that rule:
  *
  *   - SNAPSHOT stores ([[fold]]): every `v<N>` is the full state after
  *     batch N, rebuilt from the latest version below N (the paper's
  *     incremental SCD path: rebuild from the last committed state,
  *     then write this batch's result). Retention is
  *     [[VersionPrune.keepLatest]] (floor 2: the predecessor must
  *     survive for a replay).
  *   - SEGMENT stores ([[segments]] + [[writeSegment]]): every `v<N>`
  *     holds only what batch N introduced, and readers union the
  *     segments below the batch.
  *
  * [[start]] is the only `foreachBatch` wiring: checkpoint-tracked
  * batch ids plus this replay rule give exactly-once store semantics,
  * so each module supplies only its per-batch kernel. */
object VersionedStore {

  /** Fold `batch` into a snapshot store: read the latest version
    * strictly below `batchId` ([[IncrementalPipeline.readLatestDim]];
    * `empty` when there is none), apply `next`, and overwrite
    * `v$batchId`. A leftover `v$batchId` from a failed attempt is never
    * read. */
  def fold(
      batch: DataFrame,
      batchId: Long,
      storePath: String,
      empty: => DataFrame)(next: DataFrame => DataFrame): Unit = {
    val prior = IncrementalPipeline.readLatestDim(
      batch.sparkSession, storePath, empty, beforeVersion = batchId)
    writeSegment(next(prior), storePath, batchId)
  }

  /** Overwrite entry `v$batchId` of the store at `path`. */
  def writeSegment(df: DataFrame, path: String, batchId: Long): Unit =
    df.write.mode("overwrite").parquet(s"$path/v$batchId")

  /** The union of every `v<N>` under `path` with N below `before`, read
    * as one scan over the versions in ascending order; None on an empty
    * or missing store. */
  def segments(
      spark: SparkSession,
      path: String,
      before: Long = Long.MaxValue): Option[DataFrame] = {
    val paths = VersionPrune.versions(spark, path, before).map(v => s"$path/v$v")
    if (paths.isEmpty) None else Some(graft.sources.Parquet.read(spark, paths: _*))
  }

  /** Run `kernel(batch, batchId)` on every micro-batch of `stream`,
    * with the engine's progress checkpointed under `checkpoint`. */
  def start(stream: DataFrame, checkpoint: String)(
      kernel: (DataFrame, Long) => Unit): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        kernel(batch, batchId)
      }
      .start()
}
