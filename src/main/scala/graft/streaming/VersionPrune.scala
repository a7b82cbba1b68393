package graft.streaming

import org.apache.spark.sql.SparkSession

/** Retention for the versioned SNAPSHOT stores ([[StreamingRollup]],
  * [[StreamingHeavyHitters]], [[IncrementalPipeline]]'s dim store) —
  * the counterpart of [[StoreCompaction]], which serves the per-batch
  * APPEND stores. Every batch of a snapshot store writes a FULL new
  * `v<batchId>` directory and readers only consume the latest, so a
  * long-lived stream accumulates dead history until listing and disk
  * — not data — dominate.
  *
  * Replay safety sets the floor: a batch replayed after a crash
  * rebuilds from versions strictly BELOW its id
  * ([[IncrementalPipeline.readLatestDim]]'s contract), so the newest
  * version's PREDECESSOR must survive pruning until the newest
  * batch's checkpoint commit is certain — `keep = 2` (the default)
  * retains exactly that pair. Crash safety of the prune itself:
  * deletion runs oldest-first and never touches the retained set, so
  * an interrupted prune leaves a store every reader and replay still
  * accepts, and a re-run converges.
  *
  * [[versions]] is the one `v<N>` listing every snapshot-store reader
  * and the prune share; [[batchIdOf]] is the one parser of the batch id
  * in a store entry's name, shared with [[StoreCompaction]].
  */
object VersionPrune {

  private val CanonicalId = "0|[1-9][0-9]*"

  /** The batch id in store entry `name` after `prefix` (`v` for snapshot
    * versions, `batch_id=` for append-tree directories). Only the names
    * writers produce count — the prefix plus a batch id's decimal
    * digits, no sign or leading zero; anything else (`vtmp`,
    * `batch_id=tmp`, a bare prefix) is None, never parsed. */
  private[streaming] def batchIdOf(name: String, prefix: String): Option[Long] =
    if (!name.startsWith(prefix)) None
    else Some(name.drop(prefix.length)).filter(_.matches(CanonicalId))
      .flatMap(_.toLongOption)

  /** The `v<N>` snapshot ids under `storePath` strictly below
    * `beforeVersion`, ascending — one `exists` and one `listStatus`.
    * A stray entry ([[batchIdOf]] None) is ignored. Empty on a missing
    * store. The filesystem is resolved from the store path, not the
    * default FS — a store on a non-default scheme (s3a:// with a local
    * default) would otherwise "not exist". */
  def versions(
      spark: SparkSession,
      storePath: String,
      beforeVersion: Long = Long.MaxValue): Seq[Long] = {
    val base = new org.apache.hadoop.fs.Path(storePath)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(base)) Seq.empty
    else fs.listStatus(base).toSeq
      .flatMap(s => batchIdOf(s.getPath.getName, "v"))
      .filter(_ < beforeVersion)
      .sorted
  }

  /** Delete all but the newest `keep` versions. Returns the pruned
    * version ids (oldest first). No-op on a missing store. */
  def keepLatest(
      spark: SparkSession,
      storePath: String,
      keep: Int = 2): Seq[Long] = {
    require(keep >= 1, s"keep must be >= 1, got $keep")
    val doomed = versions(spark, storePath).dropRight(keep)
    val fs = new org.apache.hadoop.fs.Path(storePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    doomed.foreach { v =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$storePath/v$v"), true)
    }
    doomed
  }
}
