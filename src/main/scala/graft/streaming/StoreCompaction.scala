package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** Directory compaction for the per-batch append trees the incremental
  * stores write ([[StreamingNearDedup]], [[StreamingAnnIndex]]) — the
  * LSM-style answer to the small-files problem those stores otherwise
  * accumulate: one `batch_id=N` directory per micro-batch means 10⁵
  * batches = 10⁵ directories × files-per-write, and at that point FILE
  * LISTING — not data — dominates every history read. Compaction folds
  * every `batch_id ≤ upto` directory into ONE `batch_id=upto`
  * directory (repartitioned to one file per inner partition value),
  * preserving the tree's partition-column layout so readers change
  * nothing: compacted rows still satisfy every `batch_id < current`
  * history filter because `upto` is below any future batch id.
  *
  * Crash safety without atomic directory swaps: the compacted copy is
  * first written to a DOT-PREFIXED staging directory (ignored by
  * parquet discovery, so concurrent readers never see a half state),
  * gated on its `_SUCCESS` marker; only then are the source
  * directories deleted and the staging directory renamed into place. A
  * rerun after a crash at ANY point converges: staging incomplete →
  * rebuilt from the still-present sources; staging complete → sources
  * deleted (again) and the rename redone; already renamed → the tree
  * has one batch directory ≤ upto and the call is a no-op.
  *
  * Contract: `upto` must not exceed the stream's last COMMITTED batch
  * id — the engine replays at most the batch after the last commit,
  * and a replay of a compacted-away id would resurrect its directory
  * beside the compacted copy. */
object StoreCompaction {

  /** Fold every `batch_id ≤ upto` directory of `treePath` into
    * `batch_id=upto`. `innerPartition` names the partition column
    * nested INSIDE the batch directories (`rng`, `cid`), or None for a
    * flat tree. No-op when ≤ 1 source directory exists. */
  def compactTree(
      spark: SparkSession,
      treePath: String,
      upto: Long,
      innerPartition: Option[String]): Unit = {
    val root = new Path(treePath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return

    // a stray `batch_id=<not an id>` entry is neither read nor deleted
    def sourceDirs() = fs.listStatus(root).toSeq
      .filter(s => s.isDirectory &&
        VersionPrune.batchIdOf(s.getPath.getName, "batch_id=").exists(_ <= upto))
      .map(_.getPath)

    val staging = new Path(root, s".compact_upto=$upto")
    val done = new Path(staging, "_SUCCESS")
    if (!fs.exists(done)) {
      val dirs = sourceDirs()
      if (dirs.size <= 1) return
      val src = graft.sources.Parquet
        .readTree(spark, treePath, dirs.map(_.toString): _*)
      val dataCols = src.columns.filter(_ != "batch_id").map(col)
      val compacted = src.select(dataCols: _*)
      val laidOut = innerPartition match {
        // one task per inner value -> one file per inner directory
        case Some(p) => compacted.repartition(col(p))
          .write.partitionBy(p)
        // flat tree: keep the read parallelism (corpus-scale rows —
        // collapsing to one file would serialize the write)
        case None => compacted.write
      }
      laidOut.mode("overwrite").parquet(staging.toString)
    }
    sourceDirs().foreach(fs.delete(_, true))
    // the sources are gone: a failed rename would leave the compacted
    // rows hidden in the dot-prefixed staging directory
    val target = new Path(root, s"batch_id=$upto")
    if (!fs.rename(staging, target))
      throw new java.io.IOException(
        s"StoreCompaction: could not rename $staging to $target")
  }
}
