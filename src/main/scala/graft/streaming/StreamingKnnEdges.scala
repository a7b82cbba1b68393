package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sim.KnnEdgeStore

/** Streaming maintenance of the persisted kNN-edge store
  * ([[graft.sim.KnnEdgeStore]]) — the continuous-ingest tier for the
  * graph-consuming pipeline (triple mining, semantic cluster collapse).
  *
  * An edge SET is not append-mergeable: a new vector changes OTHER
  * nodes' top-k, so per-batch work splits into the two costs a
  * production system actually pays —
  *
  *   - **vector append** (every batch, O(|batch|)): new vectors land
  *     under `vectors/batch_id=N` (overwrite → a replayed batch id
  *     reproduces its rows, the [[StreamingAnnIndex]] contract);
  *   - **edge refresh** (every `refreshEvery` batches, O(corpus)): a
  *     full [[graft.sim.Ann.knnGraph]] rebuild over all vectors with
  *     `batch_id ≤` the refreshing batch, written as edge snapshot
  *     `v<batchId>` — replay-safe because the vector read is pinned to
  *     the batch id, so a replayed refresh sees the identical corpus
  *     and rewrites the identical snapshot.
  *
  * Readers ([[edges]]) always serve the newest committed snapshot;
  * between refreshes the graph is STALE by at most `refreshEvery`
  * batches — the same freshness trade as the frozen IVF quantizer,
  * chosen over per-batch O(corpus) rebuilds. [[StoreCompaction]] bounds
  * the vector tree's file count; [[VersionPrune.keepLatest]] on
  * `edges/` bounds snapshot history.
  */
object StreamingKnnEdges {

  /** Per-batch vector append: overwrite of this batch's directory
    * makes crash-replay idempotent. */
  def appendVectors(
      batch: DataFrame,
      batchId: Long,
      idCol: String,
      vecCol: String,
      store: String): Unit =
    batch.select(col(idCol).as("id"), col(vecCol).as("v"))
      .write.mode("overwrite")
      .parquet(s"$store/vectors/batch_id=$batchId")

  /** All vectors with `batch_id ≤ upto` (default: everything). The
    * pin is what makes a replayed refresh deterministic. */
  def vectors(
      spark: SparkSession,
      store: String,
      upto: Long = Long.MaxValue): DataFrame =
    graft.sources.Parquet.readTree(spark, s"$store/vectors")
      .where(col("batch_id") <= upto)
      .select(col("id"), col("v"))

  /** Rebuild the edge snapshot as version `batchId` from all vectors
    * appended up to and including that batch. */
  def refresh(
      spark: SparkSession,
      store: String,
      batchId: Long,
      dim: Int,
      k: Int,
      numTables: Int = 4,
      maxBucketSize: Int = 100000,
      numPlanes: Int = 0,
      targetBucketSize: Int = 64): Unit =
    KnnEdgeStore.buildVersion(
      vectors(spark, store, upto = batchId), "id", "v", dim, k,
      s"$store/edges", batchId, numTables, maxBucketSize, numPlanes,
      targetBucketSize)

  /** The newest committed edge snapshot — what every graph consumer
    * reads ([[graft.sim.Ann.triplesFromEdges]] /
    * [[graft.sim.Ann.clustersFromEdges]]). */
  def edges(spark: SparkSession, store: String): DataFrame =
    KnnEdgeStore.readLatest(spark, s"$store/edges")

  /** The per-batch kernel: vectors append every batch; the edge
    * snapshot refreshes on every `refreshEvery`-th batch (and on batch
    * 0, so the store serves a graph as soon as data exists). */
  def runBatch(
      batch: DataFrame,
      batchId: Long,
      idCol: String,
      vecCol: String,
      store: String,
      dim: Int,
      k: Int,
      refreshEvery: Int = 1,
      numTables: Int = 4,
      maxBucketSize: Int = 100000,
      numPlanes: Int = 0,
      targetBucketSize: Int = 64): Unit = {
    require(refreshEvery >= 1,
      s"refreshEvery must be >= 1, got $refreshEvery")
    appendVectors(batch, batchId, idCol, vecCol, store)
    if (batchId % refreshEvery == 0)
      refresh(batch.sparkSession, store, batchId, dim, k, numTables,
        maxBucketSize, numPlanes, targetBucketSize)
  }

  /** Fold vector batches `batch_id ≤ upto` into one directory (the
    * small-files bound for long-lived stores). */
  def compactVectors(spark: SparkSession, store: String, upto: Long): Unit =
    StoreCompaction.compactTree(spark, s"$store/vectors", upto, None)
}
