package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.curate.Importance

/** Streaming importance-model maintenance — the streaming tier of
  * [[graft.curate.Importance]] (q34's operator): each micro-batch of
  * documents folds its (bucket, c_r, c_t) counts into a versioned
  * snapshot of the ≤ B-row model table, so the DSIR score table stays
  * current at O(|batch| + B) per trigger, never rescanning the corpus.
  *
  * Exactness under slicing is structural, not probabilistic: the model
  * is nothing but per-bucket SUMS, and sums are commutative,
  * associative, and batch-splittable — ANY micro-batch slicing of the
  * same document stream folds to the identical count table, and the
  * score table derives deterministically from the counts
  * ([[Importance.scoreFromCounts]]). So the streaming model equals the
  * batch q34 model bit-for-bit, and scoring any frame against it
  * equals the one-shot operator (exact-parity spec-proved).
  *
  * Replay safety is the [[VersionedStore]] snapshot contract: a
  * retried batch reproduces — never double-counts — its own earlier
  * attempt.
  *
  * Scale: the snapshot is B rows (metadata) regardless of stream
  * volume; the per-batch pass is the same map-side-combinable count
  * the batch operator runs, on the batch only.
  */
object StreamingImportance {

  private def emptyCounts(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq.empty[(Long, Long, Long)].toDF("b", "c_r", "c_t")
  }

  /** The per-batch kernel: count the batch and fold the counts into the
    * snapshot store ([[VersionedStore.fold]]). Pure DataFrame logic,
    * unit-testable without a streaming context. */
  def runBatch(
      batch: DataFrame,
      batchId: Long,
      idCol: String,
      textCol: String,
      targetPred: Column,
      buckets: Int,
      storePath: String): Unit = {
    val fresh = Importance.bucketCounts(batch, idCol, textCol, targetPred, buckets)
    VersionedStore.fold(batch, batchId, storePath,
        emptyCounts(batch.sparkSession))(
      _.unionByName(fresh)
        .groupBy(col("b"))
        .agg(sum(col("c_r")).as("c_r"), sum(col("c_t")).as("c_t")))
  }

  /** The current model: the integer micro-nat score table derived from
    * the latest snapshot (≤ B rows). */
  def scoreTable(spark: SparkSession, storePath: String,
      buckets: Int = Importance.DefaultBuckets): DataFrame =
    Importance.scoreFromCounts(
      IncrementalPipeline.readLatestDim(spark, storePath, emptyCounts(spark)),
      buckets)

  /** Score any doc frame against the STORED model — the serving path:
    * the scored frame need not be the corpus the model was trained on
    * (the whole point of importance weighting). */
  def scoreWith(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      targetPred: Column,
      storePath: String,
      buckets: Int = Importance.DefaultBuckets): DataFrame =
    Importance.scoreDocs(docs, idCol, textCol, targetPred,
      scoreTable(docs.sparkSession, storePath, buckets), buckets)
}
