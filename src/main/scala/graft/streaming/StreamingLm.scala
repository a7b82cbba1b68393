package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.text.NgramLm

/** Streaming bigram-LM maintenance — the streaming tier of
  * [[graft.text.NgramLm]] (q35's operator): each micro-batch of
  * documents folds its (b1, b2, c_bi) bigram counts into a versioned
  * snapshot of the ≤ B²-row model, so the perplexity filter's LM stays
  * current at O(|batch| + B²) per trigger without rescanning the
  * corpus. The twin of [[StreamingImportance]]: counts are pure sums,
  * so ANY micro-batch slicing folds to the identical model
  * (spec-proved exact parity with the one-shot operator), the model
  * lives in a [[VersionedStore]] snapshot store, and the serving path
  * scores any frame against the stored model — the production shape,
  * where the LM trains on a trusted corpus and filters an incoming
  * crawl. */
object StreamingLm {

  private def emptyCounts(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq.empty[(Long, Long, Long)].toDF("b1", "b2", "c_bi")
  }

  /** The per-batch kernel: count the batch and fold the counts into the
    * snapshot store ([[VersionedStore.fold]]). Pure DataFrame logic. */
  def runBatch(
      batch: DataFrame,
      batchId: Long,
      idCol: String,
      textCol: String,
      buckets: Int,
      storePath: String): Unit = {
    val fresh = NgramLm.bigramCounts(batch, idCol, textCol, buckets)
    VersionedStore.fold(batch, batchId, storePath,
        emptyCounts(batch.sparkSession))(
      _.unionByName(fresh)
        .groupBy(col("b1"), col("b2"))
        .agg(sum(col("c_bi")).as("c_bi")))
  }

  /** The latest count snapshot (≤ B² rows). */
  private def latestCounts(spark: SparkSession, storePath: String): DataFrame =
    IncrementalPipeline.readLatestDim(spark, storePath, emptyCounts(spark))

  /** The current model: the NLL score table derived from the latest
    * snapshot (≤ B² rows). */
  def scoreTable(spark: SparkSession, storePath: String,
      buckets: Int = NgramLm.DefaultBuckets): DataFrame =
    NgramLm.scoreFromCounts(latestCounts(spark, storePath), buckets)

  /** Score any doc frame against the STORED LM (serving path; unseen
    * bigrams priced by the zero-count add-1 fallback — see
    * [[NgramLm.scoreDocs]]). */
  def scoreWith(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      storePath: String,
      buckets: Int = NgramLm.DefaultBuckets): DataFrame = {
    val bi = latestCounts(docs.sparkSession, storePath)
    NgramLm.scoreDocs(docs, idCol, textCol,
      NgramLm.scoreFromCounts(bi, buckets), NgramLm.contextCounts(bi), buckets)
  }
}
