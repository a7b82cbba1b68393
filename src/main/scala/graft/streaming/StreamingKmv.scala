package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sketch.Kmv
import graft.text.WordGrams

/** Streaming KMV distinct-set sketch maintenance — the incremental
  * tier of the q117 cross-source overlap audit, for a document stream
  * where re-sketching history every batch is not an option.
  *
  * Each micro-batch is sketched DISTRIBUTED ([[Kmv.minK]] over the
  * batch's word 8-grams — the corpus-side work, bounded bottom-k) and
  * folded into the prior sketch with [[Kmv.mergeSketches]], persisted
  * in a [[VersionedStore]] snapshot store. Store size is
  * ≤ |sources| · k rows per version — metadata scale by construction,
  * independent of stream volume.
  *
  * Unlike the Misra–Gries summary ([[StreamingHeavyHitters]]), whose
  * content depends on the merge tree, the bottom-k of distinct hashes
  * is a LOSSLESS mergeable summary: `bottomK(bottomK(A) ∪ bottomK(B))
  * = bottomK(A ∪ B)` exactly. ANY micro-batch slicing therefore yields
  * the BIT-IDENTICAL sketch — and bit-identical overlap estimates — to
  * a one-shot [[Kmv.minK]] over the accumulated corpus (spec-proved).
  */
object StreamingKmv {

  /** The per-batch kernel: sketch the batch and merge it into the
    * sketch store ([[VersionedStore.fold]]). */
  def runBatch(
      batch: DataFrame,
      batchId: Long,
      srcCol: String,
      idCol: String,
      textCol: String,
      gramN: Int,
      k: Int,
      storePath: String): Unit = {
    val grams = WordGrams.grams(batch, idCol, textCol, gramN)
      .join(batch.select(col(idCol), col(srcCol).as("_src")), Seq(idCol))
    val batchSketch = Kmv.minK(grams, "_src", "gram", k)
    VersionedStore.fold(batch, batchId, storePath,
        emptySketchDf(batch.sparkSession))(
      Kmv.mergeSketches(_, batchSketch, k).coalesce(1))
  }

  /** The latest stored sketch as (grp, h) rows — ≤ |sources| · k. */
  def readLatestSketch(spark: SparkSession, storePath: String): DataFrame =
    IncrementalPipeline.readLatestDim(spark, storePath, emptySketchDf(spark))

  private def emptySketchDf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq.empty[(String, Long)].toDF("grp", "h")
  }

  /** Serving path: pairwise overlap estimates straight off the stored
    * sketch — all work on the |sources| · k metadata table, identical
    * estimators (and, by losslessness, identical VALUES) to the
    * one-shot q117 operator over the same accumulated corpus. */
  def overlapFromStore(
      spark: SparkSession,
      storePath: String,
      k: Int): DataFrame =
    Kmv.pairwiseOverlap(readLatestSketch(spark, storePath), k)
}
