package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.text.WordGrams

/** Streaming first-occurrence novelty — the incremental tier of the
  * q133 onion-style novelty score, for a crawl stream where re-scanning
  * history to attribute first occurrences is not an option.
  *
  * State is the FIRST-OCCURRENCE GRAM STORE: one row per distinct word
  * n-gram ever seen, with the id of the document that introduced it.
  * First occurrence is append-once by construction — a gram belongs to
  * exactly ONE batch (the one that introduced it) — so the store is
  * a [[VersionedStore]] SEGMENT store, not a snapshot: batch n writes
  * only its NEW grams under `v<n>` (a full-snapshot store would rewrite
  * the whole vocabulary every batch).
  *
  * Per batch it emits the q133 verdict columns for the batch's
  * documents: a gram is novel for doc d iff NO prior batch contains it
  * AND d is the batch's minimum id containing it. When batches arrive
  * in id order (arrival order IS the id order — the q133 reading),
  * the union of per-batch verdicts is BIT-IDENTICAL to the one-shot
  * q133 over the accumulated corpus under ANY micro-batch slicing
  * (StreamingNoveltySpec proves it). Out-of-order arrival shifts
  * attribution from "min id" to "first ARRIVED" — which is exactly the
  * onion semantics a streaming consumer wants (novelty vs what the
  * store had already seen), stated rather than hidden.
  *
  * Scale shape: the store-probe join keys on the gram string with the
  * BATCH side orders smaller than the store, so AQE broadcast-plans
  * the batch grams and the store side streams — history is never
  * shuffled; the batch-side work (gram build via the native
  * [[graft.expressions.WordNGrams]] kernel, in-batch min, per-doc
  * rollup) is bounded by the batch.
  */
object StreamingNovelty {

  /** The per-batch kernel: score the batch against the gram segments
    * below `batchId`, then write the verdict segment under `outPath`
    * and the new-gram segment under `storePath`
    * ([[VersionedStore.writeSegment]] — both overwrite, so a replay
    * reproduces them).
    *
    * Contract: `idCol` must be a LongType column (enforced here) and
    * is written out under the CANONICAL names the readers declare —
    * `doc_id` in verdict segments, `first_id` in store segments — so
    * [[readVerdicts]]/[[readStore]]'s empty-store frames agree with
    * populated reads whatever the caller named the column. */
  def runBatch(
      batch: DataFrame,
      batchId: Long,
      idCol: String,
      textCol: String,
      n: Int,
      keepFloorPpm: Long,
      storePath: String,
      outPath: String): Unit = {
    val spark = batch.sparkSession
    require(
      batch.schema(idCol).dataType ==
        org.apache.spark.sql.types.LongType,
      s"StreamingNovelty requires a LongType id column; " +
        s"'$idCol' is ${batch.schema(idCol).dataType.catalogString}")
    val g = WordGrams.grams(batch, idCol, textCol, n).distinct()
    val prior = readStore(spark, storePath, beforeVersion = batchId)
    // per gram: the batch's first id + whether any PRIOR segment has it;
    // materialized once (both the verdict rollup and the store append
    // read it)
    val gramState = graft.util.Blocks.lazyCheckpoint(
      g.groupBy(col("gram"))
        .agg(min(col(idCol)).as("_first"))
        .join(prior.select(col("gram"), lit(true).as("_seen")),
          Seq("gram"), "left")
        .select(col("gram"), col("_first"),
          coalesce(col("_seen"), lit(false)).as("_seen")))
    val verdicts = g.join(gramState, Seq("gram"))
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_grams"),
        sum(when(!col("_seen") && col("_first") === col(idCol), 1L)
          .otherwise(0L)).as("n_novel"))
      .select(col(idCol).as("doc_id"), col("n_grams"), col("n_novel"),
        expr("(1000000 * n_novel) div n_grams").as("novelty_ppm"))
      .withColumn("kept", col("novelty_ppm") >= keepFloorPpm)
    VersionedStore.writeSegment(verdicts.coalesce(1), outPath, batchId)
    VersionedStore.writeSegment(
      gramState.where(!col("_seen"))
        .select(col("gram"), col("_first").as("first_id")),
      storePath, batchId)
  }

  /** Union of first-occurrence segments `< beforeVersion` — each gram
    * appears in exactly one segment. Empty store → empty frame. */
  def readStore(
      spark: SparkSession,
      storePath: String,
      beforeVersion: Long = Long.MaxValue): DataFrame =
    VersionedStore.segments(spark, storePath, beforeVersion).getOrElse {
      import spark.implicits._
      Seq.empty[(String, Long)].toDF("gram", "first_id")
    }

  /** All per-batch verdicts emitted so far (the accumulated q133
    * surface over every scored document). Same segment layout as the
    * gram store; empty-store schema matches the verdict shape. */
  def readVerdicts(spark: SparkSession, outPath: String): DataFrame =
    VersionedStore.segments(spark, outPath).getOrElse {
      import spark.implicits._
      Seq.empty[(Long, Long, Long, Long, Boolean)]
        .toDF("doc_id", "n_grams", "n_novel", "novelty_ppm", "kept")
    }
}
