package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.text.TextAnalysis

/** Streaming exact-substring duplicate removal — the incremental tier
  * of the q142 first-occurrence span scrub, for a crawl stream where
  * re-scanning history per batch is not an option.
  *
  * State is the FIRST-OCCURRENCE WINDOW STORE: one row per distinct
  * length-`k` window hash ever seen, with the id of the document that
  * introduced it. Like [[StreamingNovelty]]'s gram store it is a
  * [[VersionedStore]] SEGMENT store — a window belongs to exactly ONE
  * batch (the one that introduced it), so batch n writes only its NEW
  * window hashes under `v<n>`.
  *
  * Per batch every document is rewritten with the intervals cut whose
  * windows are either (a) already in the store — some earlier batch's
  * doc has them — or (b) introduced by a LOWER-id doc of the same
  * batch. When batches arrive in id order, the union of per-batch
  * outputs is BIT-IDENTICAL to the one-shot
  * [[graft.dedup.Dedup.removeSharedSpans]] over the accumulated
  * corpus under ANY micro-batch slicing (StreamingSpanScrubSpec
  * proves it): a window's store first-id is its corpus minimum, so
  * "in store OR not the batch minimum" is exactly "not the corpus
  * minimum", and the corpus-frequency ≥ 2 condition is implied — a
  * doc-frequency-1 window is its own first occurrence. Out-of-order
  * arrival shifts attribution from "min id" to "first ARRIVED" — the
  * semantics a streaming consumer wants, stated rather than hidden.
  *
  * Scale shape: the store probe keys on the window hash with the
  * batch side orders smaller than the store (AQE broadcast-plans the
  * batch, history streams — never shuffled); the interval union and
  * the HOF rewrite are the shared [[graft.dedup.Dedup
  * .scrubByPositions]] kernel, keyed on the doc id and bounded by the
  * batch.
  */
object StreamingSpanScrub {

  /** The per-batch kernel: scrub the batch against the window segments
    * below `batchId`, then write the rewritten docs under `outPath` and
    * the batch's NEW window hashes under `storePath`
    * ([[VersionedStore.writeSegment]] — both overwrite, so a replay
    * reproduces them).
    * Contract: `idCol` must be LongType (enforced); output columns use
    * the canonical q142 names (`doc_id`, `kept_text`, ...). */
  def runBatch(
      batch: DataFrame,
      batchId: Long,
      idCol: String,
      textCol: String,
      k: Int,
      storePath: String,
      outPath: String): Unit = {
    val spark = batch.sparkSession
    require(
      batch.schema(idCol).dataType ==
        org.apache.spark.sql.types.LongType,
      s"StreamingSpanScrub requires a LongType id column; " +
        s"'$idCol' is ${batch.schema(idCol).dataType.catalogString}")
    val base = graft.util.Blocks.lazyCheckpoint(
      batch.select(col(idCol).as("id"),
        TextAnalysis.canonical(col(textCol)).as("ct")))
    val wpos = graft.util.Blocks.lazyCheckpoint(
      base.select(col("id"),
        posexplode(graft.expressions.RollingWindows.rollingWindows(
          col("ct"), k)).as(Seq("pos", "wh"))))
    val prior = readStore(spark, storePath, beforeVersion = batchId)
    // per window hash: the batch's first id + whether any PRIOR
    // segment has it
    val whState = graft.util.Blocks.lazyCheckpoint(
      wpos.groupBy(col("wh"))
        .agg(min(col("id")).as("_bfirst"))
        .join(prior.select(col("wh"), lit(true).as("_seen")),
          Seq("wh"), "left")
        .select(col("wh"), col("_bfirst"),
          coalesce(col("_seen"), lit(false)).as("_seen")))
    val removable = wpos.join(whState, Seq("wh"))
      .where(col("_seen") || col("id") =!= col("_bfirst"))
      .select(col("id"), col("pos"))
    VersionedStore.writeSegment(
      graft.dedup.Dedup.scrubByPositions(base, removable, "doc_id", k)
        .coalesce(1),
      outPath, batchId)
    VersionedStore.writeSegment(
      whState.where(!col("_seen"))
        .select(col("wh"), col("_bfirst").as("first_id")),
      storePath, batchId)
  }

  /** Union of first-occurrence window segments `< beforeVersion` —
    * each window hash appears in exactly one segment. */
  def readStore(
      spark: SparkSession,
      storePath: String,
      beforeVersion: Long = Long.MaxValue): DataFrame =
    VersionedStore.segments(spark, storePath, beforeVersion).getOrElse {
      import spark.implicits._
      Seq.empty[(Long, Long)].toDF("wh", "first_id")
    }

  /** All per-batch rewrites emitted so far (the accumulated q142
    * surface over every scrubbed document). */
  def readScrubbed(spark: SparkSession, outPath: String): DataFrame =
    VersionedStore.segments(spark, outPath).getOrElse {
      import spark.implicits._
      Seq.empty[(Long, String, Long, Long, Long)]
        .toDF("doc_id", "kept_text", "total_chars", "removed_chars",
          "removed_ppm")
    }
}
