package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.etl.Scd

/** Incremental SCD maintenance as a Structured Streaming pipeline.
  *
  * The reference orchestrates incrementality by POLLING watermarks with
  * Airflow branches (reference: dags/main_pipeline.py:93
  * `new_data_in_hdfs`, :132 `check_new_data_in_bigquery`: compare
  * max(date) in the new files against max(DateId) in the warehouse, then
  * branch into download → dedup → SCD update/insert). The Spark-native
  * analog needs no scheduler: a file-source stream discovers new files,
  * an event-time watermark bounds dedup state, and each micro-batch applies
  * the same SCD upsert the batch path uses — one code path for initial
  * load and every increment.
  *
  * Plan shape at scale: each micro-batch shuffles only the batch (keyed
  * by natural key); the dim store is re-read per batch and joined on the
  * same key. Dedup state is bounded by the watermark delay, not by
  * history. The dim store is a [[VersionedStore]] snapshot store, which
  * makes a replayed batch id reproduce its snapshot.
  */
object IncrementalPipeline {

  /** Merge an scdUpsert result into a dim snapshot: periods being
    * updated are replaced (matched on natural key + start_date), new
    * periods appended — MERGE semantics for sinks without native MERGE. */
  def applyUpsert(
      oldScd: DataFrame,
      toUpdate: DataFrame,
      toInsert: DataFrame,
      naturalKey: String,
      attrs: Seq[String] = Seq.empty): DataFrame = {
    // period identity = (key, attrs, start_date); see Scd.scdUpsert
    val keyCols = (naturalKey +: attrs) :+ "start_date"
    val updatedKeys = toUpdate.select(
      keyCols.zipWithIndex.map { case (c, i) => col(c).as(s"_u$i") }: _*)
    val untouched = oldScd.join(
      updatedKeys,
      keyCols.zipWithIndex.map { case (c, i) => oldScd(c) === col(s"_u$i") }
        .reduce(_ && _),
      "left_anti")
    untouched
      .unionByName(toUpdate.select(oldScd.columns.map(col): _*))
      .unionByName(toInsert.select(oldScd.columns.map(col): _*))
  }

  /** The merge kernel: rebuild-and-split against the current dim,
    * then merge. Pure DataFrame in/out so it is unit-testable without a
    * streaming context. */
  def processBatch(
      oldScd: DataFrame,
      batch: DataFrame,
      naturalKey: String,
      attrs: Seq[String],
      dateCol: String): DataFrame = {
    val (toUpdate, toInsert) =
      Scd.scdUpsert(oldScd, batch, naturalKey, attrs, dateCol)
    applyUpsert(oldScd, toUpdate, toInsert, naturalKey, attrs)
  }

  /** Latest dim snapshot from a versioned store (empty-schema dim when
    * the store has no versions yet → the initial load builds v0).
    * `beforeVersion` bounds the read to versions strictly below it:
    * batch n must rebuild from the pre-batch snapshot (< n), never from
    * a v_n a failed attempt of the same batch left behind — otherwise a
    * replay reads the directory it is about to overwrite and either
    * fails or double-applies the batch. */
  def readLatestDim(
      spark: SparkSession,
      storePath: String,
      emptyLike: => DataFrame,
      beforeVersion: Long = Long.MaxValue): DataFrame = {
    val versions = VersionPrune.versions(spark, storePath, beforeVersion)
    if (versions.isEmpty) emptyLike
    else spark.read.parquet(s"$storePath/v${versions.last}")
  }

  /** The complete per-batch kernel: rebuild-and-split folded into the
    * dim store ([[VersionedStore.fold]]). Exposed so replay semantics
    * are directly testable without a streaming context. */
  def runBatch(
      batch: DataFrame,
      batchId: Long,
      naturalKey: String,
      attrs: Seq[String],
      dateCol: String,
      storePath: String): Unit = {
    val records = batch.select((naturalKey +: attrs :+ dateCol).map(col): _*)
    val empty = records
      .withColumn("start_date", col(dateCol))
      .withColumn("end_date", col(dateCol))
      .withColumn("is_current", lit(true))
      .drop(dateCol)
      .where(lit(false))
    VersionedStore.fold(batch, batchId, storePath, empty)(
      processBatch(_, records, naturalKey, attrs, dateCol))
  }

  /** Wire a streaming source of change records into incremental SCD
    * maintenance.
    *
    * @param stream    streaming DataFrame of change records (file source
    *                  in production, MemoryStream in tests)
    * @param tsCol     event-time column the watermark rides on
    * @param delay     watermark delay (how late records may arrive)
    * @param storePath versioned dim store directory
    */
  def start(
      stream: DataFrame,
      tsCol: String,
      delay: String,
      naturalKey: String,
      attrs: Seq[String],
      dateCol: String,
      storePath: String,
      checkpoint: String): StreamingQuery = {
    val deduped = stream
      .withWatermark(tsCol, delay)
      .dropDuplicatesWithinWatermark(Seq(naturalKey, dateCol) ++ attrs)
    VersionedStore.start(deduped, checkpoint)(
      runBatch(_, _, naturalKey, attrs, dateCol, storePath))
  }
}
