package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Incremental SCD maintenance as a Structured Streaming pipeline.
  *
  * The reference orchestrates incrementality by POLLING watermarks with
  * Airflow branches (reference: dags/main_pipeline.py:93
  * `new_data_in_hdfs`, :132 `check_new_data_in_bigquery`: compare
  * max(date) in the new files against max(DateId) in the warehouse, then
  * branch into download → dedup → SCD update/insert). The Spark-native
  * analog needs no scheduler: a file-source stream discovers new files,
  * an event-time watermark bounds dedup state, and each micro-batch applies
  * the batch path's SCD upsert as one merge ([[processBatch]]) — one code
  * path for initial load and every increment.
  *
  * Plan shape at scale: each micro-batch shuffles snapshot ∪ batch
  * once, by natural key, and rebuilds every period inside that
  * partitioning (see [[processBatch]]); the dim store is re-read per
  * batch, so that one shuffle carries the whole snapshot. Dedup state
  * is bounded by the watermark delay, not by history. The dim store is
  * a [[VersionedStore]] snapshot store, which makes a replayed batch id
  * reproduce its snapshot.
  */
object IncrementalPipeline {

  /** The merge kernel: rebuild the periods of (old snapshot replayed as
    * records) ∪ (batch records) and merge them into the snapshot — the
    * value of [[graft.etl.Scd.scdUpsert]]'s `toUpdate`/`toInsert`
    * applied as a MERGE (update the periods matched on natural key +
    * attrs + start_date, append the rest), planned on ONE shuffle.
    *
    * Old rows and batch records are tagged, hash-partitioned once by the
    * natural key, then grouped on (nk, attrs): hash(nk) already clusters
    * that grouping, the `lead` window on nk and the per-period decision,
    * so nothing reshuffles. Per (nk, attrs) the rebuilt period starts at
    * `s*` = min(old starts ∪ new dates) and ends at `lead(s*)` over nk,
    * ordered by (s*, attrs). Every old row passes through unchanged,
    * except the one starting at `s*` when it is current and the rebuilt
    * period has closed: the rebuilt row replaces it. The rebuilt row is
    * also appended when no old row starts at `s*` (a new period, or a
    * late record moving a period's start earlier — the later old row
    * stays, as in the reference's update-current-only MERGE).
    *
    * Grouping treats NULL attributes as equal (the reference's attribute
    * hash does too), so a NULL-attribute period is carried over, not
    * re-inserted by every batch as an `===` match would. Old periods are
    * unique on (nk, attrs, start_date), which every snapshot this kernel
    * writes keeps. Pure DataFrame in/out so it is unit-testable without
    * a streaming context. */
  def processBatch(
      oldScd: DataFrame,
      batch: DataFrame,
      naturalKey: String,
      attrs: Seq[String],
      dateCol: String): DataFrame = {
    val keys = (naturalKey +: attrs).map(col)
    val period = struct(col("start_date"), col("end_date"), col("is_current"))
    val old = oldScd.select(keys :+ col("start_date") :+ period.as("_old"): _*)
    val recs = batch.select(keys :+ col(dateCol).as("start_date") :+
      lit(null).cast(old.schema("_old").dataType).as("_old"): _*)
    val byKey = Window.partitionBy(col(naturalKey))
      .orderBy(col("start_date") +: attrs.map(col): _*)
    val periods = old.unionByName(recs)
      .repartition(col(naturalKey))
      .groupBy(keys: _*)
      .agg(min(col("start_date")).as("start_date"),
        collect_list(col("_old")).as("_olds"))
      .withColumn("end_date", lead(col("start_date"), 1).over(byKey))
    val atStart = (o: Column) => o("start_date") <=> col("start_date")
    val replace = exists(col("_olds"), o => atStart(o) && o("is_current")) &&
      col("end_date").isNotNull
    val kept = filter(col("_olds"), o => !(replace && atStart(o)))
    val rebuilt = struct(col("start_date"), col("end_date"),
      col("end_date").isNull.as("is_current"))
    val emitRebuilt = replace || !exists(col("_olds"), atStart)
    periods
      .select(keys :+ explode(when(emitRebuilt, concat(kept, array(rebuilt)))
        .otherwise(kept)).as("_p"): _*)
      .select(keys :+ col("_p.*"): _*)
      .select(oldScd.columns.map(col): _*)
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
    else graft.sources.Parquet.read(spark, s"$storePath/v${versions.last}")
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
