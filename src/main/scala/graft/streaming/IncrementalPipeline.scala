package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType
import graft.etl.Scd

/** Incremental SCD maintenance as a Structured Streaming pipeline.
  *
  * The reference orchestrates incrementality by POLLING watermarks with
  * Airflow branches (reference: dags/main_pipeline.py:93
  * `new_data_in_hdfs`, :132 `check_new_data_in_bigquery`: compare
  * max(date) in the new files against max(DateId) in the warehouse, then
  * branch into download → dedup → SCD update/insert). The Spark-native
  * analog needs no scheduler: a file-source stream discovers new files,
  * an event-time watermark bounds dedup state, and `foreachBatch` applies
  * the same SCD upsert the batch path uses — one code path for initial
  * load and every increment.
  *
  * Plan shape at scale: each micro-batch shuffles only the batch (keyed
  * by natural key); the dim store is re-read per batch and joined on the
  * same key. Dedup state is bounded by the watermark delay, not by
  * history. The versioned store keeps `foreachBatch` idempotent: batch n
  * always rebuilds from the latest version BELOW n and rewrites v_n, so
  * a replayed batch id reproduces the same snapshot instead of reading
  * (or double-applying) its own failed attempt's output.
  */
object IncrementalPipeline {

  /** The warehouse watermark: latest period start in the stored dim —
    * the distributed equivalent of the reference's
    * `SELECT FullDate ... WHERE DateId = (SELECT MAX(DateId) ...)`. */
  def warehouseWatermark(dim: DataFrame): DataFrame =
    dim.agg(max(col("start_date")).as("max_date"))

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

  /** The foreachBatch kernel: rebuild-and-split against the current dim,
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

  /** The complete per-batch kernel `start` wires into foreachBatch:
    * read the pre-batch snapshot (versions < batchId — replay-safe),
    * rebuild-and-split, write v$batchId. Exposed so replay semantics
    * are directly testable without a streaming context. */
  def runBatch(
      batch: DataFrame,
      batchId: Long,
      naturalKey: String,
      attrs: Seq[String],
      dateCol: String,
      storePath: String): Unit = {
    val spark = batch.sparkSession
    val records = batch.select((naturalKey +: attrs :+ dateCol).map(col): _*)
    val empty = records
      .withColumn("start_date", col(dateCol))
      .withColumn("end_date", col(dateCol))
      .withColumn("is_current", lit(true))
      .drop(dateCol)
      .where(lit(false))
    val old = readLatestDim(spark, storePath, empty, beforeVersion = batchId)
    val next = processBatch(old, records, naturalKey, attrs, dateCol)
    next.write.mode("overwrite").parquet(s"$storePath/v$batchId")
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
    deduped.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        runBatch(batch, batchId, naturalKey, attrs, dateCol, storePath)
      }
      .start()
  }

  /** Production file-source entry: new parquet drops under `sourceDir`
    * are discovered incrementally — the Spark-native replacement for the
    * reference's HDFS-path-exists poll. */
  def fromParquetDir(
      spark: SparkSession,
      sourceDir: String,
      schema: StructType): DataFrame =
    spark.readStream.schema(schema).parquet(sourceDir)
}
