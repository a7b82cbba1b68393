package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{col, lit}
import graft.etl.Expectations

/** Continuous data-quality monitoring — the streaming tier of
  * [[graft.etl.Expectations]] (q93's operator): every micro-batch runs
  * the declarative constraint set (one scan + one aggregation over the
  * batch) and appends a per-(batch, constraint) report row to a metrics
  * table. The report is the raw material for freshness/health
  * dashboards and alerting ("constraint X started failing at batch N"),
  * and appending — rather than gating — keeps the pipeline flowing
  * while quality is investigated; wire [[Expectations.enforce]] into
  * the batch path instead when bad rows must stop the load.
  *
  * The metrics table is append-only parquet partitioned by nothing
  * (report rows are constraint-count sized — metadata scale per batch);
  * replays of a batch id append duplicate report rows, which downstream
  * readers dedupe on (batch_id, constraint_name) — the report is
  * derived observability data, not state, so last-write-wins dedup at
  * read time is the cheap and safe contract. */
object StreamingExpectations {

  /** The per-batch kernel (run per micro-batch by
    * [[VersionedStore.start]]). */
  def runBatch(
      batch: DataFrame,
      batchId: Long,
      constraints: Seq[(String, Column)],
      metricsPath: String): Unit =
    Expectations.check(batch, constraints)
      .withColumn("batch_id", lit(batchId))
      .select(col("batch_id"), col("constraint_name"), col("n_violations"),
        col("n_rows"), col("pass"))
      .write.mode("append").parquet(metricsPath)

  /** Read the metrics table with the read-time dedup contract applied:
    * one row per (batch_id, constraint_name). A replayed batch id
    * recomputes the SAME report row (the constraint set is declarative
    * and the batch content is the source's replay of that id), so
    * duplicates are value-identical and any-write-wins dedup is exact —
    * `dropDuplicates` on the key, no ordering column needed. One
    * metadata-scale shuffle on the report key. */
  def readReport(
      spark: org.apache.spark.sql.SparkSession,
      metricsPath: String): DataFrame =
    graft.sources.Parquet.read(spark, metricsPath)
      .dropDuplicates("batch_id", "constraint_name")
}
