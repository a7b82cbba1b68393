package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Date-partitioned fact sink: the warehouse layout that makes
  * time-range dashboards cheap. Facts land under
  * `.../year_month=YYYY-MM/` directories; a query filtering on the
  * partition column prunes whole directories at planning time (visible
  * as PartitionFilters in the scan), so a month's dashboard reads a
  * month's bytes regardless of total history size. */
object PartitionedSink {

  /** Write `df` partitioned by a derived `year_month` column from
    * `dateCol`. Dynamic overwrite replaces only the partitions present
    * in `df` — the idempotent incremental-load contract. */
  def writeByMonth(df: DataFrame, dateCol: String, path: String): Unit =
    df.withColumn("year_month", date_format(col(dateCol), "yyyy-MM"))
      .write
      .partitionBy("year_month")
      .option("partitionOverwriteMode", "dynamic")
      .mode("overwrite")
      .parquet(path)

  def read(spark: SparkSession, path: String): DataFrame =
    Parquet.read(spark, path)
}
