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
    * in `df` — the idempotent incremental-load contract.
    *
    * A `rebalance` hint on `year_month` puts one exchange before the
    * write, and AQE sizes its reads: the months of a few-partition fact
    * spread over the cores instead of one task writing them all, each
    * month lands in one file, and a month over the advisory partition
    * size is split. At scale the exchange costs one shuffle of the fact;
    * what it saves there is the many small files per month that an
    * unshuffled write leaves — one per input task that holds the month. */
  def writeByMonth(df: DataFrame, dateCol: String, path: String): Unit =
    df.withColumn("year_month", date_format(col(dateCol), "yyyy-MM"))
      .hint("rebalance", col("year_month"))
      .write
      .partitionBy("year_month")
      .option("partitionOverwriteMode", "dynamic")
      .mode("overwrite")
      .parquet(path)

  def read(spark: SparkSession, path: String): DataFrame =
    Parquet.read(spark, path)
}
