package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Table loaders for the driver's parquet test tables.
  *
  * The test tables arrive already typed, so loaders are plain parquet
  * scans (distributed, prunable, pushdown-friendly) through
  * [[Parquet.read]]: the schema comes from the table's one footer, read
  * on the driver, so building a loader's DataFrame submits no Spark
  * job; a missing table, a glob or a directory without a data file
  * falls back to `spark.read.parquet` and its own schema inference and
  * errors. `events` is the exception: its nano timestamps need
  * enforcement. The reference's stringly→typed ingest coercions
  * (ingest_utils.py:12 `download_data_from_bq`) live in [[TypedIngest]],
  * as column operators rather than driver-side pandas.
  */
object Tables {
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    Parquet.read(spark, s"$dir/$name.parquet")

  /** CSV source with an explicit schema — never schema inference, which
    * at 100 TB is a full extra pass over the data. Malformed fields
    * become NULL (PERMISSIVE), matching the reference ingest's
    * NaN→NULL posture. */
  def csv(
      spark: SparkSession,
      path: String,
      schema: org.apache.spark.sql.types.StructType,
      header: Boolean = true,
      delimiter: String = ","): DataFrame =
    spark.read
      .schema(schema)
      .option("header", header.toString)
      .option("delimiter", delimiter)
      .option("mode", "PERMISSIVE")
      .csv(path)

  /** JSONL (one JSON object per line) — the lingua franca of
    * training-data interchange. Explicit schema (inference is a full
    * extra pass at 100 TB); PERMISSIVE with a corrupt-record column so
    * malformed lines surface for audit instead of silently vanishing.
    * Line-delimited JSON splits by newline, so a 100 TB corpus
    * parallelizes like any text source. */
  def jsonl(
      spark: SparkSession,
      path: String,
      schema: org.apache.spark.sql.types.StructType,
      corruptCol: String = "_corrupt_record"): DataFrame =
    spark.read
      .schema(schema.add(corruptCol,
        org.apache.spark.sql.types.StringType))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", corruptCol)
      .json(path)

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  /** events.parquet's `ts` encoding has varied across test-data
    * generations: INT64 TIMESTAMP(NANOS) (which Spark's parquet reader
    * rejects outright — read the nanos as Long, `DIV 1000`, convert;
    * integer division because a double division would corrupt
    * epoch-nano values ~2^60) or plain TIMESTAMP(MICROS) (arrives as
    * TIMESTAMP_NTZ — cast to the session-zoned type so downstream
    * date/window functions see the exact same TimestampType either
    * way; the session zone is pinned UTC, so the cast is wall-clock
    * neutral). Dispatch on the loaded type, not the generation.
    * `spark.sql.legacy.parquet.nanosAsLong` is set on the session only
    * when the table's footer shows the NANOS encoding — the scan reads
    * it when it runs, so it stays set after such a load; a MICROS load
    * leaves the session conf unchanged. */
  def events(s: SparkSession, d: String): DataFrame = {
    if (Parquet.nanosTimestamp(s, s"$d/events.parquet", "ts"))
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = load(s, d, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case _ =>
        df.withColumn("ts",
          col("ts").cast(org.apache.spark.sql.types.TimestampType))
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
