package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental rolling-actives maintenance — the store tier of
  * [[graft.etl.RollingActives]] (q57/q58's operator family): the
  * versioned snapshot holds ONE mergeable HLL sketch per day
  * (`(day, sk)` — KB-sized rows, metadata scale regardless of user
  * volume), each micro-batch folds its days in with a register union,
  * and the dashboard series re-derives from the SNAPSHOT alone. That
  * splits the cost the way a 100 TB deployment needs it split: the
  * only data-volume work ever done is the per-day sketch aggregation
  * of NEW events (map-side combinable, one shuffle keyed by day), and
  * a `window`-day refresh after a day of appends merges
  * days × sketch-bytes from the store — it never rescans history.
  *
  * HLL register union is a per-register max — commutative,
  * associative, idempotent — so any slicing of the same events into
  * micro-batches converges to the same per-day registers as one
  * batch over everything ([[StreamingActivesSpec]] proves estimate
  * parity under shuffled slicings). The snapshot lives in a
  * [[VersionedStore]]: replaying a batch would be harmless here even
  * without versioning (idempotent union), but the shared store also
  * buys crash-replay invariance and [[VersionPrune]] retention.
  */
object StreamingActives {

  /** Per-day sketch of a batch: one HLL register set per day touched
    * by the batch. The `groupBy(day)` is the only data-volume shuffle
    * in the whole maintenance path. */
  def dailySketches(batch: DataFrame, userCol: String, dayCol: String,
      lgConfigK: Int = 12): DataFrame =
    batch.groupBy(col(dayCol).cast("long").as("day"))
      .agg(hll_sketch_agg(col(userCol), lgConfigK).as("sk"))

  /** The per-batch kernel: union the batch's per-day sketches into the
    * snapshot store ([[VersionedStore.fold]]). Days absent from the
    * batch ride through via the union's identity. */
  def runBatch(batch: DataFrame, batchId: Long, userCol: String,
      dayCol: String, storePath: String, lgConfigK: Int = 12): Unit = {
    val fresh = dailySketches(batch, userCol, dayCol, lgConfigK)
    VersionedStore.fold(batch, batchId, storePath, fresh.where(lit(false)))(
      _.unionByName(fresh)
        .groupBy(col("day"))
        .agg(hll_union_agg(col("sk")).as("sk")))
  }

  /** The rolling `window`-day distinct-actives series, derived from
    * the LATEST snapshot alone — days × sketch-bytes of work,
    * independent of event volume. Shape matches
    * [[graft.etl.RollingActives.sketch]]: report days restricted to
    * days that have events, estimate column named `active`. */
  def series(spark: SparkSession, storePath: String, window: Int,
      beforeVersion: Long = Long.MaxValue): DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    import org.apache.spark.sql.types._
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("day", LongType),
        StructField("sk", BinaryType))))
    val daily = IncrementalPipeline.readLatestDim(
      spark, storePath, empty, beforeVersion)
    val days = daily.select(col("day").as("report_day"))
    daily.withColumn("report_day",
        explode(sequence(col("day"), col("day") + (window - 1))))
      .join(days, "report_day")
      .groupBy(col("report_day"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("active"))
  }
}
