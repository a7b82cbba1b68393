package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.text.{Mg, MgSummary, WordGrams}

/** Streaming corpus heavy hitters — the sketch tier of
  * [[graft.text.HeavyHitters]] (q55's operator) for a document stream
  * where no second exact pass over history is possible.
  *
  * Each micro-batch is summarized DISTRIBUTED (per-partition
  * [[Mg.summarize]], driver-merged — bounded collect, ≤ capacity
  * entries per partition) and folded into the prior summary with the
  * mergeable-summaries merge, persisted in a [[VersionedStore]]
  * snapshot store. Store size is `capacity + 1` rows per version —
  * metadata scale by construction, independent of stream volume.
  *
  * What is and is not invariant to micro-batch slicing: the summary
  * CONTENT depends on the merge tree (two slicings may store different
  * counts — inherent to Misra–Gries), but the GUARANTEES hold under
  * every slicing, and the spec proves them against exact truth on
  * shuffled slicings:
  *
  *  - every stored bound brackets the true count:
  *    `lb ≤ true ≤ lb + err`, with `err ≤ n/(capacity+1)`;
  *  - [[heavyCandidates]]`(k)` is a SUPERSET of every token with true
  *    frequency ≥ n/k (keep k ≪ capacity for tight sets);
  *  - rows flagged `guaranteed` (`lb·k ≥ n`) are CERTAIN heavy
  *    hitters — no false positives among them.
  */
object StreamingHeavyHitters {

  /** Distributed batch summary: Misra–Gries per partition, merged on
    * the driver. The merge tree does not affect the guarantees. */
  def summarizeBatch(
      batch: DataFrame,
      textCol: String,
      capacity: Int): MgSummary = {
    val spark = batch.sparkSession
    import spark.implicits._
    val parts = batch
      .select(explode(WordGrams.tokens(col(textCol))).as("token"))
      .where(length(col("token")) > 0)
      .as[String]
      .mapPartitions { iter =>
        val s = Mg.summarize(iter, capacity)
        Iterator((s.counts.toSeq, s.err, s.n))
      }
      .collect()
    parts.foldLeft(Mg.empty) { case (acc, (counts, err, n)) =>
      Mg.merge(acc, MgSummary(counts.toMap, err, n, capacity), capacity)
    }
  }

  /** The per-batch kernel: merge the batch's summary into the stored
    * one ([[VersionedStore.fold]]). The prior summary is collected
    * before the batch is summarized. */
  def runBatch(
      batch: DataFrame,
      batchId: Long,
      textCol: String,
      capacity: Int,
      storePath: String): Unit = {
    val spark = batch.sparkSession
    VersionedStore.fold(batch, batchId, storePath, emptySummaryDf(spark)) {
      prior => summaryFrame(spark, Mg.merge(summaryOf(prior),
        summarizeBatch(batch, textCol, capacity), capacity))
    }
  }

  /** One meta row (null token, the summary's err/n/capacity) + one row
    * per counter — the err/n/capacity columns are repeated, the meta
    * row makes an EMPTY summary round-trip. Persisting the capacity is
    * what lets [[heavyCandidates]] ENFORCE `k <= capacity` against a
    * store built by someone else — without it a too-large k silently
    * voids the superset guarantee. */
  private def summaryFrame(spark: SparkSession, s: MgSummary): DataFrame = {
    import spark.implicits._
    val rows = (null.asInstanceOf[String], 0L, s.err, s.n, s.capacity) +:
      s.counts.toSeq.map { case (t, c) => (t, c, s.err, s.n, s.capacity) }
    rows.toDF("token", "cnt", "err", "n", "capacity").coalesce(1)
  }

  /** The summary a stored frame holds (collected: `capacity + 1` rows). */
  private def summaryOf(df: DataFrame): MgSummary = {
    val rows = df.collect()
    if (rows.isEmpty) Mg.empty
    else {
      val err = rows.head.getLong(2)
      val n = rows.head.getLong(3)
      val cap = rows.head.getInt(4)
      val counts = rows.collect {
        case r if !r.isNullAt(0) => r.getString(0) -> r.getLong(1)
      }.toMap
      MgSummary(counts, err, n, cap)
    }
  }

  def readLatestSummary(spark: SparkSession, storePath: String): MgSummary =
    summaryOf(IncrementalPipeline.readLatestDim(
      spark, storePath, emptySummaryDf(spark)))

  private def emptySummaryDf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq.empty[(String, Long, Long, Long, Int)]
      .toDF("token", "cnt", "err", "n", "capacity")
  }

  /** Current candidate set from the latest store version: every token
    * that COULD have true frequency ≥ n/k (provable superset), with
    * its count bounds and a `guaranteed` flag for the certain ones. */
  def heavyCandidates(
      spark: SparkSession,
      storePath: String,
      k: Int): DataFrame = {
    import spark.implicits._
    val s = readLatestSummary(spark, storePath)
    s.candidates(k)
      .map { case (t, lb, ub) => (t, lb, ub, lb * k >= s.n) }
      .toDF("token", "cnt_lb", "cnt_ub", "guaranteed")
      .orderBy(desc("cnt_lb"), col("token"))
  }
}
