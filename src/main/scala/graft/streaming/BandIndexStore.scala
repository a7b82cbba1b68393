package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.util.Blocks

/** The persistent band-index store behind the cross-batch near-dup
  * annotators ([[StreamingNearDedup]]: MinHash signature arrays,
  * [[StreamingSimhashDedup]]: 64-bit hamming signatures). One store,
  * kept for the corpus's lifetime and probed incrementally per batch;
  * the two annotators differ only in how they build a batch's
  * (id, sig) and (id, band, bkt) tables, the sig column's type and the
  * predicate that verifies a candidate pair.
  *
  * Store layout and the 100 TB read path: three parquet trees under
  * `store/` —
  *
  *   buckets/batch_id=N/rng=R/ : (band, bkt, id)   candidate index
  *   docs/batch_id=N/rng=R/    : (id, sig)         verification sigs
  *   verdicts/batch_id=N/      : (id, is_dup, dup_of)
  *
  * Every batch OVERWRITES its own `batch_id` directories (replay
  * idempotent), and every read of history filters `batch_id < current`
  * — a PARTITION filter, so a replayed batch can never see its own
  * earlier attempt. `rng = pmod(hash, ranges)` is the scale lever: a
  * batch's candidate probe touches only the `rng` directories its own
  * bucket keys hash into, and its verification only the `rng`
  * directories its candidate partner ids hash into — both pushed as
  * partition filters over a driver-collected range list that is ≤
  * `ranges` values BY CONSTRUCTION. On top of the pruning, both
  * history joins BROADCAST the batch side, so the store is only ever
  * STREAMED through (one pass, no shuffle of history) — per-batch cost
  * is linear in the surviving store partitions, zero exchange on the
  * big side.
  */
private[streaming] object BandIndexStore {

  private def rngOf(c: Column, ranges: Int) =
    pmod(xxhash64(c.cast("string")), lit(ranges.toLong))

  /** History buckets visible to `batchId`, pruned to the given ranges.
    * Missing tree (first batch) → empty frame of the right shape. */
  private def historyBuckets(spark: SparkSession, store: String,
      batchId: Long, rngs: Seq[Long]): DataFrame =
    readTree(spark, s"$store/buckets",
      "band INT, bkt BIGINT, id BIGINT, batch_id BIGINT, rng BIGINT")
      .where(col("batch_id") < batchId && col("rng").isin(rngs: _*))

  private def historyDocs(spark: SparkSession, store: String,
      batchId: Long, rngs: Seq[Long], sigType: String): DataFrame =
    readTree(spark, s"$store/docs",
      s"id BIGINT, sig $sigType, batch_id BIGINT, rng BIGINT")
      .where(col("batch_id") < batchId && col("rng").isin(rngs: _*))

  private def readTree(spark: SparkSession, path: String,
      schema: String): DataFrame = {
    val exists = try {
      val p = new org.apache.hadoop.fs.Path(path)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
    } catch { case _: Exception => false }
    if (exists)
      graft.sources.Parquet.readTree(spark, path)
    else
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
        StructType.fromDDL(schema))
  }

  /** Probe, verify and index one batch, then release its tables.
    * `st` carries the batch's (id, sig) — other columns are ignored —
    * and `buckets` its capped (id, band, bkt) rows; `sigType` is the
    * sig column's DDL type and `matches(sig, psig)` the predicate a
    * candidate pair must pass to count as a duplicate. */
  def appendBatch(
      st: Blocks.Checkpointed,
      buckets: Blocks.Checkpointed,
      batchId: Long,
      store: String,
      ranges: Int,
      sigType: String,
      matches: (Column, Column) => Column): Unit = {
    val spark = st.df.sparkSession

    // ---- candidates within the batch: earlier = smaller id ----------
    val inBatch = buckets.df.as("l")
      .join(buckets.df.as("r"),
        col("l.band") === col("r.band") && col("l.bkt") === col("r.bkt") &&
          col("l.id") < col("r.id"))
      .select(col("r.id").as("id"), col("l.id").as("partner"))

    // ---- candidates vs history: batch side broadcasts, store streams
    val touchedRngs = buckets.df
      .select(rngOf(col("bkt"), ranges).as("rng")).distinct()
      .collect().map(_.getLong(0)).toSeq // ≤ ranges values by construction
    val hist = historyBuckets(spark, store, batchId, touchedRngs)
    val cross = broadcast(buckets.df)
      .join(hist.select(col("band"), col("bkt"), col("id").as("partner")),
        Seq("band", "bkt"))
      .select(col("id"), col("partner"))

    val cands = Blocks.checkpoint(
      inBatch.unionByName(cross).dropDuplicates("id", "partner"))

    // ---- verify against the partners' signatures --------------------
    val partnerRngs = cands.df
      .select(rngOf(col("partner"), ranges).as("rng")).distinct()
      .collect().map(_.getLong(0)).toSeq
    val partnerSigs = historyDocs(spark, store, batchId, partnerRngs, sigType)
      .select(col("id").as("partner"), col("sig").as("psig"))
      .unionByName(
        st.df.select(col("id").as("partner"), col("sig").as("psig")))
    val verified = broadcast(
        cands.df.join(st.df.select(col("id"), col("sig")), "id"))
      .join(partnerSigs, "partner")
      .where(matches(col("sig"), col("psig")))
      .groupBy(col("id"))
      .agg(min(col("partner")).as("dup_of"))

    val verdicts = st.df.select(col("id"))
      .join(verified, Seq("id"), "left")
      .select(col("id"), col("dup_of").isNotNull.as("is_dup"), col("dup_of"))

    // ---- writes: per-batch overwrite = replay idempotent ------------
    verdicts.write.mode("overwrite")
      .parquet(s"$store/verdicts/batch_id=$batchId")
    st.df.select(col("id"), col("sig"), rngOf(col("id"), ranges).as("rng"))
      .write.partitionBy("rng").mode("overwrite")
      .parquet(s"$store/docs/batch_id=$batchId")
    buckets.df
      .select(col("band"), col("bkt"), col("id"),
        rngOf(col("bkt"), ranges).as("rng"))
      .write.partitionBy("rng").mode("overwrite")
      .parquet(s"$store/buckets/batch_id=$batchId")

    cands.release(); buckets.release(); st.release()
  }

  /** Fold the two HISTORY trees' `batch_id ≤ upto` directories into
    * one ([[StoreCompaction]] — the small-files bound for long-lived
    * stores). The verdicts tree is deliberately left alone: its
    * batch_id is data (which batch saw the doc), the per-batch hot
    * path never reads it, and exporting/archiving it is the
    * downstream consumer's lifecycle. `upto` must be ≤ the stream's
    * last committed batch id. */
  def compact(spark: SparkSession, store: String, upto: Long): Unit = {
    StoreCompaction.compactTree(spark, s"$store/buckets", upto, Some("rng"))
    StoreCompaction.compactTree(spark, s"$store/docs", upto, Some("rng"))
  }

  /** All verdicts so far: (batch_id, id, is_dup, dup_of). */
  def verdicts(spark: SparkSession, store: String): DataFrame =
    graft.sources.Parquet.readTree(spark, s"$store/verdicts")
      .select(col("batch_id"), col("id"), col("is_dup"), col("dup_of"))
}
