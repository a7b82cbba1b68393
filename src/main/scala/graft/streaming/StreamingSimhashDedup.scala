package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.dedup.Dedup
import graft.util.Blocks

/** Cross-batch PERCEPTUAL near-duplicate annotation against a
  * persistent 64-bit-signature store — [[StreamingNearDedup]]'s shape
  * (arrival-order verdicts, replay-idempotent per-batch overwrite,
  * range-pruned broadcast history probe) generalized from MinHash
  * arrays to single 64-bit hamming signatures: image dHash
  * ([[graft.expressions.DHash]]), audio fingerprints
  * ([[graft.expressions.AudioFp]]), text SimHash — a crawl's media
  * arrives continuously, and the batch perceptual tier (q145/q149/
  * q151) needs the same incremental story the text MinHash tier has.
  *
  * The caller computes the signature upstream (one narrow codegen'd
  * decode per payload, e.g. `dhash(payload)`) and hands this module
  * `(id, sig)`; rows whose payload didn't decode (`sig` NULL) are
  * dropped — unparseable media is never indexed and never flagged.
  *
  * Candidates block on the batch bander's 16-bit signature quarters
  * (pigeonhole-LOSSLESS at hamming ≤ 3: one of 4 disjoint quarters
  * must match exactly), verification is the EXACT popcount of XOR —
  * no estimator tail, so verdicts at `maxHamming ≤ 3` are exact
  * w.r.t. the arrival order. An optional `blockCol` composes a
  * natural equality key (frame index, language, shard) into the
  * bucket — the band-saturation guard measured on q150: at 4M+ items
  * the bare 16-bit band space averages ~61 rows/bucket and the
  * candidate stream goes quadratic; per-block bucketing restores
  * per-item density. Blocks fold into the bucket key as
  * `block·2¹⁶ + quarter` (block must be a non-negative long below
  * 2⁴⁷), so the store layout — and its partition-pruned read path —
  * stays identical to the MinHash store: one [[BandIndexStore]]. */
object StreamingSimhashDedup {

  /** `maxHamming ≤ 3` keeps the 4×16-bit banding lossless (pigeonhole:
    * 4 errors could dirty every quarter). `maxBucketSize` caps a
    * degenerate bucket's self-join (low-entropy signatures — the
    * misaligned-grid failure class — make buckets hot long before the
    * band space saturates). */
  final case class Params(
      maxHamming: Int = 3,
      maxBucketSize: Int = 100000,
      ranges: Int = 64) {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"maxHamming must be in [0, 3] for lossless 4-band blocking, got $maxHamming")
    require(ranges >= 1, s"ranges must be >= 1, got $ranges")
  }

  /** Four (band, bkt) rows per signature: bkt = block·2¹⁶ + 16-bit
    * quarter (block 0 when unblocked). */
  private def bucketTable(st: DataFrame, blocked: Boolean): DataFrame = {
    val blkVal = if (blocked) col("blk") else lit(0L)
    st.select(col("id"), explode(array((0 until 4).map { q =>
        struct(lit(q).as("band"),
          (blkVal * 65536L +
            shiftright(col("sig"), q * 16).bitwiseAND(0xFFFFL)).as("bkt"))
      }: _*)).as("e"))
      .select(col("id"), col("e.band").as("band"), col("e.bkt").as("bkt"))
  }

  /** The per-batch kernel (run per micro-batch by
    * [[VersionedStore.start]]); a backfill driver (or a spec) can run it
    * against explicit frames.
    * `sigCol` must be a 64-bit signature (NULL rows dropped);
    * `blockCol`, when given, must be a non-negative long below 2⁴⁷. */
  def appendBatch(
      batch: DataFrame,
      batchId: Long,
      idCol: String,
      sigCol: String,
      store: String,
      p: Params = Params(),
      blockCol: Option[String] = None): Unit = {
    val base = batch.where(col(sigCol).isNotNull).select(
      (Seq(col(idCol).cast("long").as("id"),
        col(sigCol).cast("long").as("sig")) ++
        blockCol.map(c => col(c).cast("long").as("blk")).toSeq): _*)
    val st = Blocks.checkpoint(base)
    val buckets = Blocks.checkpoint(
      Dedup.capBuckets(bucketTable(st.df, blockCol.isDefined),
        p.maxBucketSize, Seq("band", "bkt")))
    // verify: exact popcount of XOR
    BandIndexStore.appendBatch(st, buckets, batchId, store, p.ranges,
      "BIGINT", (sig, psig) => bit_count(sig.bitwiseXOR(psig)) <= p.maxHamming)
  }

  /** Fold the history trees' `batch_id ≤ upto` directories into one
    * ([[BandIndexStore.compact]]). */
  def compact(spark: SparkSession, store: String, upto: Long): Unit =
    BandIndexStore.compact(spark, store, upto)

  /** All verdicts so far: (batch_id, id, is_dup, dup_of). */
  def verdicts(spark: SparkSession, store: String): DataFrame =
    BandIndexStore.verdicts(spark, store)
}
