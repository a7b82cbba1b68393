package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.dedup.Dedup
import graft.util.Blocks

/** Cross-batch NEAR-duplicate annotation against a persistent
  * signature store — the streaming face of [[graft.dedup.Dedup]]'s
  * MinHash family, for the case [[StreamingDedup]] (exact fingerprints,
  * watermark-bounded state) cannot cover: a paraphrased/boilerplate
  * near-copy of a document indexed MONTHS ago must still be flagged, so
  * the index lives for the corpus's lifetime, not a watermark horizon.
  *
  * Semantics (arrival-order, the contract every online dedup has —
  * q64/q83's batch-vs-snapshot anti-joins are the same shape): a
  * document is flagged iff it near-duplicates a document indexed in an
  * EARLIER batch, or an earlier (smaller-id) document of its OWN batch;
  * `dup_of` attributes the smallest such partner id. Verdicts are a
  * deterministic function of the arrival sequence, and cutting that
  * sequence into different micro-batch boundaries provably cannot
  * change them (spec: identical verdicts across re-slicings).
  *
  * Near-duplication here is the MinHash ESTIMATE — candidates must
  * share an LSH band and the fraction of agreeing signature components
  * must reach `simThreshold`. The batch operator
  * ([[Dedup.minHashDedupFromShingles]]) verifies candidates with exact
  * Jaccard over shingle arrays; an ever-growing store of shingle arrays
  * is corpus text re-materialized, so the streaming tier deliberately
  * stores only the `numPerm`-long signature per doc (the standard
  * E[estimate] = Jaccard estimator) and verifies against THAT.
  * Identical documents estimate 1.0 in every component, so
  * exact-duplicate recall is 1 regardless of banding.
  *
  * Store layout and read path: [[BandIndexStore]], shared with
  * [[StreamingSimhashDedup]].
  */
object StreamingNearDedup {

  /** Tuning knobs. `numPerm` must be divisible by `bands`;
    * `maxBucketSize` caps a degenerate bucket's per-batch self-join
    * (the boilerplate-doc quadratic guard, same as the batch op). */
  final case class Params(
      shingleK: Int = 3,
      numPerm: Int = 32,
      bands: Int = 8,
      simThreshold: Double = 0.5,
      maxBucketSize: Int = 10000,
      ranges: Int = 64) {
    require(numPerm % bands == 0, s"numPerm $numPerm not divisible by bands $bands")
    require(simThreshold > 0 && simThreshold <= 1, s"bad simThreshold $simThreshold")
    require(ranges >= 1, s"ranges must be >= 1, got $ranges")
  }

  /** Fraction of agreeing components between two equal-length signature
    * arrays — the unbiased MinHash estimate of Jaccard similarity. */
  private[streaming] def sigAgreement(a: org.apache.spark.sql.Column,
      b: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    aggregate(zip_with(a, b, (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), (acc, e) => acc + e).cast("double") / size(a)

  /** The batch's (id, sig array, band/bkt rows) — signatures via the
    * shared shingle pipeline, sig packed into one array column. */
  private def sigTable(batch: DataFrame, idCol: String, textCol: String,
      p: Params): DataFrame = {
    val sigs = Dedup.minHashSignaturesFromShingles(
      Dedup.shingleTable(batch, idCol, textCol, p.shingleK), p.numPerm)
    sigs.select(col("id"),
      array((0 until p.numPerm).map(i => col(s"m$i")): _*).as("sig"),
      Dedup.bandKeys(p.bands, p.numPerm / p.bands).as("bb"))
  }

  /** The per-batch kernel (run per micro-batch by
    * [[VersionedStore.start]]); a backfill driver (or a spec) can run it
    * against explicit frames. */
  def appendBatch(
      batch: DataFrame,
      batchId: Long,
      idCol: String,
      textCol: String,
      store: String,
      p: Params = Params()): Unit = {
    // signatures + band buckets for THIS batch, materialized once —
    // consumed by the within-batch self-join, both history joins, the
    // verification joins and the store writes
    val st = Blocks.checkpoint(sigTable(batch, idCol, textCol, p))
    val buckets = Blocks.checkpoint(
      Dedup.capBuckets(
        st.df.select(col("id"), explode(col("bb")).as("e"))
          .select(col("id"), col("e.band").as("band"), col("e.bucket").as("bkt")),
        p.maxBucketSize, Seq("band", "bkt")))
    BandIndexStore.appendBatch(st, buckets, batchId, store, p.ranges,
      "ARRAY<BIGINT>", (sig, psig) => sigAgreement(sig, psig) >= p.simThreshold)
  }

  /** Fold the history trees' `batch_id ≤ upto` directories into one
    * ([[BandIndexStore.compact]]). */
  def compact(spark: SparkSession, store: String, upto: Long): Unit =
    BandIndexStore.compact(spark, store, upto)

  /** All verdicts so far: (batch_id, id, is_dup, dup_of). */
  def verdicts(spark: SparkSession, store: String): DataFrame =
    BandIndexStore.verdicts(spark, store)
}
