package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.retrieval.Bm25

/** Incremental maintenance of a BM25 text index — the streaming tier
  * of [[graft.retrieval.Bm25]] (q113's operator). A 100 TB corpus
  * cannot re-run the tf/df/dl aggregation because a million documents
  * arrived; the production split is the Lucene one: per-batch posting
  * segments + mergeable collection statistics.
  *
  *   - POSTINGS are an append store partitioned by
  *     `batch_id=N/tkb=M` (tkb = token-hash bucket): each micro-batch
  *     OVERWRITES its own batch_id directory (replay-idempotent, the
  *     [[StreamingAnnIndex]] contract), and the tkb partitioning makes
  *     a query's probe read PHYSICALLY pruned — only the directories
  *     of the query terms' buckets are scanned (PartitionFilters,
  *     spec-asserted). Each posting row carries (token, doc_id, tf,
  *     dl) — dl denormalized so serving never joins a length table.
  *   - STATS are a versioned snapshot of the vocabulary-sized
  *     (token, df) table plus a 1-row (n_docs, total_tokens) totals
  *     table. Both are SUMS — commutative, associative,
  *     batch-splittable — so ANY micro-batch slicing of the same
  *     document stream folds to the identical statistics
  *     (exact-parity spec-proved against the one-shot operator), and
  *     idf/avgdl derive deterministically from them with the same
  *     round-once integer discipline as the batch tier.
  *
  * Replay safety: stats and totals are [[VersionedStore]] snapshot
  * stores; postings overwrite their batch directory. Retention:
  * [[VersionPrune]] on stats (floor 2), [[StoreCompaction]] on postings.
  */
object StreamingBm25 {

  val TokenBuckets = 64

  private def tkb(token: org.apache.spark.sql.Column) =
    pmod(xxhash64(token), lit(TokenBuckets.toLong)).cast("int")

  private def emptyDf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq.empty[(String, Long)].toDF("token", "df")
  }

  private def emptyTotals(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq.empty[(Long, Long)].toDF("n_docs", "total_tokens")
  }

  /** The per-batch kernel: write this batch's posting segment and fold
    * its statistics into the stats and totals snapshot stores
    * ([[VersionedStore.fold]]). Pure DataFrame logic, unit-testable
    * without a streaming context. */
  def runBatch(
      batch: DataFrame,
      batchId: Long,
      idCol: String,
      textCol: String,
      store: String): Unit = {
    val spark = batch.sparkSession
    val tf = Bm25.termFreq(batch, idCol, textCol)
    val dl = Bm25.docLen(batch, idCol, textCol)
    // posting segment: (token, doc_id, tf, dl) under batch_id/tkb
    tf.join(dl, "doc_id")
      .select(col("token"), col("doc_id"), col("tf"), col("dl"),
        tkb(col("token")).as("tkb"))
      .write.partitionBy("tkb").mode("overwrite")
      .parquet(s"$store/postings/batch_id=$batchId")
    // df snapshot: old + batch, summed (vocab-sized)
    val dfBatch = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    VersionedStore.fold(batch, batchId, s"$store/stats", emptyDf(spark))(
      _.unionByName(dfBatch)
        .groupBy(col("token")).agg(sum(col("df")).as("df")))
    // totals snapshot: 1 row, summed
    VersionedStore.fold(batch, batchId, s"$store/totals", emptyTotals(spark))(
      _.unionByName(dl.agg(count(lit(1)).as("n_docs"),
          coalesce(sum(col("dl")), lit(0L)).as("total_tokens")))
        .agg(sum(col("n_docs")).as("n_docs"),
          sum(col("total_tokens")).as("total_tokens")))
  }

  /** Serve "more like this" from the STORED index: same semantics,
    * schema, tie-breaking and integer arithmetic as
    * [[Bm25.moreLikeThis]] — bit-for-bit equal to the one-shot
    * operator over the same accumulated corpus (spec-proved) — but the
    * corpus side is the posting store, and only the query terms'
    * `tkb` directories are read: the probed bucket set is collected
    * first (≤ probes × nTerms values, metadata scale) and pushed as an
    * `isin` partition filter. Probe docs need not be stored documents;
    * a stored doc never retrieves itself. */
  def moreLikeThis(
      spark: SparkSession,
      store: String,
      probes: DataFrame,
      idCol: String,
      textCol: String,
      nTerms: Int,
      k: Int): DataFrame = {
    require(nTerms >= 1, s"nTerms must be >= 1, got $nTerms")
    require(k >= 1, s"k must be >= 1, got $k")
    val stats = IncrementalPipeline.readLatestDim(
      spark, s"$store/stats", emptyDf(spark))
    val totals = broadcast(IncrementalPipeline.readLatestDim(
        spark, s"$store/totals", emptyTotals(spark))
      .select(col("n_docs"),
        // same saturation clamp as the batch tier (Bm25.moreLikeThis)
        expr("least((100 * total_tokens) div n_docs, 4000000)").as("ac")))
    val idf = stats.crossJoin(totals)
      .select(col("token"), col("df"), col("ac"),
        round(lit(1e6) * log(lit(1.0)
          + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))))
          .cast("long").as("idf_micro"))
    val wTerm = Window.partitionBy(col("query_id"))
      .orderBy(col("df").asc, col("token").asc)
    val qterms = broadcast(
      Bm25.termFreq(probes, idCol, textCol)
        .select(col("doc_id").as("query_id"), col("token"))
        .join(idf, "token")
        .withColumn("_tr", row_number().over(wTerm))
        .where(col("_tr") <= nTerms)
        .select(col("query_id"), col("token"), col("idf_micro"), col("ac")))
    // the probed bucket set is metadata-scale: ≤ probes × nTerms values
    val probedTkb = qterms.select(tkb(col("token")).as("b")).distinct()
      .collect().map(_.getInt(0))
    val postings = graft.sources.Parquet.readTree(spark, s"$store/postings")
      .where(col("tkb").isin(probedTkb.map(_.asInstanceOf[Any]): _*))
      .select(col("token"), col("doc_id"), col("tf"), col("dl"))
    val scored = postings.join(qterms, "token")
      .where(col("doc_id") =!= col("query_id"))
      .withColumn("tfnorm_micro",
        expr("(1000000 * 22 * least(tf, 100000) * ac) " +
          "div (10 * least(tf, 100000) * ac + 3 * ac + 900 * dl)"))
      .withColumn("w_micro", expr("(idf_micro * tfnorm_micro) div 1000000"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("w_micro")).as("bm25_micro"))
    val wRank = Window.partitionBy(col("query_id"))
      .orderBy(col("bm25_micro").desc, col("doc_id").asc)
    scored.withColumn("rnk", row_number().over(wRank))
      .where(col("rnk") <= k)
      .select(col("query_id"), col("rnk"), col("doc_id"), col("bm25_micro"))
  }

  /** Fold posting segments `batch_id ≤ upto` into one directory
    * (tkb pruning preserved). */
  def compact(spark: SparkSession, store: String, upto: Long): Unit =
    StoreCompaction.compactTree(spark, s"$store/postings", upto, Some("tkb"))

  /** Retention for the stats/totals snapshots (floor keep = 2). */
  def prune(spark: SparkSession, store: String, keep: Int = 2): Seq[Long] = {
    val a = VersionPrune.keepLatest(spark, s"$store/stats", keep)
    val b = VersionPrune.keepLatest(spark, s"$store/totals", keep)
    a ++ b
  }
}
