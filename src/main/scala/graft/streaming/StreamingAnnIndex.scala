package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sim.Ann

/** Incremental maintenance of an IVF (inverted-file) ANN index — the
  * streaming tier of [[graft.sim.Ann.ivfTopK]].
  *
  * At corpus scale the batch shape (retrain the quantizer + reassign
  * every vector per refresh) is infeasible: an index over 10¹⁰ vectors
  * cannot be rebuilt because a million new embeddings arrived. The
  * standard production split (FAISS/Milvus-style) is: train the coarse
  * quantizer ONCE on a bootstrap sample and FREEZE it; thereafter each
  * new batch only assigns its own vectors to their nearest centroid and
  * appends them to that centroid's posting list — per-batch work is
  * |batch| × numCentroids scores, independent of index size.
  *
  * The index store is a parquet tree partitioned by
  * `batch_id=N/cid=M`: each micro-batch OVERWRITES its own
  * `batch_id` directory (a replayed batch id reproduces — not
  * duplicates — its rows, the same idempotency contract as
  * [[StreamingRollup]]), and the `cid` partitioning makes a query's
  * probe read PHYSICALLY pruned — a query that probes `nProbe` of
  * `numCentroids` lists reads only those directories
  * (`PartitionFilters` in the scan, asserted in the spec), i.e.
  * ~nProbe/numCentroids of the index bytes, the property that makes
  * the read path sub-linear in index size.
  *
  * The frozen quantizer is driver-held (`numCentroids × dim` floats —
  * metadata scale BY CONSTRUCTION, the same contract as the PQ
  * codebook) and re-enters every plan as a broadcast local relation.
  * Freezing trades adaptivity for incrementality: drifted data still
  * lands in its nearest frozen list (recall degrades gracefully, never
  * correctness); periodic retrain + full rebuild is a separate batch
  * job ([[graft.sim.Ann.ivfTopK]]) by design.
  */
object StreamingAnnIndex {

  /** A frozen coarse quantizer: (cid, centroid vector, self-dot).
    * Bounded at `numCentroids × dim` floats by construction. */
  final case class Quantizer(centroids: Seq[(Long, Seq[Float], Double)]) {
    require(centroids.nonEmpty, "quantizer must have at least one centroid")
    def numCentroids: Int = centroids.size
  }

  /** Train the quantizer once from a bootstrap corpus — the same
    * deterministic hash-seeded + one-Lloyd-step quantizer as
    * [[graft.sim.Ann.ivfTopK]], collected to the driver so it can be
    * frozen across the index's lifetime. */
  def trainQuantizer(
      bootstrap: DataFrame,
      idCol: String,
      vecCol: String,
      numCentroids: Int): Quantizer = {
    val c = Ann.withNorm(
      bootstrap.select(col(idCol).as("id"), col(vecCol).as("v")), "v")
    Quantizer(
      Ann.trainCentroids(c, numCentroids)
        .select(col("cid"), col("cv"), col("c_dot"))
        .collect()
        .toSeq
        .map(r => (r.getLong(0), r.getSeq[Float](1), r.getDouble(2))))
  }

  /** The quantizer as a broadcastable (cid, cv, c_dot) frame. */
  private def centroidsDf(spark: SparkSession, q: Quantizer): DataFrame = {
    import spark.implicits._
    q.centroids.toDF("cid", "cv", "c_dot")
  }

  /** The per-batch kernel: assign each vector to its single nearest
    * frozen centroid and write the posting rows under this batch's
    * directory. Overwrite (not append) makes a replayed batch id
    * idempotent. */
  def appendBatch(
      batch: DataFrame,
      batchId: Long,
      quantizer: Quantizer,
      idCol: String,
      vecCol: String,
      store: String): Unit = {
    val assigned = Ann.assign(
      Ann.withNorm(
        batch.select(col(idCol).as("id"), col(vecCol).as("v")), "v"),
      centroidsDf(batch.sparkSession, quantizer), probe = 1)
    assigned
      .select(col("id"), col("v"), col("self_dot"), col("cid"))
      .write
      .partitionBy("cid")
      .mode("overwrite")
      .parquet(s"$store/batch_id=$batchId")
  }

  /** Fold all `batch_id ≤ upto` posting directories into one
    * ([[StoreCompaction]] — the small-files bound for long-lived
    * indexes); cid partitioning — and with it the query path's
    * directory pruning — is preserved. `upto` must be ≤ the stream's
    * last committed batch id. */
  def compact(spark: SparkSession, store: String, upto: Long): Unit =
    StoreCompaction.compactTree(spark, store, upto, Some("cid"))

  /** The whole index as one frame (batch_id, cid partition columns +
    * posting rows). `basePath` keeps the partition columns visible. */
  def readIndex(spark: SparkSession, store: String): DataFrame =
    graft.sources.Parquet.readTree(spark, store)

  /** Approximate top-k against the incrementally-built store — same
    * semantics, schema and tie-breaking as [[graft.sim.Ann.ivfTopK]]
    * (cos_sim desc, neighbor_id asc), but the corpus side is the
    * store's posting lists and only the probed `cid` directories are
    * read: the probed-list set is collected first (bounded at
    * `numCentroids` values by construction — it is a subset of the
    * driver-held quantizer's ids) and pushed as an `isin` partition
    * filter, so the scan prunes at the DIRECTORY level rather than
    * filtering rows post-read. */
  def queryTopK(
      spark: SparkSession,
      store: String,
      quantizer: Quantizer,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nProbe: Int): DataFrame = {
    val cents = centroidsDf(spark, quantizer)
    val q = Ann.assign(
      Ann.withNorm(
        queries.select(col(idCol).as("id"), col(vecCol).as("v")), "v"),
      cents, probe = nProbe)
      .select(col("id").as("query_id"), col("v").as("qv"),
        col("self_dot").as("q_dot"), col("cid"))
    // every probed cid is one of the quantizer's numCentroids ids —
    // the collect is metadata-scale no matter how many queries
    val probed = q.select(col("cid")).distinct().collect().map(_.getLong(0))
    val lists = readIndex(spark, store)
      .where(col("cid").isin(probed: _*))
      .select(col("id").as("neighbor_id"), col("v").as("cv_n"),
        col("self_dot").as("c_dot_n"), col("cid"))
    val scored = q.join(lists, Seq("cid"))
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos_sim",
        dot_sim(col("qv"), col("cv_n"), col("q_dot"), col("c_dot_n")))
    Ann.perQueryTopK(scored,
        Seq(col("cos_sim").desc, col("neighbor_id").asc), k)
      .dropDuplicates("query_id", "neighbor_id")
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("cos_sim"), 6).as("cos_sim"))
  }

  private def dot_sim(
      qv: org.apache.spark.sql.Column,
      nv: org.apache.spark.sql.Column,
      qd: org.apache.spark.sql.Column,
      nd: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    Ann.dot(qv, nv) / sqrt(qd * nd)
}
