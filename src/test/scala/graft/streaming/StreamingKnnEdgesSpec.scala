package graft.streaming

import graft.SparkSpec
import graft.sim.{Ann, KnnEdgeStore}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import java.nio.file.Files

/** The streaming edge-store tier: the served snapshot must equal a
  * direct batch build over the accumulated vector set, refreshes must
  * be replay-idempotent (pinned vector reads), staleness between
  * refreshes must be bounded by the declared cadence, and the graph
  * consumers must read it unchanged. */
class StreamingKnnEdgesSpec extends SparkSpec {
  import spark.implicits._

  private def vec(i: Long): Vec = {
    // two tight clusters (ids 0-9 around e1, 100-109 around e2)
    val c = if (i >= 100) Seq(0f, 10f, 0f, 0f) else Seq(10f, 0f, 0f, 0f)
    val j = (i % 100).toInt
    Vec(i, c.zipWithIndex.map { case (v, d) =>
      v + 0.01f * (((j + 1) * (d + 3)) % 5)
    }.toArray)
  }
  private val b0 = (0L until 6L).map(vec)
  private val b1 = (100L until 106L).map(vec)
  private val b2 = Seq(vec(6L), vec(106L))

  test("served snapshot equals a direct batch build over all appended vectors") {
    val store = Files.createTempDirectory("ske").toString + "/s"
    val ckpt = Files.createTempDirectory("skeck").toString
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Vec]
    val q = VersionedStore.start(input.toDF(), ckpt)(
      StreamingKnnEdges.runBatch(_, _, "vec_id", "embedding",
        store, dim = 4, k = 3, refreshEvery = 1, numTables = 4,
        numPlanes = 2))
    for (b <- Seq(b0, b1, b2)) { input.addData(b: _*); q.processAllAvailable() }
    q.stop()
    val direct = Ann.knnGraph((b0 ++ b1 ++ b2).toDF(), "vec_id",
      "embedding", dim = 4, k = 3, numTables = 4, numPlanes = 2)
    assert(StreamingKnnEdges.edges(spark, store).collect().map(_.toSeq).toSet
      === direct.collect().map(_.toSeq).toSet)
  }

  test("refresh cadence bounds staleness; replayed refresh is idempotent") {
    val store = Files.createTempDirectory("ske2").toString + "/s"
    // batches appended by hand (the runBatch-style kernel calls)
    StreamingKnnEdges.appendVectors(b0.toDF(), 0L, "vec_id", "embedding", store)
    StreamingKnnEdges.refresh(spark, store, 0L, dim = 4, k = 3,
      numTables = 4, numPlanes = 2)
    StreamingKnnEdges.appendVectors(b1.toDF(), 1L, "vec_id", "embedding", store)
    // no refresh yet: readers still serve the batch-0 graph (stale by
    // one batch, never broken)
    val served = StreamingKnnEdges.edges(spark, store)
    assert(served.where($"query_id" >= 100L).count() === 0)
    val v0 = served.collect().map(_.toSeq).toSet
    // crash-replay of refresh 0 AFTER batch 1 was appended: the pinned
    // vector read (batch_id <= 0) must rewrite the identical snapshot
    StreamingKnnEdges.refresh(spark, store, 0L, dim = 4, k = 3,
      numTables = 4, numPlanes = 2)
    assert(StreamingKnnEdges.edges(spark, store).collect()
      .map(_.toSeq).toSet === v0)
    // the real refresh at batch 1 switches readers to the full graph
    StreamingKnnEdges.refresh(spark, store, 1L, dim = 4, k = 3,
      numTables = 4, numPlanes = 2)
    val full = StreamingKnnEdges.edges(spark, store)
    assert(full.where($"query_id" >= 100L).count() > 0)
    val direct = Ann.knnGraph((b0 ++ b1).toDF(), "vec_id", "embedding",
      dim = 4, k = 3, numTables = 4, numPlanes = 2)
    assert(full.collect().map(_.toSeq).toSet
      === direct.collect().map(_.toSeq).toSet)
    // retention: after one more refresh, prune keeps the newest pair
    StreamingKnnEdges.appendVectors(b2.toDF(), 2L, "vec_id", "embedding", store)
    StreamingKnnEdges.refresh(spark, store, 2L, dim = 4, k = 3,
      numTables = 4, numPlanes = 2)
    assert(VersionPrune.keepLatest(spark, s"$store/edges", keep = 2) === Seq(0L))
  }

  test("lifecycle compose: compaction + prune + crash-replay leave served " +
      "edges identical to an undisturbed control store") {
    // control: plain appends + one final refresh, no maintenance
    val control = Files.createTempDirectory("ske-ctl").toString + "/s"
    Seq(b0, b1, b2).zipWithIndex.foreach { case (b, i) =>
      StreamingKnnEdges.appendVectors(b.toDF(), i.toLong, "vec_id",
        "embedding", control)
    }
    StreamingKnnEdges.refresh(spark, control, 2L, dim = 4, k = 3,
      numTables = 4, numPlanes = 2)
    val want = StreamingKnnEdges.edges(spark, control).collect()
      .map(_.toSeq).toSet
    // lifecycle store: refresh mid-stream, compact the vector tree,
    // prune snapshots, then the NEXT batch crash-replays before its
    // refresh lands
    val store = Files.createTempDirectory("ske-life").toString + "/s"
    StreamingKnnEdges.appendVectors(b0.toDF(), 0L, "vec_id", "embedding", store)
    StreamingKnnEdges.refresh(spark, store, 0L, dim = 4, k = 3,
      numTables = 4, numPlanes = 2)
    StreamingKnnEdges.appendVectors(b1.toDF(), 1L, "vec_id", "embedding", store)
    StreamingKnnEdges.refresh(spark, store, 1L, dim = 4, k = 3,
      numTables = 4, numPlanes = 2)
    StreamingKnnEdges.compactVectors(spark, store, upto = 1L)
    VersionPrune.keepLatest(spark, s"$store/edges", keep = 2)
    // crash-replay: batch 2 appends, dies, replays, then refreshes
    StreamingKnnEdges.appendVectors(b2.toDF(), 2L, "vec_id", "embedding", store)
    StreamingKnnEdges.appendVectors(b2.toDF(), 2L, "vec_id", "embedding", store)
    StreamingKnnEdges.refresh(spark, store, 2L, dim = 4, k = 3,
      numTables = 4, numPlanes = 2)
    assert(StreamingKnnEdges.edges(spark, store).collect()
      .map(_.toSeq).toSet === want)
  }

  test("graph consumers read the streaming store unchanged") {
    val store = Files.createTempDirectory("ske3").toString + "/s"
    StreamingKnnEdges.appendVectors((b0 ++ b1).toDF(), 0L, "vec_id",
      "embedding", store)
    StreamingKnnEdges.refresh(spark, store, 0L, dim = 4, k = 4,
      numTables = 4, numPlanes = 2)
    val clusters = Ann.clustersFromEdges(
        StreamingKnnEdges.edges(spark, store), simThreshold = 0.99)
      .collect()
    val byCluster = clusters.groupBy(_.getAs[Long]("cluster_id"))
    assert(byCluster(0L).map(_.getAs[Long]("vec_id")).toSet
      === (0L until 6L).toSet)
    assert(byCluster(100L).map(_.getAs[Long]("vec_id")).toSet
      === (100L until 106L).toSet)
  }
}
