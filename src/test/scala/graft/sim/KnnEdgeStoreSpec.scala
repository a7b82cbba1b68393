package graft.sim

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import java.nio.file.Files
import graft.streaming.VersionPrune

/** The persisted kNN-edge-store tier: snapshots must serve exactly the
  * direct [[Ann.knnGraph]] answer, subgraph reads must equal direct
  * smaller-k builds, replays must be idempotent, retention must keep
  * the replay floor, and both edge CONSUMERS (triple miner, cluster
  * walk) must return bit-identical results off the store vs off an
  * inline build — the lifecycle contract that lets q123/q126 pay the
  * edge build once. */
class KnnEdgeStoreSpec extends SparkSpec {
  import spark.implicits._

  // two tight clusters + an isolated point: enough structure that the
  // graph has real near edges (cos > 0.99 in-cluster) and real far
  // edges, deterministic (no RNG)
  private def corpus: DataFrame = {
    def around(center: Seq[Float], base: Long, n: Int) =
      (0 until n).map { i =>
        (base + i,
          center.zipWithIndex.map { case (c, j) =>
            c + 0.01f * (((i + 1) * (j + 3)) % 5)
          })
      }
    (around(Seq(10f, 0f, 0f, 0f), 0L, 6) ++
      around(Seq(0f, 10f, 0f, 0f), 100L, 6) ++
      // 500 sits between the clusters (cos ≈ 0.70 to cluster A — its
      // hard-negative edges); 501 is its near-dup (cos ≈ 0.986 — its
      // in-band positive), so anchor 500 mines a COMPLETE triple
      Seq((500L, Seq(5f, 5f, 1f, 0f)),
        (501L, Seq(5.5f, 4.5f, 1f, 1f)))).toDF("vec_id", "embedding")
  }

  private def rows(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  test("snapshot read-back equals the direct knnGraph build") {
    val store = Files.createTempDirectory("knn-es").toString + "/s"
    KnnEdgeStore.buildVersion(corpus, "vec_id", "embedding", dim = 4,
      k = 3, store = store, version = 1L, numTables = 4, numPlanes = 2)
    val direct = Ann.knnGraph(corpus, "vec_id", "embedding", dim = 4,
      k = 3, numTables = 4, numPlanes = 2)
    assert(rows(KnnEdgeStore.readLatest(spark, store)) === rows(direct))
  }

  test("rank-filtered subgraph of a k-snapshot equals the direct k'-NN build") {
    val store = Files.createTempDirectory("knn-es-sub").toString + "/s"
    KnnEdgeStore.buildVersion(corpus, "vec_id", "embedding", dim = 4,
      k = 4, store = store, version = 1L, numTables = 4, numPlanes = 2)
    val sub = KnnEdgeStore.readLatest(spark, store)
      .where($"rank" <= 2)
    val direct = Ann.knnGraph(corpus, "vec_id", "embedding", dim = 4,
      k = 2, numTables = 4, numPlanes = 2)
    assert(rows(sub) === rows(direct))
  }

  test("replayed build of the same version reproduces, not duplicates") {
    val store = Files.createTempDirectory("knn-es-replay").toString + "/s"
    KnnEdgeStore.buildVersion(corpus, "vec_id", "embedding", dim = 4,
      k = 3, store = store, version = 1L, numTables = 4, numPlanes = 2)
    val first = rows(KnnEdgeStore.readLatest(spark, store))
    // crash-replay: the same version id built again (overwrite)
    KnnEdgeStore.buildVersion(corpus, "vec_id", "embedding", dim = 4,
      k = 3, store = store, version = 1L, numTables = 4, numPlanes = 2)
    val replayed = KnnEdgeStore.readLatest(spark, store)
    assert(rows(replayed) === first)
    assert(replayed.count() === first.size.toLong, "no row duplication")
  }

  test("readers serve the newest version; prune keeps the retention floor") {
    val store = Files.createTempDirectory("knn-es-ver").toString + "/s"
    KnnEdgeStore.buildVersion(corpus, "vec_id", "embedding", dim = 4,
      k = 2, store = store, version = 1L, numTables = 4, numPlanes = 2)
    // v2 is a refresh over a GROWN corpus — readers must switch to it
    val grown = corpus.unionByName(
      Seq((600L, Seq(10.01f, 0.02f, 0f, 0f))).toDF("vec_id", "embedding"))
    KnnEdgeStore.buildVersion(grown, "vec_id", "embedding", dim = 4,
      k = 2, store = store, version = 2L, numTables = 4, numPlanes = 2)
    val latest = KnnEdgeStore.readLatest(spark, store)
    assert(latest.where($"query_id" === 600L).count() > 0,
      "latest snapshot must include the refreshed corpus")
    // pinned read below v2 still serves v1
    val pinned = KnnEdgeStore.readLatest(spark, store, beforeVersion = 2L)
    assert(pinned.where($"query_id" === 600L).count() === 0)
    // retention: keep=2 is a no-op here; keep the pair then verify the
    // newest still serves after pruning
    assert(VersionPrune.keepLatest(spark, store, keep = 2).isEmpty)
    KnnEdgeStore.buildVersion(grown, "vec_id", "embedding", dim = 4,
      k = 2, store = store, version = 3L, numTables = 4, numPlanes = 2)
    assert(VersionPrune.keepLatest(spark, store, keep = 2) === Seq(1L))
    assert(rows(KnnEdgeStore.readLatest(spark, store)).nonEmpty)
  }

  test("readLatest fails loudly on an empty or missing store") {
    val store = Files.createTempDirectory("knn-es-empty").toString + "/s"
    val e = intercept[IllegalArgumentException] {
      KnnEdgeStore.readLatest(spark, store)
    }
    assert(e.getMessage.contains("no committed edge snapshot"))
  }

  test("triple miner off the store equals the inline contrastiveTriples") {
    val store = Files.createTempDirectory("knn-es-tri").toString + "/s"
    KnnEdgeStore.buildVersion(corpus, "vec_id", "embedding", dim = 4,
      k = 4, store = store, version = 1L, numTables = 4, numPlanes = 2)
    val offStore = Ann.triplesFromEdges(
      KnnEdgeStore.readLatest(spark, store),
      posLo = 0.9, posHi = 0.9999, negHi = 0.75)
    val inline = Ann.contrastiveTriples(corpus, "vec_id", "embedding",
      dim = 4, posLo = 0.9, posHi = 0.9999, negHi = 0.75, k = 4,
      numTables = 4, numPlanes = 2)
    assert(rows(offStore) === rows(inline))
    assert(offStore.count() > 0, "clustered corpus must mine triples")
  }

  test("cluster walk off the store recovers the two planted clusters") {
    val store = Files.createTempDirectory("knn-es-cc").toString + "/s"
    KnnEdgeStore.buildVersion(corpus, "vec_id", "embedding", dim = 4,
      k = 4, store = store, version = 1L, numTables = 4, numPlanes = 2)
    val out = Ann.clustersFromEdges(
        KnnEdgeStore.readLatest(spark, store), simThreshold = 0.99)
      .collect()
    val byCluster = out.groupBy(_.getAs[Long]("cluster_id"))
    // the two tight 6-member clusters contract to min-id labels 0/100
    assert(byCluster(0L).map(_.getAs[Long]("vec_id")).toSet
      === (0L until 6L).toSet)
    assert(byCluster(100L).map(_.getAs[Long]("vec_id")).toSet
      === (100L until 106L).toSet)
    // exactly the min-id member keeps; sizes are exact
    out.foreach { r =>
      assert(r.getAs[Boolean]("is_kept")
        === (r.getAs[Long]("vec_id") == r.getAs[Long]("cluster_id")))
      assert(r.getAs[Long]("n_members") === 6L)
    }
    // the isolated point never clusters
    assert(!out.exists(_.getAs[Long]("vec_id") == 500L))
  }
}
