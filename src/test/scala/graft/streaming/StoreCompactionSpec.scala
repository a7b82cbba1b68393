package graft.streaming

import graft.SparkSpec
import org.apache.hadoop.fs.Path
import java.nio.file.Files

/** Compaction must be invisible to every reader (same verdicts, same
  * query answers, same history semantics for later batches), bound the
  * directory count, keep the inner partition layout (and with it the
  * pruned read path), and converge when re-run. */
class StoreCompactionSpec extends SparkSpec {
  import spark.implicits._

  private def base(i: Long) = NdDoc(i, (0 until 30).map(t => s"w$i-$t").mkString(" "))
  private val p = StreamingNearDedup.Params(
    shingleK = 3, numPerm = 32, bands = 16, simThreshold = 0.5, ranges = 8)

  private def batchDirs(path: String): Seq[String] = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("batch_id="))
  }

  test("near-dedup: compaction preserves history semantics and bounds dirs") {
    val store = Files.createTempDirectory("ndcompact").toString + "/s"
    // batches 0..2 indexed, then compact, then batch 3 arrives with a
    // near-copy of a COMPACTED-away batch's doc — it must still flag
    StreamingNearDedup.appendBatch(
      (0L until 8L).map(base).toDF(), 0L, "doc_id", "text", store, p)
    StreamingNearDedup.appendBatch(
      (8L until 16L).map(base).toDF(), 1L, "doc_id", "text", store, p)
    StreamingNearDedup.appendBatch(
      (16L until 20L).map(base).toDF(), 2L, "doc_id", "text", store, p)
    val before = StreamingNearDedup.verdicts(spark, store)
      .orderBy("id").collect().map(_.toSeq)

    StreamingNearDedup.compact(spark, store, upto = 2L)
    assert(batchDirs(s"$store/buckets") === Seq("batch_id=2"))
    assert(batchDirs(s"$store/docs") === Seq("batch_id=2"))
    // verdicts tree untouched; re-read identical
    val after = StreamingNearDedup.verdicts(spark, store)
      .orderBy("id").collect().map(_.toSeq)
    assert(after.toSeq === before.toSeq)

    // doc 20 near-dups doc 3 (from compacted batch 0): one of 30
    // tokens changed
    StreamingNearDedup.appendBatch(
      Seq(NdDoc(20L, base(3).text.replace("w3-11", "swapped")),
        NdDoc(21L, base(98).text)).toDF(),
      3L, "doc_id", "text", store, p)
    val v3 = StreamingNearDedup.verdicts(spark, store)
      .where("batch_id = 3").orderBy("id").collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[Boolean]("is_dup")))
    assert(v3.toSeq === Seq((20L, true), (21L, false)))
  }

  test("near-dedup: compaction is a no-op to re-run") {
    val store = Files.createTempDirectory("ndcompact2").toString + "/s"
    StreamingNearDedup.appendBatch(
      (0L until 6L).map(base).toDF(), 0L, "doc_id", "text", store, p)
    StreamingNearDedup.appendBatch(
      (6L until 12L).map(base).toDF(), 1L, "doc_id", "text", store, p)
    StreamingNearDedup.compact(spark, store, upto = 1L)
    val once = spark.read.option("basePath", s"$store/buckets")
      .parquet(s"$store/buckets").orderBy("id", "band").collect().map(_.toSeq)
    StreamingNearDedup.compact(spark, store, upto = 1L) // converged already
    val twice = spark.read.option("basePath", s"$store/buckets")
      .parquet(s"$store/buckets").orderBy("id", "band").collect().map(_.toSeq)
    assert(twice.toSeq === once.toSeq)
  }

  test("ann index: compaction keeps answers and the cid pruning layout") {
    val corpus = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
      .selectExpr("vec_id", "embedding").limit(200)
      .as[Vec].collect().toVector
    val qz = StreamingAnnIndex.trainQuantizer(
      corpus.toDF(), "vec_id", "embedding", numCentroids = 8)
    val store = Files.createTempDirectory("anncompact").toString + "/ix"
    corpus.grouped(70).zipWithIndex.foreach { case (b, i) =>
      StreamingAnnIndex.appendBatch(b.toDF(), i.toLong, qz,
        "vec_id", "embedding", store)
    }
    def answers() = StreamingAnnIndex.queryTopK(spark, store, qz,
        corpus.take(10).toDF(), "vec_id", "embedding", k = 5, nProbe = 2)
      .orderBy("query_id", "rank").collect().map(_.toSeq)
    val before = answers()
    StreamingAnnIndex.compact(spark, store, upto = 2L)
    assert(batchDirs(store) === Seq("batch_id=2"))
    assert(answers().toSeq === before.toSeq)
    // the probe scan is still partition-pruned after compaction
    val plan = StreamingAnnIndex.queryTopK(spark, store, qz,
        corpus.take(10).toDF(), "vec_id", "embedding", k = 5, nProbe = 2)
      .queryExecution.executedPlan.toString
    val pf = plan.linesIterator.filter(_.contains("PartitionFilters"))
      .mkString("\n")
    assert(pf.contains("cid"), s"cid pruning lost after compaction:\n$plan")
  }

  test("a stray non-id batch directory is neither parsed, read nor deleted") {
    val tree = Files.createTempDirectory("straytree").toString + "/t"
    Seq((1L, "a"), (2L, "b")).toDF("id", "x")
      .write.parquet(s"$tree/batch_id=0")
    Seq((3L, "c")).toDF("id", "x").write.parquet(s"$tree/batch_id=1")
    new java.io.File(s"$tree/batch_id=tmp").mkdirs()
    StoreCompaction.compactTree(spark, tree, upto = 1L, innerPartition = None)
    assert(batchDirs(tree).sorted === Seq("batch_id=1", "batch_id=tmp"))
    assert(spark.read.parquet(s"$tree/batch_id=1").orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq ===
      Seq((1L, "a"), (2L, "b"), (3L, "c")))
  }
}
