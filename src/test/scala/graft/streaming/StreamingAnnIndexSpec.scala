package graft.streaming

import graft.SparkSpec
import graft.sim.Ann
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import java.nio.file.Files

case class Vec(vec_id: Long, embedding: Array[Float])

/** The incrementally-maintained IVF store must be a pure function of
  * the row SET (slicing-invariant, replay-idempotent), its query path
  * must degrade to exact brute force when probing is exhaustive, and
  * the probe scan must prune at the partition level. */
class StreamingAnnIndexSpec extends SparkSpec {
  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.001"

  private lazy val corpus = {
    val rows = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .selectExpr("vec_id", "embedding")
      .limit(200)
      .as[Vec].collect().toVector
    assert(rows.nonEmpty)
    rows
  }

  private lazy val quantizer = StreamingAnnIndex.trainQuantizer(
    corpus.toDF(), "vec_id", "embedding", numCentroids = 8)

  private def queryRows = corpus.take(12)

  private def topK(store: String, nProbe: Int) =
    StreamingAnnIndex.queryTopK(spark, store, quantizer,
        queryRows.toDF(), "vec_id", "embedding", k = 5, nProbe = nProbe)
      .orderBy("query_id", "rank")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getDouble(3)))

  test("store built from shuffled slices equals the one-batch store") {
    val oneShot = Files.createTempDirectory("annone").toString + "/ix"
    StreamingAnnIndex.appendBatch(corpus.toDF(), 0L, quantizer,
      "vec_id", "embedding", oneShot)

    val sliced = Files.createTempDirectory("annsliced").toString + "/ix"
    val ckpt = Files.createTempDirectory("annslicedck").toString
    val shuffled = new scala.util.Random(61).shuffle(corpus)
    val slices = Seq(shuffled.take(7), shuffled.slice(7, 120),
      shuffled.slice(120, 200))
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Vec]
    val q = VersionedStore.start(input.toDF(), ckpt)(
      StreamingAnnIndex.appendBatch(_, _, quantizer, "vec_id", "embedding", sliced))
    for (b <- slices) { input.addData(b: _*); q.processAllAvailable() }
    q.stop()

    // the stored posting SET is identical (assignment is a frozen
    // per-vector function), so every query answer is too
    assert(topK(sliced, nProbe = 2).toSeq === topK(oneShot, nProbe = 2).toSeq)
    // and so is the raw store content, batch layout aside
    val a = StreamingAnnIndex.readIndex(spark, oneShot)
      .selectExpr("id", "cid").orderBy("id").collect().map(_.toSeq)
    val b = StreamingAnnIndex.readIndex(spark, sliced)
      .selectExpr("id", "cid").orderBy("id").collect().map(_.toSeq)
    assert(b.toSeq === a.toSeq)
  }

  test("replaying a batch id reproduces the store (no duplicates)") {
    val store = Files.createTempDirectory("annreplay").toString + "/ix"
    val (b0, b1) = corpus.splitAt(100)
    StreamingAnnIndex.appendBatch(b0.toDF(), 0L, quantizer,
      "vec_id", "embedding", store)
    StreamingAnnIndex.appendBatch(b1.toDF(), 1L, quantizer,
      "vec_id", "embedding", store)
    val once = StreamingAnnIndex.readIndex(spark, store).count()
    StreamingAnnIndex.appendBatch(b1.toDF(), 1L, quantizer,
      "vec_id", "embedding", store) // retry of batch 1
    assert(StreamingAnnIndex.readIndex(spark, store).count() === once)
    assert(once === corpus.length.toLong)
  }

  test("exhaustive probing degrades to exact brute force") {
    // nProbe = numCentroids reads every posting list; the posting lists
    // partition the corpus, so the candidate set IS the corpus and the
    // result must equal bruteForceTopK row for row (same tie-breaking).
    val store = Files.createTempDirectory("annexact").toString + "/ix"
    StreamingAnnIndex.appendBatch(corpus.toDF(), 0L, quantizer,
      "vec_id", "embedding", store)
    val want = Ann.bruteForceTopK(queryRows.toDF(), corpus.toDF(),
        "vec_id", "embedding", k = 5)
      .orderBy("query_id", "rank")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getDouble(3)))
    assert(topK(store, nProbe = quantizer.numCentroids).toSeq === want.toSeq)
  }

  test("the probe scan is partition-pruned on cid") {
    val store = Files.createTempDirectory("annprune").toString + "/ix"
    StreamingAnnIndex.appendBatch(corpus.toDF(), 0L, quantizer,
      "vec_id", "embedding", store)
    val plan = StreamingAnnIndex.queryTopK(spark, store, quantizer,
        queryRows.toDF(), "vec_id", "embedding", k = 5, nProbe = 2)
      .queryExecution.executedPlan.toString
    // the cid isin filter must reach the scan as a PartitionFilter —
    // directory-level pruning, not a post-read row filter
    val partFilters = plan.linesIterator
      .filter(_.contains("PartitionFilters"))
      .mkString("\n")
    assert(partFilters.contains("cid"),
      s"no cid partition filter in scan:\n$plan")
  }
}
