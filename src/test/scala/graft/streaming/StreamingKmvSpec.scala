package graft.streaming

import graft.SparkSpec
import graft.sketch.Kmv
import graft.text.WordGrams
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.nio.file.Files

case class KmvDoc(doc_id: Long, source: String, text: String)

/** The incrementally-maintained KMV sketch must be BIT-IDENTICAL to a
  * one-shot [[Kmv.minK]] over the accumulated corpus under ANY
  * micro-batch slicing (bottom-k of distinct hashes is a lossless
  * mergeable summary), with replay-idempotent writes and prune-stable
  * serving. */
class StreamingKmvSpec extends SparkSpec {
  import spark.implicits._

  private val K = 16
  private val words =
    Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta",
      "theta", "iota", "kappa", "lambda", "mu")

  private val corpus = (0L until 36L).map { i =>
    val w = (0 until 10).map(j => words(((i * 7 + j * 3) % 12).toInt))
    KmvDoc(i, s"src${i % 3}", w.mkString(" ") + s" unique$i tail words here")
  }.toVector

  private def foldBatches(slices: Seq[Seq[KmvDoc]], store: String): Unit = {
    val ckpt = Files.createTempDirectory("kmvckpt").toString
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[KmvDoc]
    val q = VersionedStore.start(input.toDF(), ckpt)(
      StreamingKmv.runBatch(_, _, "source", "doc_id", "text",
        gramN = 3, k = K, storePath = store))
    for (b <- slices) { input.addData(b: _*); q.processAllAvailable() }
    q.stop()
  }

  private def storedSketch(store: String): Set[(String, Long)] =
    StreamingKmv.readLatestSketch(spark, store)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet

  private def oneShotSketch: Set[(String, Long)] = {
    val df = corpus.toDF()
    val grams = WordGrams.grams(df, "doc_id", "text", 3)
      .join(df.select(col("doc_id"), col("source").as("_src")), Seq("doc_id"))
    Kmv.minK(grams, "_src", "gram", K)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
  }

  test("final sketch equals the one-shot build (exact parity)") {
    val store = Files.createTempDirectory("kmvstoreA").toString
    foldBatches(Seq(corpus.take(10), corpus.slice(10, 25), corpus.drop(25)),
      store)
    assert(storedSketch(store) === oneShotSketch)
  }

  test("sketch is invariant to micro-batch slicing (incl. empty batch)") {
    val rnd = new scala.util.Random(11)
    val shuffled = rnd.shuffle(corpus)
    val a = Files.createTempDirectory("kmvstoreB").toString
    val b = Files.createTempDirectory("kmvstoreC").toString
    foldBatches(Seq(corpus), a)
    foldBatches(Seq(shuffled.take(5), shuffled.slice(5, 5),
      shuffled.slice(5, 20), shuffled.drop(20)), b)
    assert(storedSketch(a) === storedSketch(b))
  }

  test("served overlap equals one-shot pairwiseOverlap; replay + prune stable") {
    val store = Files.createTempDirectory("kmvstoreD").toString
    foldBatches(Seq(corpus.take(20), corpus.drop(20)), store)
    val served = StreamingKmv.overlapFromStore(spark, store, K)
      .orderBy("src_a", "src_b").collect().map(_.toSeq)
    val oneShot = {
      val df = corpus.toDF()
      val grams = WordGrams.grams(df, "doc_id", "text", 3)
        .join(df.select(col("doc_id"), col("source").as("_src")), Seq("doc_id"))
      Kmv.pairwiseOverlap(Kmv.minK(grams, "_src", "gram", K), K)
        .orderBy("src_a", "src_b").collect().map(_.toSeq)
    }
    assert(served === oneShot)
    // replay the LAST batch (id 1) — foreachBatch re-delivery contract
    StreamingKmv.runBatch(corpus.drop(20).toDF(), 1L, "source", "doc_id",
      "text", gramN = 3, k = K, storePath = store)
    assert(StreamingKmv.overlapFromStore(spark, store, K)
      .orderBy("src_a", "src_b").collect().map(_.toSeq) === served,
      "replay changed the served answer")
    VersionPrune.keepLatest(spark, store, keep = 2)
    assert(StreamingKmv.overlapFromStore(spark, store, K)
      .orderBy("src_a", "src_b").collect().map(_.toSeq) === served,
      "prune changed the served answer")
  }
}
