package graft.streaming

import graft.SparkSpec
import graft.text.WordGrams
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.nio.file.Files

case class NovDoc(doc_id: Long, text: String)

/** The streaming first-occurrence novelty verdicts must be
  * BIT-IDENTICAL to the one-shot q133 noveltyProfile over the
  * accumulated corpus under ANY id-ordered micro-batch slicing, with
  * replay-idempotent segment writes; out-of-order arrival attributes
  * firsts by ARRIVAL (the documented streaming semantics). */
class StreamingNoveltySpec extends SparkSpec {
  import spark.implicits._

  private val words =
    Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta",
      "theta", "iota", "kappa")

  private val corpus = (0L until 30L).map { i =>
    val w = (0 until 8).map(j => words(((i * 5 + j * 3) % 10).toInt))
    NovDoc(i, w.mkString(" ") + (if (i % 4 == 0) s" fresh$i text" else ""))
  }.toVector

  private def foldBatches(slices: Seq[Seq[NovDoc]]): (String, String) = {
    val store = Files.createTempDirectory("novstore").toString
    val out = Files.createTempDirectory("novout").toString
    val ckpt = Files.createTempDirectory("novckpt").toString
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[NovDoc]
    val q = VersionedStore.start(input.toDF(), ckpt)(
      StreamingNovelty.runBatch(_, _, "doc_id", "text",
        n = 3, keepFloorPpm = 500000L, storePath = store, outPath = out))
    for (b <- slices) { input.addData(b: _*); q.processAllAvailable() }
    q.stop()
    (store, out)
  }

  private def batchTruth: Seq[(Long, Long, Long, Long, Boolean)] =
    WordGrams.noveltyProfile(corpus.toDF(), "doc_id", "text", 3, 500000L)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4))).toSeq

  private def streamed(out: String): Seq[(Long, Long, Long, Long, Boolean)] =
    StreamingNovelty.readVerdicts(spark, out)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4))).toSeq

  test("one batch reproduces the one-shot profile exactly") {
    val (_, out) = foldBatches(Seq(corpus))
    assert(streamed(out) === batchTruth)
  }

  test("any id-ordered slicing is bit-identical to one-shot (2 and 3 cuts)") {
    val (_, out2) = foldBatches(Seq(corpus.take(11), corpus.drop(11)))
    assert(streamed(out2) === batchTruth)
    val (_, out3) = foldBatches(
      Seq(corpus.take(7), corpus.slice(7, 23), corpus.drop(23)))
    assert(streamed(out3) === batchTruth)
  }

  test("replayed batch reproduces its segments instead of double-applying") {
    val store = Files.createTempDirectory("novstore").toString
    val out = Files.createTempDirectory("novout").toString
    StreamingNovelty.runBatch(corpus.take(15).toDF(), 0L,
      "doc_id", "text", 3, 500000L, store, out)
    val afterFirst = StreamingNovelty.readStore(spark, store)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    // crash-replay: same batch id, same data
    StreamingNovelty.runBatch(corpus.take(15).toDF(), 0L,
      "doc_id", "text", 3, 500000L, store, out)
    StreamingNovelty.runBatch(corpus.drop(15).toDF(), 1L,
      "doc_id", "text", 3, 500000L, store, out)
    val replayedStore = StreamingNovelty.readStore(spark, store)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(afterFirst.subsetOf(replayedStore))
    assert(streamed(out) === batchTruth)
  }

  test("out-of-order arrival attributes firsts by arrival, not min id") {
    val store = Files.createTempDirectory("novstore").toString
    val out = Files.createTempDirectory("novout").toString
    val later = NovDoc(10L, "shared trigram text here")
    val earlier = NovDoc(5L, "shared trigram text here")
    StreamingNovelty.runBatch(Seq(later).toDF(), 0L,
      "doc_id", "text", 3, 500000L, store, out)
    StreamingNovelty.runBatch(Seq(earlier).toDF(), 1L,
      "doc_id", "text", 3, 500000L, store, out)
    val v = StreamingNovelty.readVerdicts(spark, out)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(v(10L) > 0L, "first arrival owns the grams")
    assert(v(5L) === 0L, "smaller id arriving later is not novel")
  }

  test("the gram store holds each gram exactly once, in its introducing batch") {
    val (store, _) = foldBatches(Seq(corpus.take(11), corpus.drop(11)))
    val grams = StreamingNovelty.readStore(spark, store)
      .select("gram").collect().map(_.getString(0)).toSeq
    assert(grams.distinct.size === grams.size)
  }
}
