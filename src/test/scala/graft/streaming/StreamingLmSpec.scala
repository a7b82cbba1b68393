package graft.streaming

import graft.SparkSpec
import graft.text.NgramLm
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.nio.file.Files

case class LmDoc(doc_id: Long, text: String)

/** The streamed bigram LM must equal the one-shot q35 model under any
  * micro-batch slicing, replay must not double-count, and the serving
  * path must score an UNSEEN frame sensibly (corpus-speech kept,
  * gibberish rejected) against the stored model. */
class StreamingLmSpec extends SparkSpec {
  import spark.implicits._

  private val B = 16
  private val sentences = Seq(
    "the quick brown fox jumps over the lazy dog",
    "a stitch in time saves nine every single day",
    "all that glitters is not gold in the end",
    "the early bird catches the worm every day")
  private val corpus = (1L to 300L)
    .map(i => LmDoc(i, sentences((i % 4).toInt))).toVector

  private def foldBatches(slices: Seq[Seq[LmDoc]], store: String): Unit = {
    val ckpt = Files.createTempDirectory("lmckpt").toString
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[LmDoc]
    val q = VersionedStore.start(input.toDF(), ckpt)(
      StreamingLm.runBatch(_, _, "doc_id", "text", B, store))
    for (b <- slices) { input.addData(b: _*); q.processAllAvailable() }
    q.stop()
  }

  private def scored(store: String) =
    StreamingLm.scoreWith(corpus.toDF(), "doc_id", "text", store, B)
      .orderBy("doc_id").collect().map(_.toSeq)

  test("streamed LM equals the one-shot q35 operator (exact parity)") {
    val store = Files.createTempDirectory("lmstore").toString
    foldBatches(Seq(corpus.take(11), corpus.slice(11, 200), corpus.drop(200)),
      store)
    val want = NgramLm.perplexityFilter(corpus.toDF(), "doc_id", "text", B)
      .orderBy("doc_id").collect().map(_.toSeq)
    assert(scored(store) === want)
  }

  test("final LM is invariant to micro-batch slicing") {
    val rnd = new scala.util.Random(5)
    val shuffled = rnd.shuffle(corpus)
    val a = Files.createTempDirectory("lmA").toString
    val b = Files.createTempDirectory("lmB").toString
    foldBatches(Seq(corpus), a)
    foldBatches(Seq(shuffled.take(3), shuffled.slice(3, 3),
      shuffled.slice(3, 150), shuffled.drop(150)), b)
    assert(scored(a) === scored(b))
  }

  test("replayed batch reproduces its snapshot instead of double-counting") {
    val store = Files.createTempDirectory("lmreplay").toString
    StreamingLm.runBatch(corpus.take(100).toDF(), 0L, "doc_id", "text", B, store)
    StreamingLm.runBatch(corpus.drop(100).toDF(), 1L, "doc_id", "text", B, store)
    val before = scored(store)
    StreamingLm.runBatch(corpus.drop(100).toDF(), 1L, "doc_id", "text", B, store)
    assert(scored(store) === before)
  }

  test("serving path: stored model filters an unseen frame") {
    val store = Files.createTempDirectory("lmserve").toString
    foldBatches(Seq(corpus), store)
    val incoming = Seq(
      LmDoc(900L, sentences(0)), // corpus speech
      LmDoc(901L, "qx7 vz93 jjq0 wpl2 kd8n rr4t yb6m zc1s hh5v nq2k md9x tt3p aw8j fo4y ue7r ik2w")
    ).toDF("doc_id", "text")
    val out = StreamingLm.scoreWith(incoming, "doc_id", "text", store, B)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("kept")).toMap
    assert(out(900L))
    assert(!out.getOrElse(901L, true),
      "gibberish must be rejected (or drop out entirely when no bigram is known)")
  }
}
