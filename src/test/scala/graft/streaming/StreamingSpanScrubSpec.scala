package graft.streaming

import graft.SparkSpec
import graft.dedup.Dedup
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import java.nio.file.Files

case class ScrubDoc(doc_id: Long, text: String)

/** The streaming first-occurrence span scrub must be BIT-IDENTICAL to
  * the one-shot q142 removeSharedSpans over the accumulated corpus
  * under ANY id-ordered micro-batch slicing, with replay-idempotent
  * segment writes. */
class StreamingSpanScrubSpec extends SparkSpec {
  import spark.implicits._

  private val paste = "this exact paragraph was pasted verbatim across " +
    "several documents and runs well past the window size"
  private val promo = "subscribe to our newsletter for the freshest " +
    "updates delivered straight to your inbox every single morning"

  // shared spans planted so copies straddle every slicing boundary
  private val corpus = (0L until 24L).map { i =>
    val body =
      if (i % 5 == 0) s"doc $i opens. $paste And doc $i closes."
      else if (i % 7 == 3) s"doc $i says: $promo Plus doc-$i-only words."
      else s"document $i carries entirely distinct prose item$i " +
        s"ingredient$i observation$i"
    ScrubDoc(i, body)
  }.toVector

  private val K = 20

  private def foldBatches(slices: Seq[Seq[ScrubDoc]]): (String, String) = {
    val store = Files.createTempDirectory("scrubstore").toString
    val out = Files.createTempDirectory("scrubout").toString
    val ckpt = Files.createTempDirectory("scrubckpt").toString
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[ScrubDoc]
    val q = VersionedStore.start(input.toDF(), ckpt)(
      StreamingSpanScrub.runBatch(_, _, "doc_id", "text",
        k = K, storePath = store, outPath = out))
    for (b <- slices) { input.addData(b: _*); q.processAllAvailable() }
    q.stop()
    (store, out)
  }

  private def oneShot: Seq[(Long, String, Long, Long, Long)] =
    Dedup.removeSharedSpans(corpus.toDF(), "doc_id", "text", K)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq

  private def streamed(out: String): Seq[(Long, String, Long, Long, Long)] =
    StreamingSpanScrub.readScrubbed(spark, out)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq

  test("one batch reproduces the one-shot scrub exactly") {
    val (_, out) = foldBatches(Seq(corpus))
    val got = streamed(out)
    assert(got.exists(_._4 > 0), "corpus must contain removals")
    assert(got === oneShot)
  }

  test("any id-ordered slicing is bit-identical to one-shot (2 and 4 cuts)") {
    val (_, out2) = foldBatches(Seq(corpus.take(9), corpus.drop(9)))
    assert(streamed(out2) === oneShot)
    val (_, out4) = foldBatches(Seq(
      corpus.take(5), corpus.slice(5, 12), corpus.slice(12, 13),
      corpus.drop(13)))
    assert(streamed(out4) === oneShot)
  }

  test("replaying a batch rewrites identical segments (idempotent)") {
    val store = Files.createTempDirectory("scrubstore2").toString
    val out = Files.createTempDirectory("scrubout2").toString
    StreamingSpanScrub.runBatch(corpus.take(12).toDF(), 0L,
      "doc_id", "text", K, store, out)
    val firstStore = StreamingSpanScrub.readStore(spark, store)
      .orderBy("wh").collect().map(_.toString).toSeq
    StreamingSpanScrub.runBatch(corpus.take(12).toDF(), 0L,
      "doc_id", "text", K, store, out) // replay
    StreamingSpanScrub.runBatch(corpus.drop(12).toDF(), 1L,
      "doc_id", "text", K, store, out)
    val replayedStore = StreamingSpanScrub.readStore(spark, store,
        beforeVersion = 1L)
      .orderBy("wh").collect().map(_.toString).toSeq
    assert(replayedStore === firstStore)
    assert(streamed(out) === oneShot)
  }
}
