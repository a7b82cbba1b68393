package graft.streaming

import graft.SparkSpec
import graft.curate.Importance
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.nio.file.Files

case class ImpDoc(doc_id: Long, text: String)

/** The streaming importance model must equal the batch q34 model over
  * the same documents under ANY micro-batch slicing (counts are sums —
  * commutative, associative), a replayed batch must reproduce its
  * snapshot, and pruning must not change the served scores. */
class StreamingImportanceSpec extends SparkSpec {
  import spark.implicits._

  private val B = 64
  private val target = array_contains(
    graft.text.WordGrams.tokens(col("text")), "spark")

  private val corpus = (
    (1L to 30L).map(i => ImpDoc(i, s"spark shuffle partition broadcast job $i")) ++
    (31L to 90L).map(i => ImpDoc(i, s"weather rainfall umbrella cloud day $i"))
  ).toVector

  private def foldBatches(slices: Seq[Seq[ImpDoc]], store: String): Unit = {
    val ckpt = Files.createTempDirectory("impckpt").toString
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[ImpDoc]
    val q = VersionedStore.start(input.toDF(), ckpt)(
      StreamingImportance.runBatch(_, _, "doc_id", "text", target, B, store))
    for (b <- slices) { input.addData(b: _*); q.processAllAvailable() }
    q.stop()
  }

  private def scored(store: String) =
    StreamingImportance.scoreWith(corpus.toDF(), "doc_id", "text", target,
        store, B)
      .orderBy("doc_id").collect().map(_.toSeq)

  test("streamed model equals the one-shot q34 operator (exact parity)") {
    val store = Files.createTempDirectory("impstore").toString
    foldBatches(Seq(corpus.take(7), corpus.slice(7, 40), corpus.drop(40)), store)
    val want = Importance.importanceWeights(corpus.toDF(), "doc_id", "text",
        target, B)
      .orderBy("doc_id").collect().map(_.toSeq)
    assert(scored(store) === want)
  }

  test("final model is invariant to micro-batch slicing (incl. empty batch)") {
    val rnd = new scala.util.Random(17)
    val shuffled = rnd.shuffle(corpus)
    val a = Files.createTempDirectory("impA").toString
    val b = Files.createTempDirectory("impB").toString
    foldBatches(Seq(corpus), a)
    foldBatches(Seq(shuffled.take(1), shuffled.slice(1, 1),
      shuffled.slice(1, 55), shuffled.drop(55)), b)
    assert(scored(a) === scored(b))
    // the snapshots themselves agree, not just the scores
    def counts(s: String) = IncrementalPipeline.readLatestDim(spark, s,
        sys.error("store must exist"))
      .orderBy("b").collect().map(_.toSeq)
    assert(counts(a) === counts(b))
  }

  test("a replayed batch reproduces its snapshot instead of double-counting") {
    val store = Files.createTempDirectory("impreplay").toString
    StreamingImportance.runBatch(corpus.take(40).toDF(), 0L,
      "doc_id", "text", target, B, store)
    StreamingImportance.runBatch(corpus.drop(40).toDF(), 1L,
      "doc_id", "text", target, B, store)
    val before = scored(store)
    // replay batch 1 (same id, same data): must rebuild from v0 only
    StreamingImportance.runBatch(corpus.drop(40).toDF(), 1L,
      "doc_id", "text", target, B, store)
    assert(scored(store) === before)
  }

  test("prune keeps the serving model intact") {
    val store = Files.createTempDirectory("impprune").toString
    foldBatches(Seq(corpus.take(10), corpus.slice(10, 50), corpus.drop(50)), store)
    val before = scored(store)
    val removed = VersionPrune.keepLatest(spark, store, keep = 2)
    assert(removed.nonEmpty)
    assert(scored(store) === before)
  }
}
