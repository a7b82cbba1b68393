package graft.streaming

import graft.SparkSpec
import graft.retrieval.Bm25
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.nio.file.Files

case class Bm25Doc(doc_id: Long, text: String)

/** The incrementally-built BM25 index must serve BIT-IDENTICAL results
  * to the one-shot [[graft.retrieval.Bm25]] operator over the same
  * accumulated corpus, under ANY micro-batch slicing (tf/df/dl/totals
  * are sums), with the posting read physically pruned to the query
  * terms' tkb directories, replay-idempotent and prune-stable. */
class StreamingBm25Spec extends SparkSpec {
  import spark.implicits._

  private val corpus = (
    (0L until 6L).map(i => Bm25Doc(i, s"zebra quartz common word doc $i")) ++
    (6L until 30L).map(i => Bm25Doc(i, s"common word filler text number $i")) ++
    (30L until 40L).map(i => Bm25Doc(i, s"quartz garnet mineral sample $i"))
  ).toVector

  private def foldBatches(slices: Seq[Seq[Bm25Doc]], store: String): Unit = {
    val ckpt = Files.createTempDirectory("bmckpt").toString
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Bm25Doc]
    val q = VersionedStore.start(input.toDF(), ckpt)(
      StreamingBm25.runBatch(_, _, "doc_id", "text", store))
    for (b <- slices) { input.addData(b: _*); q.processAllAvailable() }
    q.stop()
  }

  private def serve(store: String) =
    StreamingBm25.moreLikeThis(spark, store,
        corpus.toDF().where(col("doc_id") < 3), "doc_id", "text",
        nTerms = 2, k = 5)
      .orderBy("query_id", "rnk").collect().map(_.toSeq)

  private def batchAnswer =
    Bm25.moreLikeThis(corpus.toDF(), "doc_id", "text",
        probeFilter = _ < 3, nTerms = 2, k = 5)
      .orderBy("query_id", "rnk").collect().map(_.toSeq)

  test("served ranking equals the one-shot operator (exact parity)") {
    val store = Files.createTempDirectory("bmstore").toString
    foldBatches(Seq(corpus.take(10), corpus.slice(10, 33), corpus.drop(33)),
      store)
    assert(serve(store) === batchAnswer)
  }

  test("final index is invariant to micro-batch slicing (incl. empty batch)") {
    val rnd = new scala.util.Random(23)
    val shuffled = rnd.shuffle(corpus)
    val a = Files.createTempDirectory("bmA").toString
    val b = Files.createTempDirectory("bmB").toString
    foldBatches(Seq(corpus), a)
    foldBatches(Seq(shuffled.take(4), shuffled.slice(4, 4),
      shuffled.slice(4, 21), shuffled.drop(21)), b)
    assert(serve(a) === serve(b))
  }

  test("replayed batch reproduces the snapshot; prune keeps serving intact") {
    val store = Files.createTempDirectory("bmR").toString
    foldBatches(Seq(corpus.take(20), corpus.drop(20)), store)
    val before = serve(store)
    // replay the LAST batch (id 1) — foreachBatch re-delivery contract
    StreamingBm25.runBatch(corpus.drop(20).toDF(), 1L, "doc_id", "text", store)
    assert(serve(store) === before, "replay changed the served answer")
    StreamingBm25.prune(spark, store, keep = 2)
    assert(serve(store) === before, "prune changed the served answer")
  }

  test("posting read prunes to the probed tkb directories") {
    val store = Files.createTempDirectory("bmP").toString
    foldBatches(Seq(corpus), store)
    val plan = StreamingBm25.moreLikeThis(spark, store,
        corpus.toDF().where(col("doc_id") === 0L), "doc_id", "text",
        nTerms = 1, k = 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("tkb"),
      s"expected tkb partition pruning in the posting scan:\n$plan")
  }

  test("compaction is reader-invisible") {
    val store = Files.createTempDirectory("bmC").toString
    foldBatches(Seq(corpus.take(15), corpus.slice(15, 30), corpus.drop(30)),
      store)
    val before = serve(store)
    StreamingBm25.compact(spark, store, upto = 2L)
    assert(serve(store) === before, "compaction changed the served answer")
  }
}
