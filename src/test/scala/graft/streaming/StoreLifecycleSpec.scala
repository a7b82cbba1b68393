package graft.streaming

import graft.SparkSpec
import graft.etl.IncrementalAgg
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** End-to-end lifecycle integration over ONE store directory:
  * maintenance operations (compaction for the per-batch APPEND trees,
  * version retention for the SNAPSHOT stores) interleaved with
  * appends AND crash-replays, asserting the externally visible answers
  * are invariant against an undisturbed control store. The isolation
  * specs (StoreCompactionSpec / VersionPruneSpec) prove each operation
  * alone; this one proves the operations COMPOSE — a compact or prune
  * in the middle of a stream whose next batch then crashes and
  * replays must change nothing a reader can observe. */
class StoreLifecycleSpec extends SparkSpec {
  import spark.implicits._

  private def base(i: Long) =
    NdDoc(i, (0 until 30).map(t => s"w$i-$t").mkString(" "))
  private val p = StreamingNearDedup.Params(
    shingleK = 3, numPerm = 32, bands = 16, simThreshold = 0.5, ranges = 8)

  test("near-dedup append store: append → compact → replay → append " +
      "keeps verdicts identical to an undisturbed store") {
    // batches: 0,1 base docs; 2 has a near-dup of a batch-0 doc;
    // 3 has a near-dup of a batch-2 doc (history crosses the compact)
    val b0 = (0L until 8L).map(base)
    val b1 = (8L until 14L).map(base)
    val b2 = Seq(NdDoc(20L, base(3).text.replace("w3-11", "swapped")),
      NdDoc(21L, base(90).text))
    val b3 = Seq(NdDoc(30L, base(90).text.replace("w90-4", "tweaked")),
      NdDoc(31L, base(95).text))

    // control: plain sequential appends, no maintenance, no crashes
    val control = Files.createTempDirectory("ndlife-ctl").toString + "/s"
    Seq(b0, b1, b2, b3).zipWithIndex.foreach { case (b, i) =>
      StreamingNearDedup.appendBatch(b.toDF(), i.toLong, "doc_id", "text",
        control, p)
    }
    val want = StreamingNearDedup.verdicts(spark, control)
      .orderBy("id").collect().map(_.toSeq).toSeq

    // lifecycle store: compact mid-stream, then the NEXT batch crashes
    // after a partial run and replays
    val store = Files.createTempDirectory("ndlife").toString + "/s"
    StreamingNearDedup.appendBatch(b0.toDF(), 0L, "doc_id", "text", store, p)
    StreamingNearDedup.appendBatch(b1.toDF(), 1L, "doc_id", "text", store, p)
    StreamingNearDedup.compact(spark, store, upto = 1L)
    StreamingNearDedup.appendBatch(b2.toDF(), 2L, "doc_id", "text", store, p)
    // crash-replay of batch 2 (foreachBatch redelivery): overwrite path
    // must reproduce, not double-apply — against the COMPACTED history
    StreamingNearDedup.appendBatch(b2.toDF(), 2L, "doc_id", "text", store, p)
    // a second compact folding the replayed batch in, then batch 3
    StreamingNearDedup.compact(spark, store, upto = 2L)
    StreamingNearDedup.appendBatch(b3.toDF(), 3L, "doc_id", "text", store, p)

    val got = StreamingNearDedup.verdicts(spark, store)
      .orderBy("id").collect().map(_.toSeq).toSeq
    assert(got === want)
    // the cross-compact dups were genuinely exercised
    val flagged = StreamingNearDedup.verdicts(spark, store)
      .where(col("is_dup")).select("id").as[Long].collect().toSet
    assert(flagged === Set(20L, 30L))
  }

  test("rollup snapshot store: run → prune → crash-replay → run " +
      "converges to exact batch parity") {
    val keys = Seq("k")
    val measures = Seq(("total", col("v")))
    def batch(seed: Int, n: Int) = {
      val rng = new scala.util.Random(seed)
      (1 to n).map(_ => (rng.nextInt(5).toLong, rng.nextInt(100).toLong))
        .toDF("k", "v")
    }
    val batches = (0 to 4).map(i => batch(100 + i, 40))
    val store = Files.createTempDirectory("rolllife").toString + "/s"

    StreamingRollup.runBatch(batches(0), 0L, keys, measures, store)
    StreamingRollup.runBatch(batches(1), 1L, keys, measures, store)
    StreamingRollup.runBatch(batches(2), 2L, keys, measures, store)
    // retention fires mid-stream: v0 dies, v1 (the replay floor) stays
    assert(StreamingRollup.prune(spark, store, keep = 2) === Seq(0L))
    // crash AFTER the prune, BEFORE batch 3's commit: batch 2 replays
    // against the pruned store (needs v1 — exactly what keep=2 retains)
    StreamingRollup.runBatch(batches(2), 2L, keys, measures, store)
    StreamingRollup.runBatch(batches(3), 3L, keys, measures, store)
    assert(StreamingRollup.prune(spark, store, keep = 2) === Seq(1L))
    StreamingRollup.runBatch(batches(4), 4L, keys, measures, store)

    val got = IncrementalPipeline.readLatestDim(spark, store,
        batches(0).limit(0))
      .orderBy("k").collect().map(_.toSeq).toSeq
    val want = IncrementalAgg.rollup(
        batches.reduce(_ unionByName _), keys, measures)
      .orderBy("k").collect().map(_.toSeq).toSeq
    assert(got === want)
  }

  test("heavy-hitter snapshot store: run → prune → crash-replay → run " +
      "keeps the count-bracket guarantees") {
    def docs(seed: Int) = {
      val rng = new scala.util.Random(seed)
      (1 to 30).map { _ =>
        (1 to 20).map(_ => s"tok${math.floor(math.pow(40, rng.nextDouble())).toInt}")
          .mkString(" ")
      }.toDF("text")
    }
    val store = Files.createTempDirectory("hhlife").toString + "/s"
    val cap = 20
    StreamingHeavyHitters.runBatch(docs(1), 0L, "text", cap, store)
    StreamingHeavyHitters.runBatch(docs(2), 1L, "text", cap, store)
    StreamingHeavyHitters.runBatch(docs(3), 2L, "text", cap, store)
    assert(VersionPrune.keepLatest(spark, store, keep = 2) === Seq(0L))
    // crash-replay batch 2 against the pruned store (rebuilds from v1,
    // exactly the keep=2 floor), then batch 3
    StreamingHeavyHitters.runBatch(docs(3), 2L, "text", cap, store)
    StreamingHeavyHitters.runBatch(docs(4), 3L, "text", cap, store)

    // exact truth over the whole stream
    val truth = Seq(1, 2, 3, 4).map(docs).reduce(_ unionByName _)
      .select(explode(split(col("text"), " ")).as("t"))
      .groupBy("t").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val s = StreamingHeavyHitters.readLatestSummary(spark, store)
    assert(s.capacity === cap)
    assert(s.n === truth.values.sum)
    assert(s.err <= s.n / (cap + 1))
    s.counts.foreach { case (t, lb) =>
      val tr = truth.getOrElse(t, 0L)
      assert(lb <= tr && tr <= lb + s.err, s"$t: [$lb, ${lb + s.err}] vs $tr")
    }
    // superset guarantee via the store-read path
    val k = 10
    val cands = StreamingHeavyHitters.heavyCandidates(spark, store, k)
      .select("token").as[String].collect().toSet
    val trueHh = truth.collect { case (t, c) if c * k >= s.n => t }.toSet
    assert(trueHh.subsetOf(cands), s"missed ${trueHh -- cands}")
  }
}
