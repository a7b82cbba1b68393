package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import java.nio.file.Files

case class NdDoc(doc_id: Long, text: String)

/** The persistent near-dup annotator's verdicts must be a pure function
  * of the arrival sequence (micro-batch cut points cannot change them),
  * replays must be idempotent (a batch can never match its own earlier
  * attempt), and the history probe must stay partition-pruned with the
  * store side unshuffled. */
class StreamingNearDedupSpec extends SparkSpec {
  import spark.implicits._

  // base docs have fully DISJOINT vocabularies (Jaccard 0 pairwise —
  // no shared band, no candidate, no estimator tail to worry about);
  // 20/21 near-duplicate 2 and 5 with ONE of 30 tokens changed
  // (Jaccard 25/31 ≈ 0.81, far above the 0.5 verdict line), 22 exactly
  // duplicates 7 (estimate pinned at 1.0)
  private def base(i: Long) = NdDoc(i,
    (0 until 30).map(t => s"w$i-$t").mkString(" "))
  private val corpus: Vector[NdDoc] =
    (0L until 20L).map(base).toVector ++ Vector(
      NdDoc(20L, base(2).text.replace("w2-15", "changed")),
      NdDoc(21L, base(5).text.replace("w5-7", "other")),
      NdDoc(22L, base(7).text))

  private val p = StreamingNearDedup.Params(
    shingleK = 3, numPerm = 32, bands = 16, simThreshold = 0.5, ranges = 8)

  private def runSlices(slices: Seq[Seq[NdDoc]]): (String, Seq[(Long, Boolean, Any)]) = {
    val store = Files.createTempDirectory("neardedup").toString + "/s"
    val ckpt = Files.createTempDirectory("neardedupck").toString
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[NdDoc]
    val q = VersionedStore.start(input.toDF(), ckpt)(
      StreamingNearDedup.appendBatch(_, _, "doc_id", "text", store, p))
    for (b <- slices if b.nonEmpty) { input.addData(b: _*); q.processAllAvailable() }
    q.stop()
    val v = StreamingNearDedup.verdicts(spark, store)
      .orderBy("id").collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[Boolean]("is_dup"),
        if (r.isNullAt(r.fieldIndex("dup_of"))) null
        else r.getAs[Long]("dup_of")))
    (store, v.toSeq)
  }

  test("near-copies of long-indexed docs are flagged; originals are not") {
    val (_, got) = runSlices(Seq(
      corpus.slice(0, 10), corpus.slice(10, 20), corpus.slice(20, 23)))
    val flagged = got.filter(_._2).map(v => (v._1, v._3))
    assert(flagged === Seq((20L, 2L), (21L, 5L), (22L, 7L)))
    assert(got.count(!_._2) === 20)
  }

  test("verdicts are invariant to where the micro-batch cuts fall") {
    // the same ordered arrival sequence under three different cut
    // placements — including cuts that land a near-pair in one batch
    // vs across batches — must produce identical verdicts
    val a = runSlices(Seq(corpus))._2
    val b = runSlices(Seq(corpus.take(1), corpus.slice(1, 21),
      corpus.slice(21, 23)))._2
    val c = runSlices(corpus.grouped(5).toSeq)._2
    assert(b === a)
    assert(c === a)
  }

  test("replaying a batch id reproduces its verdicts (no self-match)") {
    val store = Files.createTempDirectory("ndreplay").toString + "/s"
    StreamingNearDedup.appendBatch(corpus.slice(0, 10).toDF(), 0L,
      "doc_id", "text", store, p)
    StreamingNearDedup.appendBatch(corpus.slice(10, 23).toDF(), 1L,
      "doc_id", "text", store, p)
    val once = StreamingNearDedup.verdicts(spark, store)
      .orderBy("id").collect().map(_.toSeq)
    // a replay sees the store as it was BEFORE the batch (batch_id <
    // current is a partition filter), so batch 1's own rows — already
    // written by the first attempt — cannot produce self-matches
    StreamingNearDedup.appendBatch(corpus.slice(10, 23).toDF(), 1L,
      "doc_id", "text", store, p)
    val again = StreamingNearDedup.verdicts(spark, store)
      .orderBy("id").collect().map(_.toSeq)
    assert(again.toSeq === once.toSeq)
    assert(StreamingNearDedup.verdicts(spark, store).count() === 23L)
  }

  test("history probe is partition-pruned and never shuffles the store") {
    val store = Files.createTempDirectory("ndplan").toString + "/s"
    StreamingNearDedup.appendBatch(corpus.slice(0, 20).toDF(), 0L,
      "doc_id", "text", store, p)
    // read the bucket tree the way appendBatch's history probe does and
    // check the rng/batch_id predicates reach the scan as partition
    // filters (directory pruning), with the probe joined broadcast
    val hist = spark.read.option("basePath", s"$store/buckets")
      .parquet(s"$store/buckets")
      .where(org.apache.spark.sql.functions.col("batch_id") < 1 &&
        org.apache.spark.sql.functions.col("rng").isin(0L, 1L, 2L))
    val probe = corpus.slice(20, 23).map(_.doc_id).toDF("id")
    val plan = org.apache.spark.sql.functions.broadcast(probe)
      .join(hist, "id").queryExecution.executedPlan.toString
    val pf = plan.linesIterator.filter(_.contains("PartitionFilters"))
      .mkString("\n")
    assert(pf.contains("batch_id") && pf.contains("rng"),
      s"history scan not partition-pruned:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"store side not stream-joined:\n$plan")
  }

  test("signature agreement estimates Jaccard: identical docs score 1") {
    val df = Seq((Array(1L, 2L, 3L, 4L), Array(1L, 2L, 3L, 4L)),
      (Array(1L, 2L, 3L, 4L), Array(1L, 9L, 3L, 8L))).toDF("a", "b")
    val got = df.select(
      StreamingNearDedup.sigAgreement(
        org.apache.spark.sql.functions.col("a"),
        org.apache.spark.sql.functions.col("b")).as("s"))
      .collect().map(_.getDouble(0))
    assert(got.toSeq === Seq(1.0, 0.5))
  }
}
