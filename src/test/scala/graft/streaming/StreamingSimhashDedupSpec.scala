package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import java.nio.file.Files

case class ShDoc(doc_id: Long, sig: java.lang.Long)
case class ShBlkDoc(doc_id: Long, sig: java.lang.Long, blk: Long)

/** The persistent perceptual annotator: verdicts are a pure function
  * of the arrival sequence (micro-batch cuts cannot change them),
  * replays are idempotent, the history probe stays partition-pruned
  * with the store side unshuffled, NULL signatures are never indexed,
  * and the optional block key confines matches to a block. Hamming
  * verification is exact, so flips of ≤ 3 bits are found with
  * certainty (lossless 4×16-bit banding). */
class StreamingSimhashDedupSpec extends SparkSpec {
  import spark.implicits._

  /** Well-separated deterministic base signatures (avalanche mix —
    * pairwise hamming ~32, far above any verification threshold). */
  private def baseSig(i: Long): Long = {
    var z = (i + 1) * 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  // 20 unrelated docs; 20 = doc 2's sig with 2 bits flipped (perceptual
  // near-dup), 21 = doc 5's with 3 flips (at the threshold), 22 = exact
  // copy of doc 7's
  private val corpus: Vector[ShDoc] =
    (0L until 20L).map(i => ShDoc(i, baseSig(i))).toVector ++ Vector(
      ShDoc(20L, baseSig(2) ^ ((1L << 5) | (1L << 40))),
      ShDoc(21L, baseSig(5) ^ ((1L << 0) | (1L << 31) | (1L << 63))),
      ShDoc(22L, baseSig(7)))

  private val p = StreamingSimhashDedup.Params(maxHamming = 3, ranges = 8)

  private def runSlices(slices: Seq[Seq[ShDoc]]): Seq[(Long, Boolean, Any)] = {
    val store = Files.createTempDirectory("shdedup").toString + "/s"
    val ckpt = Files.createTempDirectory("shdedupck").toString
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[ShDoc]
    val q = VersionedStore.start(input.toDF(), ckpt)(
      StreamingSimhashDedup.appendBatch(_, _, "doc_id", "sig", store, p))
    for (b <- slices if b.nonEmpty) { input.addData(b: _*); q.processAllAvailable() }
    q.stop()
    StreamingSimhashDedup.verdicts(spark, store)
      .orderBy("id").collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[Boolean]("is_dup"),
        if (r.isNullAt(r.fieldIndex("dup_of"))) null
        else r.getAs[Long]("dup_of"))).toSeq
  }

  test("near signatures of long-indexed items are flagged; originals are not") {
    val got = runSlices(Seq(
      corpus.slice(0, 10), corpus.slice(10, 20), corpus.slice(20, 23)))
    val flagged = got.filter(_._2).map(v => (v._1, v._3))
    assert(flagged === Seq((20L, 2L), (21L, 5L), (22L, 7L)))
    assert(got.count(!_._2) === 20)
  }

  test("verdicts are invariant to where the micro-batch cuts fall") {
    val a = runSlices(Seq(corpus))
    val b = runSlices(Seq(corpus.take(1), corpus.slice(1, 21),
      corpus.slice(21, 23)))
    val c = runSlices(corpus.grouped(5).toSeq)
    assert(b === a)
    assert(c === a)
  }

  test("replaying a batch id reproduces its verdicts (no self-match)") {
    val store = Files.createTempDirectory("shreplay").toString + "/s"
    StreamingSimhashDedup.appendBatch(corpus.slice(0, 10).toDF(), 0L,
      "doc_id", "sig", store, p)
    StreamingSimhashDedup.appendBatch(corpus.slice(10, 23).toDF(), 1L,
      "doc_id", "sig", store, p)
    val once = StreamingSimhashDedup.verdicts(spark, store)
      .orderBy("id").collect().map(_.toSeq)
    StreamingSimhashDedup.appendBatch(corpus.slice(10, 23).toDF(), 1L,
      "doc_id", "sig", store, p)
    val again = StreamingSimhashDedup.verdicts(spark, store)
      .orderBy("id").collect().map(_.toSeq)
    assert(again.toSeq === once.toSeq)
    assert(StreamingSimhashDedup.verdicts(spark, store).count() === 23L)
  }

  test("4 bit flips are beyond the verdict line; NULL sigs never index") {
    val store = Files.createTempDirectory("shfar").toString + "/s"
    val far = Seq(
      ShDoc(0L, baseSig(0)),
      ShDoc(1L, baseSig(0) ^ ((1L << 1) | (1L << 17) | (1L << 33) | (1L << 49))),
      ShDoc(2L, null)).toDF()
    StreamingSimhashDedup.appendBatch(far, 0L, "doc_id", "sig", store, p)
    val v = StreamingSimhashDedup.verdicts(spark, store)
      .orderBy("id").collect()
    assert(v.map(_.getAs[Long]("id")).toSeq === Seq(0L, 1L)) // null dropped
    assert(v.forall(!_.getAs[Boolean]("is_dup"))) // hamming 4 > 3
  }

  test("blockCol confines matches to a block (the band-saturation guard)") {
    val store = Files.createTempDirectory("shblk").toString + "/s"
    // identical signatures in DIFFERENT blocks must not match; the
    // same-block pair must
    val rows = Seq(
      ShBlkDoc(0L, baseSig(9), 0L),
      ShBlkDoc(1L, baseSig(9), 1L),
      ShBlkDoc(2L, baseSig(9), 0L)).toDF()
    StreamingSimhashDedup.appendBatch(rows, 0L, "doc_id", "sig", store, p,
      blockCol = Some("blk"))
    val v = StreamingSimhashDedup.verdicts(spark, store)
      .orderBy("id").collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[Boolean]("is_dup")))
    assert(v.toSeq === Seq((0L, false), (1L, false), (2L, true)))
  }

  test("end-to-end: dHash of identical PNG payloads flags across batches") {
    import graft.expressions.{DHash, PngImage}
    val store = Files.createTempDirectory("shimg").toString + "/s"
    def imgBatch(id: Long, seeds: Long) =
      Seq(Tuple1(id)).toDF("doc_id")
        .select(col("doc_id"),
          DHash.dhash(PngImage.pngImage(
            org.apache.spark.sql.functions.lit(72),
            org.apache.spark.sql.functions.lit(64),
            org.apache.spark.sql.functions.lit(seeds))).as("sig"))
    StreamingSimhashDedup.appendBatch(
      imgBatch(100L, 7L * 4294967296L + 1L), 0L, "doc_id", "sig", store, p)
    StreamingSimhashDedup.appendBatch(
      imgBatch(200L, 7L * 4294967296L + 1L), 1L, "doc_id", "sig", store, p)
    val v = StreamingSimhashDedup.verdicts(spark, store)
      .orderBy("id").collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[Boolean]("is_dup")))
    assert(v.toSeq === Seq((100L, false), (200L, true)))
  }

  test("history probe is partition-pruned and never shuffles the store") {
    val store = Files.createTempDirectory("shplan").toString + "/s"
    StreamingSimhashDedup.appendBatch(corpus.slice(0, 20).toDF(), 0L,
      "doc_id", "sig", store, p)
    val hist = spark.read.option("basePath", s"$store/buckets")
      .parquet(s"$store/buckets")
      .where(col("batch_id") < 1 && col("rng").isin(0L, 1L, 2L))
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
}
