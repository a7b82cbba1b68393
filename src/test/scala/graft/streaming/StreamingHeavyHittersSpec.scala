package graft.streaming

import graft.SparkSpec
import graft.text.WordGrams
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.nio.file.Files

case class HhDoc(id: Long, text: String)

/** The streaming summary's content may depend on micro-batch slicing
  * (inherent to Misra–Gries); its GUARANTEES may not. These specs
  * check the guarantees against exact truth under shuffled slicings,
  * plus the versioned store's replay contract. */
class StreamingHeavyHittersSpec extends SparkSpec {
  import spark.implicits._

  private val Cap = 40
  private val K = 10

  private def corpus(rng: scala.util.Random, nDocs: Int): Seq[HhDoc] =
    (1 to nDocs).map { i =>
      val words = (1 to 20).map { _ =>
        val u = rng.nextDouble()
        s"w${math.floor(math.pow(80.0, u)).toLong}"
      }
      HhDoc(i.toLong, words.mkString(" "))
    }

  private def truth(docs: Seq[HhDoc]): (Map[String, Long], Long) = {
    val toks = docs.toDF("id", "text")
      .select(explode(WordGrams.tokens(col("text"))).as("t"))
      .where(length(col("t")) > 0)
      .as[String].collect()
    (toks.groupBy(identity).view.mapValues(_.length.toLong).toMap,
      toks.length.toLong)
  }

  private def runSliced(docs: Seq[HhDoc], slices: Seq[Seq[HhDoc]]): String = {
    val store = Files.createTempDirectory("hhstore").toString
    slices.zipWithIndex.foreach { case (b, i) =>
      StreamingHeavyHitters.runBatch(
        b.toDF("id", "text"), i.toLong, "text", Cap, store)
    }
    store
  }

  test("guarantees hold under shuffled micro-batch slicings") {
    val rng = new scala.util.Random(5)
    val docs = corpus(rng, 120)
    val (tr, n) = truth(docs)
    val trueHh = tr.collect { case (t, c) if c * K >= n => t }.toSet
    assert(trueHh.nonEmpty, "fixture must have real heavy hitters")

    for (trial <- 1 to 3) {
      val shuffled = rng.shuffle(docs)
      val slices = shuffled.grouped(1 + rng.nextInt(50)).toSeq
      val store = runSliced(docs, slices)
      val out = StreamingHeavyHitters.heavyCandidates(spark, store, K)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getBoolean(3)))
      val cands = out.map(_._1).toSet
      assert(trueHh.subsetOf(cands), s"trial $trial missed ${trueHh -- cands}")
      out.foreach { case (t, lb, ub, guaranteed) =>
        val c = tr.getOrElse(t, 0L)
        assert(lb <= c && c <= ub, s"trial $trial: $t true $c outside [$lb,$ub]")
        if (guaranteed) assert(trueHh.contains(t),
          s"trial $trial: guaranteed $t is not a true heavy hitter")
      }
    }
  }

  test("replayed batch reproduces its version instead of double-applying") {
    val rng = new scala.util.Random(9)
    val docs = corpus(rng, 60)
    val slices = docs.grouped(20).toSeq
    val store = runSliced(docs, slices)
    val before = StreamingHeavyHitters.readLatestSummary(spark, store)
    // replay the LAST batch id — must rebuild from versions < last
    StreamingHeavyHitters.runBatch(
      slices.last.toDF("id", "text"), (slices.size - 1).toLong,
      "text", Cap, store)
    val after = StreamingHeavyHitters.readLatestSummary(spark, store)
    assert(after === before)
  }

  test("start() wires the kernel: stream end state carries the guarantees") {
    // summary CONTENT is merge-tree-dependent (MemoryStream batches
    // partition differently than local Seqs), so equality with a
    // kernel run is NOT the contract — the guarantees are.
    val docs = corpus(new scala.util.Random(3), 40)
    val store = Files.createTempDirectory("hhstore").toString
    val ckpt = Files.createTempDirectory("hhckpt").toString
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[HhDoc]
    val q = VersionedStore.start(input.toDF(), ckpt)(
      StreamingHeavyHitters.runBatch(_, _, "text", Cap, store))
    docs.grouped(15).foreach { b => input.addData(b: _*); q.processAllAvailable() }
    q.stop()
    val s = StreamingHeavyHitters.readLatestSummary(spark, store)
    val (tr, n) = truth(docs)
    assert(s.n === n)
    assert(s.err <= s.n / (Cap + 1))
    s.counts.foreach { case (t, lb) =>
      val c = tr.getOrElse(t, 0L)
      assert(lb <= c && c <= lb + s.err, s"$t true $c outside [$lb,${lb + s.err}]")
    }
    val trueHh = tr.collect { case (t, c) if c * K >= n => t }.toSet
    val cands = StreamingHeavyHitters.heavyCandidates(spark, store, K)
      .collect().map(_.getString(0)).toSet
    assert(trueHh.nonEmpty && trueHh.subsetOf(cands))
  }
}
