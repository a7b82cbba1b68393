package graft

import org.apache.spark.sql.functions._
import graft.streaming.{StreamingAnnIndex, StreamingImportance, StreamingLm, StreamingNearDedup, StreamingSimhashDedup}

/** Reproducible walls for the persistent-store incremental tiers —
  * the numbers behind BENCH_NOTES' "incremental-maintenance tiers"
  * table, previously measured ad hoc.
  *
  * Protocol (cold JVM, as in BENCH_NOTES "Round-9: the distributed CC
  * loop tier, finally scale-measured"): index the corpus minus a holdout
  * as ONE bulk batch ("bulk" — the degenerate worst case for per-batch
  * fixed cost), then append the holdout as a steady-state increment
  * ("inc" — probes the full store). For the ANN index, a query pass
  * follows. Walls and verdict/output counts print as one JSON line.
  *
  *   runMain graft.StoreBench <sfDir> [holdoutDocs] [holdoutVecs]
  */
object StoreBench {

  private def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val holdDocs = if (args.length > 1) args(1).toInt else 50
    val holdVecs = if (args.length > 2) args(2).toInt else 50
    val spark = graft.util.LocalSession()

    val base = java.nio.file.Files.createTempDirectory("storebench").toString

    // ---- StreamingNearDedup: bulk history + one incremental batch
    val docs = graft.sources.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"))
    val nDocs = docs.count()
    val history = docs.where(col("doc_id") % 100 =!= 7L)
    val batch = docs.where(col("doc_id") % 100 === 7L).limit(holdDocs)
    val ndStore = s"$base/neardedup"
    val (_, ndBulk) = timed(
      StreamingNearDedup.appendBatch(history, 0L, "doc_id", "text", ndStore))
    val (_, ndInc) = timed(
      StreamingNearDedup.appendBatch(batch, 1L, "doc_id", "text", ndStore))
    val flagged = spark.read.parquet(s"$ndStore/verdicts")
      .where(col("is_dup")).count()

    // ---- StreamingSimhashDedup: the perceptual (64-bit dHash)
    // signature store — same protocol: bulk history, then a steady-
    // state increment that probes the full store. Signatures come
    // from the REAL codec path (PNG build + decode + dHash per doc,
    // the q145 pixel-model seeds), so bulk cost includes one honest
    // encode/decode pass over the corpus.
    val shSigs = docs.select(col("doc_id"),
        ((expr("doc_id div 4") % 1000000000L) * lit(4294967296L)
          + pmod(col("doc_id"), lit(4)) + lit(1)).cast("long").as("seeds"))
      .select(col("doc_id"),
        graft.expressions.DHash.dhash(graft.expressions.PngImage.pngImage(
          lit(72), lit(64), col("seeds"))).as("sig"))
    val shStore = s"$base/simhash"
    val (_, shBulk) = timed(StreamingSimhashDedup.appendBatch(
      shSigs.where(col("doc_id") % 100 =!= 7L), 0L, "doc_id", "sig", shStore))
    val (_, shInc) = timed(StreamingSimhashDedup.appendBatch(
      shSigs.where(col("doc_id") % 100 === 7L).limit(holdDocs), 1L,
      "doc_id", "sig", shStore))
    val shFlagged = spark.read.parquet(s"$shStore/verdicts")
      .where(col("is_dup")).count()

    // ---- StreamingAnnIndex: bulk + incremental + query pass
    val vecs = graft.sources.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"))
    val vHistory = vecs.where(col("vec_id") % 100 =!= 7L)
    val vBatch = vecs.where(col("vec_id") % 100 === 7L).limit(holdVecs)
    val queries = vecs.orderBy(col("vec_id")).limit(100)
    val annStore = s"$base/annindex"
    val quant = StreamingAnnIndex.trainQuantizer(
      vHistory.limit(2048), "vec_id", "embedding", numCentroids = 64)
    val (_, annBulk) = timed(
      StreamingAnnIndex.appendBatch(vHistory, 0L, quant, "vec_id", "embedding", annStore))
    val (_, annInc) = timed(
      StreamingAnnIndex.appendBatch(vBatch, 1L, quant, "vec_id", "embedding", annStore))
    val ((qRows, _), annQuery) = timed {
      val r = StreamingAnnIndex.queryTopK(
        spark, annStore, quant, queries, "vec_id", "embedding", k = 10, nProbe = 4)
      (r.count(), ())
    }

    // ---- Model stores (importance + bigram LM): bulk fold + steady-
    // state increment + serve-from-store. The claim under test: the
    // increment and serve costs track the BATCH, not the store — the
    // snapshot is <= B (or B²) rows regardless of folded volume.
    val impStore = s"$base/importance"
    val target = array_contains(
      graft.text.WordGrams.tokens(col("text")), "spark")
    val (_, impBulk) = timed(StreamingImportance.runBatch(
      history, 0L, "doc_id", "text", target, 1024, impStore))
    val (_, impInc) = timed(StreamingImportance.runBatch(
      batch, 1L, "doc_id", "text", target, 1024, impStore))
    val ((impRows, _), impServe) = timed {
      (StreamingImportance.scoreWith(
        batch, "doc_id", "text", target, impStore, 1024).count(), ())
    }
    val lmStore = s"$base/lm"
    val (_, lmBulk) = timed(StreamingLm.runBatch(
      history, 0L, "doc_id", "text", 256, lmStore))
    val (_, lmInc) = timed(StreamingLm.runBatch(
      batch, 1L, "doc_id", "text", 256, lmStore))
    val ((lmRows, _), lmServe) = timed {
      (StreamingLm.scoreWith(batch, "doc_id", "text", lmStore, 256).count(), ())
    }

    println(
      s"""{"sf":"$sfDir","n_docs":$nDocs,"nd_bulk_sec":${graft.util.Fmt.f2(ndBulk)},"nd_inc_sec":${graft.util.Fmt.f2(ndInc)},"nd_flagged":$flagged,"sh_bulk_sec":${graft.util.Fmt.f2(shBulk)},"sh_inc_sec":${graft.util.Fmt.f2(shInc)},"sh_flagged":$shFlagged,"ann_bulk_sec":${graft.util.Fmt.f2(annBulk)},"ann_inc_sec":${graft.util.Fmt.f2(annInc)},"ann_query_sec":${graft.util.Fmt.f2(annQuery)},"ann_query_rows":$qRows,"imp_bulk_sec":${graft.util.Fmt.f2(impBulk)},"imp_inc_sec":${graft.util.Fmt.f2(impInc)},"imp_serve_sec":${graft.util.Fmt.f2(impServe)},"imp_serve_rows":$impRows,"lm_bulk_sec":${graft.util.Fmt.f2(lmBulk)},"lm_inc_sec":${graft.util.Fmt.f2(lmInc)},"lm_serve_sec":${graft.util.Fmt.f2(lmServe)},"lm_serve_rows":$lmRows}""")
    spark.stop()
  }
}
