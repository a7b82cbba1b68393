package graft.streaming

import graft.SparkSpec
import graft.etl.IncrementalAgg
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.nio.file.Files

case class Sale(status: String, year: Int, price: Double)

/** Streaming rollup maintenance must equal the batch rollup over the
  * same rows (exact parity), and a replayed batch id must reproduce —
  * not double-apply — its snapshot. */
class StreamingRollupSpec extends SparkSpec {
  import spark.implicits._

  private val keys = Seq("status", "year")
  private val measures = Seq("amt" -> col("price").cast("decimal(14,2)"))

  private def snapshot(store: String) =
    IncrementalPipeline.readLatestDim(spark, store,
        sys.error("store must exist"))
      .orderBy("status", "year").collect().map(_.toSeq)

  test("stream of batches converges to the batch rollup (exact parity)") {
    val store = Files.createTempDirectory("rollupstore").toString
    val ckpt = Files.createTempDirectory("rollupckpt").toString
    val batches = Seq(
      Seq(Sale("O", 2023, 10.5), Sale("F", 2023, 2.25), Sale("O", 2024, 7.0)),
      Seq(Sale("O", 2023, 1.0)),
      Seq(Sale("P", 2025, 99.99), Sale("F", 2023, 0.01)))

    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Sale]
    val q = VersionedStore.start(input.toDF(), ckpt)(
      StreamingRollup.runBatch(_, _, keys, measures, store))
    for (b <- batches) { input.addData(b: _*); q.processAllAvailable() }
    q.stop()

    val want = IncrementalAgg.rollup(
        batches.flatten.toDF(), keys, measures)
      .orderBy("status", "year").collect().map(_.toSeq)
    assert(snapshot(store) === want)
  }

  test("final snapshot is invariant to how rows slice into micro-batches") {
    // the merge is a commutative-associative fold (sum/count), so ANY
    // slicing of the same rows into any number of batches must converge
    // to the same snapshot as one big batch — the property that makes
    // replay/backfill safe at scale. A seeded shuffle drives uneven
    // slices through the full foreachBatch path.
    val rows = (for (i <- 0 until 60) yield
      Sale(Seq("O", "F", "P")(i % 3), 2020 + i % 5, (i % 7) + 0.25)).toVector
    val rnd = new scala.util.Random(31)
    val shuffled = rnd.shuffle(rows)
    val slices = Seq(shuffled.take(1), shuffled.slice(1, 24),
      shuffled.slice(24, 24), shuffled.slice(24, 60)) // incl. an empty batch
    val store = Files.createTempDirectory("rollupshuf").toString
    val ckpt = Files.createTempDirectory("rollupshufck").toString
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Sale]
    val q = VersionedStore.start(input.toDF(), ckpt)(
      StreamingRollup.runBatch(_, _, keys, measures, store))
    for (b <- slices if b.nonEmpty) { input.addData(b: _*); q.processAllAvailable() }
    q.stop()
    val want = IncrementalAgg.rollup(rows.toDF(), keys, measures)
      .orderBy("status", "year").collect().map(_.toSeq)
    assert(snapshot(store) === want)
  }

  test("replaying a batch id reproduces its snapshot (no double-apply)") {
    val store = Files.createTempDirectory("rollupreplay").toString
    val b0 = Seq(Sale("O", 2023, 5.0), Sale("F", 2023, 3.0)).toDF()
    val b1 = Seq(Sale("O", 2023, 2.0)).toDF()
    StreamingRollup.runBatch(b0, 0L, keys, measures, store)
    StreamingRollup.runBatch(b1, 1L, keys, measures, store)
    val once = snapshot(store)
    StreamingRollup.runBatch(b1, 1L, keys, measures, store) // retry of batch 1
    assert(snapshot(store) === once)
    // and the totals are the merged ones, not doubled
    val o2023 = once.find(r => r.head == "O").get
    assert(o2023(2) === 2L) // n_rows
    assert(o2023(3).asInstanceOf[java.math.BigDecimal].doubleValue() === 7.0)
  }

  test("snapshot schema is stable across merge generations") {
    val store = Files.createTempDirectory("rollupschema").toString
    val b = Seq(Sale("O", 2023, 1.0)).toDF()
    for (i <- 0 to 3) StreamingRollup.runBatch(b, i.toLong, keys, measures, store)
    val v0 = spark.read.parquet(s"$store/v0").schema
    val v3 = spark.read.parquet(s"$store/v3").schema
    assert(v0 === v3, s"schema drifted: $v0 vs $v3")
  }
}
