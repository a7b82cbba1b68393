package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.nio.file.Files

case class Reading(sensor: String, value: Double)

class StreamingExpectationsSpec extends SparkSpec {
  import spark.implicits._

  private val constraints = Seq(
    "value_positive" -> (col("value") > 0),
    "sensor_known"   -> col("sensor").isin("a", "b"))

  test("per-batch quality reports accumulate with batch ids") {
    val metrics = Files.createTempDirectory("dqmetrics").toString + "/m"
    val ckpt = Files.createTempDirectory("dqckpt").toString
    val batches = Seq(
      Seq(Reading("a", 1.0), Reading("b", 2.0)),            // clean
      Seq(Reading("a", -5.0), Reading("z", 3.0)))           // both fail

    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Reading]
    val q = VersionedStore.start(input.toDF(), ckpt)(
      StreamingExpectations.runBatch(_, _, constraints, metrics))
    for (b <- batches) { input.addData(b: _*); q.processAllAvailable() }
    q.stop()

    val got = spark.read.parquet(metrics)
      .orderBy("batch_id", "constraint_name")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getBoolean(4)))
    assert(got.toSeq === Seq(
      (0L, "sensor_known", 0L, true),
      (0L, "value_positive", 0L, true),
      (1L, "sensor_known", 1L, false),
      (1L, "value_positive", 1L, false)))
  }

  test("corpus-level violation totals are invariant to slicing") {
    // Per-batch report rows necessarily depend on the slicing, but the
    // aggregated view — total violations and total rows per constraint
    // across all batches — is a sum over a partition of the corpus, so
    // any slicing must reproduce the single-batch totals exactly. A
    // seeded shuffle drives uneven slices through the foreachBatch path.
    val rows = (for (i <- 0 until 40) yield
      Reading(Seq("a", "b", "z", "q")(i % 4),
        if (i % 5 == 0) -1.0 * i else i + 0.5)).toVector
    def totals(df: org.apache.spark.sql.DataFrame) = df
      .groupBy("constraint_name")
      .agg(sum("n_violations").as("nv"), sum("n_rows").as("nr"))
      .orderBy("constraint_name")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))

    val oneShot = Files.createTempDirectory("dqone").toString + "/m"
    StreamingExpectations.runBatch(rows.toDF(), 0L, constraints, oneShot)
    val want = totals(spark.read.parquet(oneShot))

    val sliced = Files.createTempDirectory("dqsliced").toString + "/m"
    val ckpt = Files.createTempDirectory("dqslicedck").toString
    val shuffled = new scala.util.Random(59).shuffle(rows)
    val slices = Seq(shuffled.take(1), shuffled.slice(1, 17),
      shuffled.slice(17, 40))
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Reading]
    val q = VersionedStore.start(input.toDF(), ckpt)(
      StreamingExpectations.runBatch(_, _, constraints, sliced))
    for (b <- slices) { input.addData(b: _*); q.processAllAvailable() }
    q.stop()
    assert(totals(spark.read.parquet(sliced)).toSeq === want.toSeq)
  }

  test("readReport dedupes replayed batch ids (value-identical rows)") {
    val metrics = Files.createTempDirectory("dqreplay").toString + "/m"
    val b0 = Seq(Reading("a", 1.0), Reading("z", -2.0)).toDF()
    StreamingExpectations.runBatch(b0, 0L, constraints, metrics)
    StreamingExpectations.runBatch(b0, 0L, constraints, metrics) // replay
    // raw table carries the duplicate append; the read contract hides it
    assert(spark.read.parquet(metrics).count() === 4)
    val got = StreamingExpectations.readReport(spark, metrics)
      .orderBy("constraint_name")
      .collect()
      .map(r => (r.getAs[Long]("batch_id"), r.getAs[String]("constraint_name"),
        r.getAs[Long]("n_violations"), r.getAs[Boolean]("pass")))
    assert(got.toSeq === Seq(
      (0L, "sensor_known", 1L, false),
      (0L, "value_positive", 1L, false)))
  }
}
