package graft.streaming

import graft.SparkSpec
import graft.etl.{IncrementalAgg, Scd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import java.nio.file.Files

case class Rec(nk: Long, name: String, ts: java.sql.Timestamp, d: java.sql.Date)

/** Proves one incremental micro-batch updates an SCD dim correctly —
  * the Spark-native analog of the reference DAG's watermark-branch +
  * update path (dags/main_pipeline.py:93-156). */
class IncrementalPipelineSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s + " 00:00:00")
  private def rec(nk: Long, name: String, day: String) =
    Rec(nk, name, ts(day), d(day))

  test("processBatch closes the current period and appends the new one") {
    val oldScd = Scd.scd2FromRecords(
      Seq((1L, "A", d("2024-01-01"))).toDF("nk", "name", "d"),
      "nk", Seq("name"), "d")
    val batch = Seq((1L, "B", d("2024-01-05"))).toDF("nk", "name", "d")
    val next = IncrementalPipeline
      .processBatch(oldScd, batch, "nk", Seq("name"), "d")
      .orderBy("start_date")
      .collect()
      .map(r => (r.getAs[String]("name"),
        Option(r.getAs[java.sql.Date]("end_date")).map(_.toString),
        r.getAs[Boolean]("is_current")))
    assert(next.toSeq === Seq(
      ("A", Some("2024-01-05"), false),
      ("B", None, true)))
  }

  test("runBatch replay is idempotent: batch n rebuilds from versions < n") {
    val store = Files.createTempDirectory("replaystore").toString
    val b0 = Seq((1L, "A", d("2024-01-01")), (2L, "X", d("2024-01-02")))
      .toDF("nk", "name", "d")
    val b1 = Seq((1L, "B", d("2024-01-06"))).toDF("nk", "name", "d")

    IncrementalPipeline.runBatch(b0, 0L, "nk", Seq("name"), "d", store)
    IncrementalPipeline.runBatch(b1, 1L, "nk", Seq("name"), "d", store)
    val once = IncrementalPipeline.readLatestDim(spark, store,
        sys.error("store must exist"))
      .orderBy("nk", "start_date").collect().map(_.toSeq)

    // replay batch 1 (simulates a retry after a failed attempt already
    // wrote v1): must read v0, not its own v1, and reproduce the same
    // snapshot rather than closing B with B or failing on self-overwrite
    IncrementalPipeline.runBatch(b1, 1L, "nk", Seq("name"), "d", store)
    val twice = IncrementalPipeline.readLatestDim(spark, store,
        sys.error("store must exist"))
      .orderBy("nk", "start_date").collect().map(_.toSeq)
    assert(twice.toSeq === once.toSeq)
    // and the dim content is the batch-1 state: A closed by B
    val k1 = IncrementalPipeline.readLatestDim(spark, store,
        sys.error("store must exist"))
      .where($"nk" === 1).orderBy("start_date").collect()
      .map(r => (r.getAs[String]("name"), r.getAs[Boolean]("is_current")))
    assert(k1.toSeq === Seq(("A", false), ("B", true)))
  }

  test("a NULL-attribute period is carried over, not re-inserted per batch") {
    val store = Files.createTempDirectory("nullattrstore").toString
    val batches = Seq(
      Seq((1L, null: String, d("2024-01-01")), (2L, "X", d("2024-01-02"))),
      Seq((2L, "Y", d("2024-01-05"))),
      Seq((2L, "Z", d("2024-01-09"))))
    for ((b, id) <- batches.zipWithIndex)
      IncrementalPipeline.runBatch(b.toDF("nk", "name", "d"), id.toLong,
        "nk", Seq("name"), "d", store)
    val rows = IncrementalPipeline.readLatestDim(spark, store,
        sys.error("store must exist"))
      .orderBy("nk", "start_date").collect()
      .map(r => (r.getAs[Long]("nk"), Option(r.getAs[String]("name")),
        r.getAs[java.sql.Date]("start_date").toString,
        r.getAs[Boolean]("is_current")))
    assert(rows.toSeq === Seq(
      (1L, None, "2024-01-01", true),
      (2L, Some("X"), "2024-01-02", false),
      (2L, Some("Y"), "2024-01-05", false),
      (2L, Some("Z"), "2024-01-09", true)))
  }

  test("processBatch and mergeRollup each plan exactly one shuffle exchange") {
    def shuffles(df: DataFrame): Int = {
      df.collect() // run it, so adaptive execution settles its final plan
      collect(df.queryExecution.executedPlan) {
        case e: ShuffleExchangeLike => e
      }.size
    }
    val oldScd = Seq((1L, "A", d("2024-01-01"), null: java.sql.Date, true),
        (2L, "X", d("2024-01-02"), null: java.sql.Date, true))
      .toDF("nk", "name", "start_date", "end_date", "is_current")
    val batch = Seq((1L, "B", d("2024-01-05")), (3L, "Q", d("2024-01-03")))
      .toDF("nk", "name", "d")
    val merged =
      IncrementalPipeline.processBatch(oldScd, batch, "nk", Seq("name"), "d")
    assert(shuffles(merged) === 1, merged.queryExecution.executedPlan)

    val measures = Seq("amt" -> col("v").cast("decimal(12,2)"))
    val snap = Seq(("a", 2L, BigDecimal("3.00"))).toDF("k", "n_rows", "amt")
      .select(col("k"), col("n_rows"), col("amt").cast("decimal(22,2)"))
    val delta = Seq(("a", 1.0), ("b", 2.0)).toDF("k", "v")
    val rolled = IncrementalAgg.mergeRollup(snap, delta, Seq("k"), measures)
    assert(shuffles(rolled) === 1, rolled.queryExecution.executedPlan)
  }

  test("streaming end-to-end: two micro-batches maintain the dim store") {
    val store = Files.createTempDirectory("dimstore").toString
    val ckpt = Files.createTempDirectory("ckpt").toString
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Rec]

    val q = IncrementalPipeline.start(
      input.toDF(), "ts", "1 day", "nk", Seq("name"), "d", store, ckpt)
    try {
      // batch 0: initial load, including an in-batch duplicate that the
      // watermarked dedup must drop
      input.addData(rec(1, "A", "2024-01-01"), rec(1, "A", "2024-01-01"),
        rec(2, "X", "2024-01-02"))
      q.processAllAvailable()
      val v0 = IncrementalPipeline.readLatestDim(spark, store,
        sys.error("store must exist"))
      assert(v0.count() === 2)
      assert(v0.where($"is_current").count() === 2)

      // batch 1: a change for key 1 -> A closes, B opens
      input.addData(rec(1, "B", "2024-01-06"))
      q.processAllAvailable()
      val v1 = IncrementalPipeline.readLatestDim(spark, store,
        sys.error("store must exist"))
      val k1 = v1.where($"nk" === 1).orderBy("start_date").collect()
        .map(r => (r.getAs[String]("name"), r.getAs[Boolean]("is_current")))
      assert(k1.toSeq === Seq(("A", false), ("B", true)))
      assert(v1.where($"nk" === 2 && $"is_current").count() === 1)
    } finally q.stop()
  }
}
