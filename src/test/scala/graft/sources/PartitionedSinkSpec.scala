package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.nio.file.Files

class PartitionedSinkSpec extends SparkSpec {
  import spark.implicits._

  test("month filter prunes partitions at the scan") {
    val dir = Files.createTempDirectory("psink").toString
    val facts = Seq(
      (1L, "2024-01-05", 10.0), (2L, "2024-01-20", 20.0),
      (3L, "2024-02-02", 30.0), (4L, "2024-03-15", 40.0)
    ).toDF("id", "ds", "v").select($"id", $"ds".cast("date").as("d"), $"v")
    PartitionedSink.writeByMonth(facts, "d", dir)

    val q = PartitionedSink.read(spark, dir).where($"year_month" === "2024-01")
    assert(q.count() === 2)
    val scan = q.queryExecution.executedPlan.toString
    // the partition filter reaches the file index, not a post-scan Filter
    assert(scan.contains("PartitionFilters: [isnotnull(year_month"), scan)

    // dynamic overwrite touches only the written partition
    PartitionedSink.writeByMonth(
      Seq((9L, "2024-02-09", 99.0)).toDF("id", "ds", "v")
        .select($"id", $"ds".cast("date").as("d"), $"v"), "d", dir)
    val after = PartitionedSink.read(spark, dir)
    assert(after.where($"year_month" === "2024-02").count() === 1) // replaced
    assert(after.where($"year_month" === "2024-01").count() === 2) // untouched
  }

  test("a one-partition fact is written by several tasks, one file per month") {
    val dir = Files.createTempDirectory("psink1").toString + "/fact"
    // 12 months, enough rows that AQE keeps several rebalance partitions
    val facts = spark.range(0, 200000, 1, 1).select(col("id"),
      date_add(lit("2024-01-01").cast("date"), (col("id") % 366).cast("int")).as("d"),
      (col("id") * 7 % 1000).cast("double").as("v"))
    assert(facts.rdd.getNumPartitions === 1)
    PartitionedSink.writeByMonth(facts, "d", dir)
    val monthDirs = new java.io.File(dir).listFiles().filter(_.isDirectory)
    assert(monthDirs.length === 12)
    val files = monthDirs.toSeq.map(m => m.getName ->
      m.listFiles().map(_.getName).filter(_.startsWith("part-")).toSeq)
    assert(files.forall(_._2.size == 1), files)
    // a writer task names its file part-<task partition>-…
    val tasks = files.flatMap(_._2).map(_.split('-')(1)).distinct
    assert(tasks.size >= 2, files)
    assert(PartitionedSink.read(spark, dir).count() === 200000L)
  }
}
