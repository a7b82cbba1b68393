package graft.streaming

import graft.SparkSpec
import graft.etl.IncrementalAgg
import org.apache.spark.sql.functions._
import java.nio.file.Files

class VersionPruneSpec extends SparkSpec {
  import spark.implicits._

  private val keys = Seq("k")
  private val measures = Seq("amt" -> col("v").cast("decimal(14,2)"))

  private def buildStore(nBatches: Int): (String, Seq[Seq[(String, Double)]]) = {
    val store = Files.createTempDirectory("prunestore").toString
    val batches = (1 to nBatches).map(b => Seq((s"k$b", b * 1.5), ("k0", 1.0)))
    batches.zipWithIndex.foreach { case (rows, i) =>
      StreamingRollup.runBatch(rows.toDF("k", "v"), i.toLong, keys, measures, store)
    }
    (store, batches)
  }

  private def versionsOf(store: String): Seq[Long] = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    fs.listStatus(new org.apache.hadoop.fs.Path(store))
      .map(_.getPath.getName).filter(_.startsWith("v"))
      .map(_.drop(1).toLong).sorted.toSeq
  }

  test("prune keeps the newest `keep` versions, latest snapshot unchanged") {
    val (store, batches) = buildStore(5)
    val before = IncrementalPipeline.readLatestDim(
        spark, store, sys.error("must exist"))
      .orderBy("k").collect().map(_.toSeq).toSeq
    val pruned = VersionPrune.keepLatest(spark, store, keep = 2)
    assert(pruned === Seq(0L, 1L, 2L))
    assert(versionsOf(store) === Seq(3L, 4L))
    val after = IncrementalPipeline.readLatestDim(
        spark, store, sys.error("must exist"))
      .orderBy("k").collect().map(_.toSeq).toSeq
    assert(after === before)
    assert(after === IncrementalAgg.rollup(
        batches.flatten.toDF("k", "v"), keys, measures)
      .orderBy("k").collect().map(_.toSeq).toSeq)
  }

  test("keep=2 preserves exactly what a replayed last batch needs") {
    val (store, batches) = buildStore(4)
    VersionPrune.keepLatest(spark, store, keep = 2)
    // crash scenario: batch 3's checkpoint never committed — the engine
    // re-delivers it; runBatch(3) must rebuild from v2 (the retained
    // predecessor) and reproduce the same snapshot
    val before = spark.read.parquet(s"$store/v3")
      .orderBy("k").collect().map(_.toSeq).toSeq
    StreamingRollup.runBatch(
      batches(3).toDF("k", "v"), 3L, keys, measures, store)
    val after = spark.read.parquet(s"$store/v3")
      .orderBy("k").collect().map(_.toSeq).toSeq
    assert(after === before)
  }

  test("prune is idempotent and a no-op on a missing store") {
    val (store, _) = buildStore(3)
    assert(VersionPrune.keepLatest(spark, store, keep = 2) === Seq(0L))
    assert(VersionPrune.keepLatest(spark, store, keep = 2) === Seq.empty)
    assert(VersionPrune.keepLatest(spark, "/tmp/no-such-store-xyz") === Seq.empty)
  }

  test("stray v-prefixed entries are ignored by readLatestDim and keepLatest") {
    val (store, _) = buildStore(2)
    Seq("vtmp", "v").foreach(n => Files.createDirectory(
      java.nio.file.Paths.get(store, n)))
    val latest = IncrementalPipeline.readLatestDim(
        spark, store, sys.error("must exist"))
      .orderBy("k").collect().map(_.toSeq).toSeq
    assert(latest === spark.read.parquet(s"$store/v1")
      .orderBy("k").collect().map(_.toSeq).toSeq)
    assert(VersionPrune.keepLatest(spark, store, keep = 1) === Seq(0L))
    val left = new java.io.File(store).list().toSet
    assert(Set("v1", "vtmp", "v").subsetOf(left) && !left.contains("v0"))
  }
}
