package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** The one store contract: a single module owns the stream wiring, a
  * fold never reads its own batch's leftover version, a replayed id
  * rewrites the identical snapshot, and segment reads union exactly the
  * versions below the bound. */
class VersionedStoreSpec extends SparkSpec {
  import spark.implicits._

  private def sorted(df: DataFrame): Seq[Seq[Any]] =
    df.orderBy(df.columns.map(col): _*).collect().map(_.toSeq).toSeq

  test("VersionedStore is the only stream wiring in src/main") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the project root, not ${root.getAbsolutePath}")
    def scalaFiles(d: java.io.File): Seq[java.io.File] =
      d.listFiles().toSeq.flatMap { f =>
        if (f.isDirectory) scalaFiles(f)
        else if (f.getName.endsWith(".scala")) Seq(f) else Nil
      }
    val hits = scalaFiles(root)
      .filter { f =>
        val text = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
        text.contains("foreachBatch") || text.contains("checkpointLocation")
      }
      .map(f => root.toPath.relativize(f.toPath).toString)
    assert(hits === Seq("graft/streaming/VersionedStore.scala"))
  }

  // sums `v` per key into the snapshot
  private def sumInto(batch: DataFrame, id: Long, store: String): Unit =
    VersionedStore.fold(batch, id, store, batch.where(lit(false)))(
      _.unionByName(batch).groupBy(col("k")).agg(sum(col("v")).as("v")))

  test("fold: empty store uses `empty`; replay ignores the leftover v<batchId>") {
    val store = Files.createTempDirectory("vstore").toString + "/s"
    val b0 = Seq(("a", 1L), ("b", 2L)).toDF("k", "v")
    val b1 = Seq(("a", 10L)).toDF("k", "v")
    sumInto(b0, 0L, store)
    assert(sorted(spark.read.parquet(s"$store/v0")) ===
      Seq(Seq("a", 1L), Seq("b", 2L)))
    sumInto(b1, 1L, store)
    val once = sorted(spark.read.parquet(s"$store/v1"))
    assert(once === Seq(Seq("a", 11L), Seq("b", 2L)))
    // a failed attempt of batch 1 left garbage in v1: the replay must
    // rebuild from v0, never from its own leftover
    Seq(("zz", 999L)).toDF("k", "v")
      .write.mode("overwrite").parquet(s"$store/v1")
    sumInto(b1, 1L, store)
    assert(sorted(spark.read.parquet(s"$store/v1")) === once)
    // and a plain replay of a committed id writes the identical snapshot
    sumInto(b1, 1L, store)
    assert(sorted(spark.read.parquet(s"$store/v1")) === once)
    assert(VersionPrune.versions(spark, store) === Seq(0L, 1L))
  }

  test("segments: ascending union of the versions below `before`") {
    val store = Files.createTempDirectory("vsegs").toString + "/s"
    assert(VersionedStore.segments(spark, store).isEmpty)
    // eleven versions, so numeric and lexical order differ (v10 < v2)
    (0L to 10L).foreach { v =>
      VersionedStore.writeSegment(Seq((v, s"r$v")).toDF("id", "x"), store, v)
    }
    // a stray entry is no version and is never read
    new java.io.File(s"$store/vtmp").mkdirs()
    def ids(df: DataFrame) = df.select("id").as[Long].collect().sorted.toSeq
    val all = VersionedStore.segments(spark, store).get
    assert(ids(all) === (0L to 10L))
    assert(ids(VersionedStore.segments(spark, store, before = 2L).get) ===
      Seq(0L, 1L))
    assert(VersionedStore.segments(spark, store, before = 0L).isEmpty)
    // one scan whose roots are the version directories in ascending id
    // order (numeric, not lexical)
    val roots = all.queryExecution.optimizedPlan.collectLeaves().collect {
      case l: LogicalRelation => l.relation
    }.collect { case r: HadoopFsRelation => r.location.rootPaths.map(_.getName) }
    assert(roots === Seq((0 to 10).map(v => s"v$v")))
  }
}
