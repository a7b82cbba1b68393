package graft
import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare, and jobs.json:
  * the Spark jobs each query submitted, its write included. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [queryName ...] — extra names select a
    // subset for fast local iteration (driver always passes two)
    val (sfDir, outDir) = (args(0), args(1))
    val subset = args.drop(2).toSet
    val unknown = subset.diff(SparkEntry.queries.keySet)
    require(unknown.isEmpty,
      s"unknown query name(s): ${unknown.mkString(", ")} — a typo here " +
        "would otherwise silently verify nothing")
    val spark = graft.util.LocalSession()
    val sc = spark.sparkContext
    new java.io.File(outDir).mkdirs()
    // Each query runs under its own job group, and one listener counts
    // job starts per group: a job belongs to the group it was submitted
    // under, so a late listener event still lands on its query. The
    // drain marker's start, delivered in order, means every count is in.
    val jobs = new ConcurrentHashMap[String, AtomicInteger]()
    val drained = new CountDownLatch(1)
    sc.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach { g =>
            if (g == DrainGroup) drained.countDown()
            else jobs.computeIfAbsent(g, _ => new AtomicInteger).incrementAndGet()
          }
    })
    val selected = SparkEntry.queries
      .filter { case (name, _) => subset.isEmpty || subset(name) }
    selected.foreach { case (name, fn) =>
      sc.setJobGroup(name, s"verify $name")
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      } finally sc.clearJobGroup()
      // sweep BOTH storage layers between queries — Dataset-cache
      // entries AND RDD-level checkpoint blocks (invisible to
      // clearCache) — so one query's residue can't squeeze the next
      spark.sharedState.cacheManager.clearCache()
      graft.util.Blocks.releaseAll(spark)
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    sc.setJobGroup(DrainGroup, "job count drain")
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    require(drained.await(60, TimeUnit.SECONDS), "job listener never drained")
    val counts = selected.keys.toSeq.sorted
      .map(n => n -> Option(jobs.get(n)).fold(0)(_.get))
    Files.writeString(Paths.get(s"$outDir/jobs.json"),
      counts.map { case (n, c) => s"${q(n)}: $c" }
        .mkString(s"""{"total": ${counts.map(_._2).sum}, "queries": {""", ", ", "}}"))
    spark.stop()
  }

  private val DrainGroup = "verify-job-count-drain"
}
