package graft.util

import org.apache.spark.sql.SparkSession

/** The single local SparkSession behind every harness main (Bench,
  * Verify, ScalePathBench, StoreBench, RecallBench, ScaleGen, Explain),
  * configured as the bench suite of record runs. `SPARK_GRAFT_CPUS`
  * sets the local core count, and with it the shuffle partition count;
  * unset, both follow the host's available processors.
  */
object LocalSession {

  /** Session settings for `cpus` local cores, besides the master. */
  private[graft] def conf(cpus: Int): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.session.timeZone" -> "UTC",
    // CPU-heavy interpreted stages (array intersects, shingle
    // transforms) are tiny by bytes; stop AQE from coalescing them
    // onto one core
    "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "64k",
    // The Janino class cache defaults to 100 entries (STATIC conf —
    // must be set before the session exists). The 83-query suite
    // cycles far more generated classes than that, so every pass
    // recompiled every query (BENCH_SELF showed 20-40 fresh
    // compilations per query in TIMED passes, each dragging HotSpot
    // JIT time with it — the round-7 "suite spread" signature).
    // 4096 entries ≈ a few hundred MB of class metadata, well inside
    // the reserved code-cache/metaspace headroom.
    "spark.sql.codegen.cache.maxEntries" -> "4096",
    "spark.ui.enabled" -> "false")

  /** Get or create the local session, log level WARN. */
  def apply(): SparkSession = {
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())
    val spark = conf(cpus)
      .foldLeft(SparkSession.builder().master(s"local[$cpus]")) {
        case (b, (k, v)) => b.config(k, v)
      }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
