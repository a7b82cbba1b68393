package graft
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, expr, xxhash64}
/** Benchmark main: times every registered query against
  * SPARK_GRAFT_SF_DIR and emits ONE JSON line. A failing query is
  * reported with "ok": false and does NOT masquerade as a fast time —
  * its elapsed value is set to -1.
  *
  * Run structure: one discarded WARM-UP PASS over the whole suite
  * (codegen compile, shuffle-file + page cache), then SPARK_GRAFT_RUNS
  * (default 3) timed PASSES, each running every query once. Per-query
  * statistics (median, min, spread) are computed ACROSS passes, not
  * from consecutive runs: the build host exhibits multi-second stall
  * bursts (hypervisor preemption / CPU-speed drift — measured: the
  * same query 2.1 s and 21 s minutes apart in one JVM with zero GC),
  * and a burst that spans minutes contaminates ALL consecutive runs of
  * whichever query it lands on, while under interleaving it clips a
  * different query in each pass and the per-query min/median recover.
  * Host noise is strictly additive, so `min_sec` is the best estimate
  * of a query's true cost — `median_sec` stays the headline value for
  * round-over-round comparability, and when the two disagree badly the
  * per-pass `host_probe_sec` (a fixed scalar-loop timing taken before
  * each pass) shows whether the host was degraded during that pass.
  *
  * Between every query BOTH storage layers are swept: the Dataset
  * cache (`clearCache`) AND every RDD-level block set
  * ([[graft.util.Blocks.releaseAll]]) — local-checkpoint blocks from
  * iterative operators live at the RDD level, invisible to
  * `clearCache`, and their accumulation across an 82-query suite
  * measurably doubled total wall time before the sweep existed. An
  * untimed `System.gc()` then drains the ContextCleaner: broadcast
  * blocks (dims, bloom filters, ANN codebooks) are only freed after a
  * GC proves their driver references dead, and a 32 GiB heap can run
  * the whole suite without one.
  *
  * BENCH_SELF.json additionally records, per query: `gc_ms` (sum of
  * JVM GC-pause deltas inside the query's timed runs),
  * `storage_residue_bytes` (max block-manager bytes the query left
  * behind before the sweep), `jit_ms` (sum of HotSpot JIT
  * compilation-time deltas inside the timed runs — the compiler thread
  * competes with executor threads for cores, so a large value on a
  * high-spread query marks JIT churn, not the query), `codegen_compiled`
  * (count of NEW Janino compilations inside the timed runs — nonzero
  * after the warm-up pass means the codegen cache missed, i.e. the plan
  * is not stable across passes), and `task_max_ms` (largest single task
  * duration across the query's timed runs — a lone outlier task with a
  * quiet JIT/GC row is host stall, a proportional one is skew) — so a
  * suite-pressure dispute is diagnosable from the artifact.
  *
  * Optional args name a subset of queries to run (default: all).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val runs = sys.env.getOrElse("SPARK_GRAFT_RUNS", "3").toInt
    val spark = graft.util.LocalSession()
    // JVM/codegen warm-up so the first timed query doesn't absorb
    // session start-up cost
    spark.range(100000).selectExpr("sum(id % 7)").collect()
    // Consume by hashing EVERY output column into one aggregate: a bare
    // count() lets Catalyst prune unreferenced projections, so a
    // projection-only query (e.g. the per-doc filter verdicts) would be
    // timed as a row count of its scan. The hash forces the full result
    // to be computed while the final ORDER BY still collapses
    // (EliminateSorts) exactly as under count().
    def consume(df: DataFrame): Unit =
      df.select(xxhash64(df.columns.map(col): _*).as("h"))
        .agg(expr("bit_xor(h)")).collect()
    val selected =
      if (args.nonEmpty) SparkEntry.queries.filter(kv => args.contains(kv._1))
      else SparkEntry.queries
    import java.lang.management.ManagementFactory
    import scala.jdk.CollectionConverters._
    def gcMillis(): Long = ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime).sum
    // Fixed scalar loop (~0.1 s on a healthy core) timed before each
    // pass: a cheap host-speed canary that needs no JVM warm-up caveats
    // by pass 1 (the warm-up pass runs it first).
    def hostProbe(): Double = {
      val t0 = System.nanoTime()
      var s = 0L; var i = 0L
      while (i < 50000000L) { s += i ^ (s >>> 7); i += 1 }
      if (s == 42) println("") // defeat dead-code elimination
      (System.nanoTime() - t0) / 1e9
    }
    val names = selected.toSeq.sortBy(_._1).map(_._1)
    val samples = names.map(n => n -> scala.collection.mutable.ArrayBuffer.empty[Double]).toMap
    val gcMs = scala.collection.mutable.Map(names.map(_ -> 0L): _*)
    val residue = scala.collection.mutable.Map(names.map(_ -> 0L): _*)
    val jitMs = scala.collection.mutable.Map(names.map(_ -> 0L): _*)
    val codegenN = scala.collection.mutable.Map(names.map(_ -> 0L): _*)
    val taskMaxMs = scala.collection.mutable.Map(names.map(_ -> 0L): _*)
    val probes = scala.collection.mutable.ArrayBuffer.empty[Double]
    // HotSpot JIT compile clock (cumulative ms across all compiler
    // threads) and Janino codegen-compilation count — both cumulative,
    // sampled as deltas around each timed run.
    val jitBean = ManagementFactory.getCompilationMXBean
    def jitMillis(): Long =
      if (jitBean != null && jitBean.isCompilationTimeMonitoringSupported)
        jitBean.getTotalCompilationTime else 0L
    def codegenCount(): Long =
      org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME.getCount
    // Max single-task wall time, from the listener bus. Local mode
    // completes all tasks before collect() returns; the tiny bus lag is
    // absorbed by reading the max AFTER the post-query sweep below.
    val liveTaskMax = new java.util.concurrent.atomic.AtomicLong(0L)
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          val d = if (e.taskInfo != null) e.taskInfo.duration else 0L
          var cur = liveTaskMax.get()
          while (d > cur && !liveTaskMax.compareAndSet(cur, d))
            cur = liveTaskMax.get()
        }
      })
    // pass 0 is the warm-up pass: executed identically, discarded
    for (pass <- 0 to runs) {
      probes += hostProbe()
      for (name <- names) {
        val gc0 = gcMillis()
        val jit0 = jitMillis()
        val cg0 = codegenCount()
        liveTaskMax.set(0L)
        val t0 = System.nanoTime()
        val ok =
          try { consume(selected(name)(spark, sfDir)); true }
          catch { case e: Throwable =>
            System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
            false
          }
        val sec = (System.nanoTime() - t0) / 1e9
        if (pass > 0) {
          gcMs(name) += gcMillis() - gc0
          jitMs(name) += jitMillis() - jit0
          codegenN(name) += codegenCount() - cg0
        }
        // what this run left in the block manager (cache + checkpoint
        // blocks) — the suite-pressure signal — then sweep BOTH layers
        residue(name) = math.max(residue(name),
          spark.sparkContext.getRDDStorageInfo
            .map(i => i.memSize + i.diskSize).sum)
        spark.sharedState.cacheManager.clearCache()
        graft.util.Blocks.releaseAll(spark)
        // untimed ContextCleaner drain (see scaladoc); stop-the-world on
        // purpose — a concurrent cycle steals executor cores inside the
        // NEXT query's timed region
        System.gc()
        // read AFTER the sweep + gc so the listener bus has drained
        if (pass > 0)
          taskMaxMs(name) = math.max(taskMaxMs(name), liveTaskMax.get())
        if (ok && pass > 0) samples(name) += sec
      }
    }
    // a query is "failed" only if NO timed pass succeeded — a transient
    // single-pass failure still reports the median of its good passes
    case class QStat(name: String, median: Double, spread: Double,
        min: Double, ok: Boolean)
    val results = names.map { name =>
      val times = samples(name).toSeq
      if (times.isEmpty) QStat(name, -1.0, -1.0, -1.0, ok = false)
      else {
        val sorted = times.sorted
        val median = sorted(sorted.size / 2)
        val spread = if (median > 0) (sorted.last - sorted.head) / median else 0.0
        QStat(name, median, spread, sorted.head, ok = true)
      }
    }
    // The driver captures a bounded TAIL of stdout: the round-4 line
    // (full-precision medians + per-query spread and ok maps) overran it
    // and the artifact truncated mid-JSON with "parsed": null. Keep the
    // stdout line COMPACT (3-decimal medians, failures as a list, one
    // spread summary) so it always parses, and write the full-precision
    // per-query detail to BENCH_SELF.json for regression diffs.
    val qs = results.map(r => "\"" + r.name + "\":" + graft.util.Fmt.f3(r.median))
      .mkString("{", ",", "}")
    val total = results.filter(_.ok).map(_.median).sum
    val minTotal = results.filter(_.ok).map(_.min).sum
    val nFail = results.count(!_.ok)
    val failedList = results.filter(!_.ok).map("\"" + _.name + "\"")
      .mkString("[", ",", "]")
    val (spreadMaxQ, spreadMax) = results.map(r => (r.name, r.spread))
      .maxBy(_._2)
    val probesJson = probes.map(p => graft.util.Fmt.f3(p)).mkString("[", ",", "]")
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"runs":$runs,"failed":$nFail,"failed_queries":$failedList,"spread_max":${graft.util.Fmt.f3(spreadMax)},"spread_max_q":"$spreadMaxQ","min_total":${graft.util.Fmt.f3(minTotal)},"host_probe_sec":$probesJson,"sf":"$sfDir"}""")
    val detail = results.map { r =>
      s""""${r.name}":{"median_sec":${r.median},"min_sec":${r.min},"spread":${graft.util.Fmt.f3(r.spread)},"ok":${r.ok},"storage_residue_bytes":${residue(r.name)},"gc_ms":${gcMs(r.name)},"jit_ms":${jitMs(r.name)},"codegen_compiled":${codegenN(r.name)},"task_max_ms":${taskMaxMs(r.name)}}"""
    }.mkString("{", ",", "}")
    java.nio.file.Files.write(
      java.nio.file.Paths.get("BENCH_SELF.json"),
      s"""{"total_sec":$total,"min_total_sec":$minTotal,"runs":$runs,"failed":$nFail,"sf":"$sfDir","host_probe_sec":$probesJson,"queries":$detail}""".getBytes("UTF-8"))
    spark.stop()
  }
}
