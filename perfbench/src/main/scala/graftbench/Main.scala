package graftbench

import java.lang.management.{ManagementFactory, MemoryType}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, xxhash64}

/** Benchmark program: runs one workload in this JVM and writes a raw
  * artifact (samples, spans, run header) for `perfbench/run.py` to turn
  * into metrics.
  *
  *   graftbench.Main --workload <name> --inputs <dir> --work <dir>
  *                   --seconds <n> --trace <0|1> --out <file>
  *
  * Run shape: start the session, set up `Setups` times (the workload's
  * initial load, each into a fresh location), run `Warmups` discarded
  * iterations with one refresh batch each, then iterate until `--seconds`
  * have passed (at least two iterations) or the inputs run out of
  * refresh batches. Between iterations both storage layers are swept and
  * an untimed full GC runs, as in `graft.Bench`. With `--trace 1`
  * iterations alternate untraced and traced, so the artifact carries the
  * tracing overhead as well as the per-layer spans.
  */
object Main {
  val Setups = 3
  val Warmups = 1
  // refresh batches per iteration: two give each run several refresh
  // samples next to its full passes
  val BatchesPerIteration = 2

  /** Consume a result by hashing every column into one aggregate, so
    * Catalyst cannot prune any projection (`graft.Bench`'s consumer). */
  def consume(df: DataFrame): Unit =
    df.select(xxhash64(df.columns.map(col): _*).as("h"))
      .agg(expr("bit_xor(h)")).collect()

  /** Fixed scalar loop, as `graft.Bench` times before each pass: a cheap
    * host-speed canary recorded in the artifact. */
  def hostProbe(): Double = {
    val t0 = System.nanoTime()
    var s = 0L
    var i = 0L
    while (i < 50000000L) { s += i ^ (s >>> 7); i += 1 }
    if (s == 42) println("")
    (System.nanoTime() - t0) / 1e9
  }

  /** Live heap per heap pool, in MB: each pool's usage after the most
    * recent full collection. Metaspace and the code cache are not heap
    * pools; they move with class loading and the JIT. */
  def liveHeapMb(): Map[String, Double] =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP)
      .map(p => p.getName -> p.getCollectionUsage.getUsed / 1048576.0).toMap

  /** What one iteration of a workload reports: latencies of its full
    * build pass, of each refresh batch, of each read request and of the
    * read that follows each batch, and how many operations (layer calls
    * and requests) it made. */
  final case class IterResult(buildMs: Seq[Double], refreshMs: Seq[Double],
      readMs: Seq[Double], batchReadMs: Seq[Double], ops: Int)

  /** A workload: `setup` is the initial load (run `Setups` times, the
    * `n`-th into its own location), `iteration` one closed-loop unit of
    * work that ends with `batches` refresh batches, `canIterate` whether
    * the inputs hold the batches of one more measured iteration,
    * `writeChecks` the untimed outputs the checks read. */
  trait Workload {
    def setup(n: Int): Unit
    def iteration(i: Int, batches: Int): IterResult
    def canIterate: Boolean
    def writeChecks(): Unit
    def info: Map[String, Any] = Map.empty
  }

  def arg(args: Array[String], name: String): String = {
    val i = args.indexOf(s"--$name")
    require(i >= 0 && i + 1 < args.length, s"missing --$name")
    args(i + 1)
  }

  def session(name: String, work: String, cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$name")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def workload(name: String, spark: SparkSession, inputs: String, work: String,
      tracer: Tracer): Workload = name match {
    case "warehouse" => new Warehouse(spark, inputs, work, tracer)
    case "curation" => new Curation(spark, inputs, work, tracer)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def main(args: Array[String]): Unit = {
    val name = arg(args, "workload")
    val inputs = arg(args, "inputs")
    val work = arg(args, "work")
    val seconds = arg(args, "seconds").toDouble
    val traced = arg(args, "trace") == "1"
    val out = arg(args, "out")
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val cpus = Runtime.getRuntime.availableProcessors()

    val spark = session(name, work, cpus)
    spark.range(100000).selectExpr("sum(id % 7)").collect()
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    val tracer = new Tracer(spark.sparkContext)
    val w = workload(name, spark, inputs, work, tracer)
    def sweep(): Unit = {
      spark.sharedState.cacheManager.clearCache()
      graft.util.Blocks.releaseAll(spark)
      System.gc()
    }
    // largest live heap after a measured iteration, by heap pool
    var peakHeap = Map.empty[String, Double]
    def sweepAndWeigh(): Unit = {
      sweep()
      // the first full GC lets Spark's ContextCleaner find the pass's
      // unreachable broadcasts and shuffles and drop their blocks; the
      // second sees the heap without them, so the live heap it leaves
      // does not depend on how far the cleaner had got
      Thread.sleep(200)
      System.gc()
      val live = liveHeapMb()
      if (live.values.sum > peakHeap.values.sum) peakHeap = live
    }

    var attempted = 0L
    var failed = 0L
    val setupS = (0 until Setups).map { n =>
      val t0 = System.nanoTime()
      w.setup(n)
      attempted += 1
      val s = (System.nanoTime() - t0) / 1e9
      sweep()
      s
    }
    val probes = ArrayBuffer(hostProbe())
    val warmupS = (1 to Warmups).map { k =>
      val t0 = System.nanoTime()
      attempted += w.iteration(-k, 1).ops
      val s = (System.nanoTime() - t0) / 1e9
      sweep()
      s
    }
    System.err.println(s"[perfbench] session $sessionS s, setups $setupS, warm-ups $warmupS")

    val buildMs = ArrayBuffer.empty[Double]
    val refreshMs = ArrayBuffer.empty[Double]
    val readMs = ArrayBuffer.empty[Double]
    val batchReadMs = ArrayBuffer.empty[Double]
    val iterMs = ArrayBuffer.empty[(Boolean, Double)]
    val t0 = System.nanoTime()
    var i = 1
    // every run times at least two full passes; trace runs measure
    // untraced, traced, untraced: the untraced pair brackets the traced
    // iteration, so residual warm-up does not bias the tracing overhead
    val minIters = if (traced) 3 else 2
    while (w.canIterate && ((System.nanoTime() - t0) / 1e9 < seconds || i <= minIters)) {
      val tracedIter = traced && i % 2 == 0
      tracer.enable(tracedIter)
      val s0 = System.nanoTime()
      val r = try w.iteration(i, BatchesPerIteration) catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] iteration $i failed: $e")
          failed += 1
          IterResult(Nil, Nil, Nil, Nil, 1)
      }
      val ms = (System.nanoTime() - s0) / 1e6
      System.err.println(f"[perfbench] iteration $i%d traced=$tracedIter%s $ms%.0f ms")
      attempted += r.ops
      iterMs += ((tracedIter, ms))
      if (!traced || !tracedIter) {
        buildMs ++= r.buildMs
        refreshMs ++= r.refreshMs
        readMs ++= r.readMs
        batchReadMs ++= r.batchReadMs
      }
      sweepAndWeigh()
      i += 1
    }
    val spans = tracer.spans()
    tracer.enable(false)
    probes += hostProbe()
    w.writeChecks()

    val artifact = Map(
      "workload" -> name,
      "header" -> Map(
        "nproc" -> cpus,
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
        "jdk" -> System.getProperty("java.version"),
        "spark" -> spark.version,
        "host_probe_s" -> probes.toSeq),
      "setup" -> Map(
        "session_s" -> sessionS, "setups_s" -> setupS, "warmup_s" -> warmupS),
      "iterations" -> iterMs.map { case (t, ms) => Map("traced" -> t, "ms" -> ms) }.toSeq,
      "build_ms" -> buildMs.toSeq,
      "refresh_ms" -> refreshMs.toSeq,
      "read_ms" -> readMs.toSeq,
      "batch_read_ms" -> batchReadMs.toSeq,
      "peak_heap_mb" -> peakHeap.values.sum,
      "heap_pools_at_peak_mb" -> peakHeap,
      "attempted" -> attempted,
      "failed" -> failed,
      "info" -> w.info,
      "spans" -> spans.map { s =>
        Map(
          "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "iter" -> s.iter,
          "start_ns" -> s.startNs, "end_ns" -> s.endNs,
          "start_ms" -> s.startMs, "end_ms" -> s.endMs,
          "jobs" -> s.jobs, "tasks" -> s.tasks, "task_ms" -> s.taskMs,
          "shuffle_bytes" -> s.shuffleBytes, "spill_bytes" -> s.spillBytes,
          "task_intervals" -> s.taskIntervals.map { case (a, b) => Seq(a, b) }.toSeq)
      })
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      new ObjectMapper().registerModule(DefaultScalaModule).writeValueAsBytes(artifact))
    spark.stop()
  }
}
