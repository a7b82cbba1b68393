package graft.streaming

import graft.SparkSpec
import graft.etl.RollingActives
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.nio.file.Files

case class Ping(user_id: Long, day: Long)

/** The incremental per-day-sketch store must reproduce the one-shot
  * sketch tier exactly (HLL register union is order-insensitive), stay
  * invariant under batch slicing and replay, and compose with
  * retention pruning — the properties that let a 100 TB dashboard
  * refresh touch only new days. */
class StreamingActivesSpec extends SparkSpec {
  import spark.implicits._

  private def pings: Vector[Ping] =
    (for (i <- 0 until 400) yield
      Ping(i % 97, (i % 23).toLong)).toVector

  private def seriesRows(store: String, window: Int) =
    StreamingActives.series(spark, store, window)
      .orderBy("report_day").collect().map(r => (r.getLong(0), r.getLong(1)))

  private def oneShot(rows: Seq[Ping], window: Int) =
    RollingActives.sketch(rows.toDF(), "user_id", "day", window)
      .orderBy("report_day").collect().map(r => (r.getLong(0), r.getLong(1)))

  test("stream of batches equals the one-shot sketch tier exactly") {
    val store = Files.createTempDirectory("activstore").toString
    val ckpt = Files.createTempDirectory("activckpt").toString
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ping]
    val q = VersionedStore.start(input.toDF(), ckpt)(
      StreamingActives.runBatch(_, _, "user_id", "day", store))
    for (b <- pings.grouped(150)) { input.addData(b: _*); q.processAllAvailable() }
    q.stop()
    assert(seriesRows(store, 7) === oneShot(pings, 7))
  }

  test("series is invariant to how events slice into micro-batches") {
    // register union is a per-register max — commutative, associative,
    // idempotent — so ANY slicing (including a duplicated event) must
    // converge to the same registers as one batch over everything.
    val rnd = new scala.util.Random(47)
    val shuffled = rnd.shuffle(pings)
    val store = Files.createTempDirectory("activshuf").toString
    val slices = Seq(shuffled.take(3), shuffled.slice(3, 200),
      shuffled.slice(200, 200), shuffled.slice(200, 400),
      shuffled.take(10)) // replayed events: idempotent
    var id = 0L
    for (b <- slices if b.nonEmpty) {
      StreamingActives.runBatch(b.toDF(), id, "user_id", "day", store)
      id += 1
    }
    assert(seriesRows(store, 7) === oneShot(pings, 7))
  }

  test("replaying a batch id reproduces its snapshot (no drift)") {
    val store = Files.createTempDirectory("activreplay").toString
    val (b0, b1) = pings.splitAt(250)
    StreamingActives.runBatch(b0.toDF(), 0L, "user_id", "day", store)
    StreamingActives.runBatch(b1.toDF(), 1L, "user_id", "day", store)
    val once = seriesRows(store, 7)
    StreamingActives.runBatch(b1.toDF(), 1L, "user_id", "day", store)
    assert(seriesRows(store, 7) === once)
  }

  test("prune to the retention floor leaves the series unchanged") {
    val store = Files.createTempDirectory("activprune").toString
    for ((b, i) <- pings.grouped(100).zipWithIndex)
      StreamingActives.runBatch(b.toDF(), i.toLong, "user_id", "day", store)
    val before = seriesRows(store, 7)
    val pruned = VersionPrune.keepLatest(spark, store, keep = 2)
    assert(pruned.nonEmpty)
    assert(seriesRows(store, 7) === before)
    // and maintenance continues cleanly on the pruned store
    StreamingActives.runBatch(pings.take(50).toDF(), 99L, "user_id", "day", store)
    assert(seriesRows(store, 7) === before) // idempotent re-fold of known events
  }

  test("store series tracks the exact tier within 3*rsd at window=90") {
    val store = Files.createTempDirectory("activ90").toString
    val wide = (for (i <- 0 until 3000) yield
      Ping(i % 911, (i % 120).toLong)).toVector
    for ((b, i) <- wide.grouped(1000).zipWithIndex)
      StreamingActives.runBatch(b.toDF(), i.toLong, "user_id", "day", store)
    val est = seriesRows(store, 90).toMap
    val exact = RollingActives.exact(wide.toDF(), "user_id", "day", 90)
      .orderBy("report_day").collect().map(r => (r.getLong(0), r.getLong(1)))
    val rsd = 1.04 / math.sqrt(math.pow(2.0, 12))
    assert(exact.nonEmpty)
    for ((day, ex) <- exact) {
      val e = est(day)
      assert(math.abs(e.toDouble - ex) <= math.max(3.0 * rsd * ex, 3.0),
        s"day $day: est $e vs exact $ex")
    }
  }
}
