package graft.streaming

import graft.SparkSpec
import graft.etl.Cdc
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.nio.file.Files

case class Change(k: Long, v: String, ts: Long, seq: Long, op: String)

/** Streamed CDC maintenance must converge to the same state as one
  * batch application of the full log (micro-batch slicing cannot
  * matter), and a replayed batch id must reproduce its snapshot. */
class StreamingCdcSpec extends SparkSpec {
  import spark.implicits._

  private def serve(df: org.apache.spark.sql.DataFrame) =
    Cdc.current(df, "op").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet

  private def latest(store: String) =
    IncrementalPipeline.readLatestDim(spark, store,
      sys.error("store must exist"))

  test("streamed batches converge to the one-shot batch application") {
    val store = Files.createTempDirectory("cdcstore").toString
    val ckpt = Files.createTempDirectory("cdcckpt").toString
    val batches = Seq(
      Seq(Change(1, "a", 10, 0, "U"), Change(2, "b", 10, 1, "U")),
      Seq(Change(1, "a2", 20, 2, "U"), Change(2, "x", 20, 3, "D")),
      Seq(Change(2, "late", 15, 4, "U"),   // older than the tombstone
        Change(3, "c", 30, 5, "U")))

    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Change]
    val q = VersionedStore.start(input.toDF(), ckpt)(
      StreamingCdc.runBatch(_, _, "k", "ts", "seq", "op", store))
    for (b <- batches) { input.addData(b: _*); q.processAllAvailable() }
    q.stop()

    val oneShot = Cdc.applyLog(
      batches.flatten.toDF().where(lit(false)),
      batches.flatten.toDF(), "k", "ts", "seq", "op")
    assert(serve(latest(store)) === serve(oneShot))
    // the tombstone held: key 2 is gone despite the late older update
    assert(serve(latest(store)) === Set((1L, "a2", 20L), (3L, "c", 30L)))
  }

  test("final state is invariant to how the op log slices into micro-batches") {
    // latest-op-wins over the retained-tombstone store composes across
    // ANY batch split (the StreamingCdc contract): a seeded shuffle
    // delivers the log out of order across uneven triggers — including
    // updates arriving after the tombstone that supersedes them and
    // same-ts ops resolved by seq — and the converged state must equal
    // one batch application of the full log.
    val store = Files.createTempDirectory("cdcshuf").toString
    val ckpt = Files.createTempDirectory("cdcshufck").toString
    val log = (for { k <- 1L to 8L; i <- 0 until 8 } yield
      Change(k, s"v${k}_$i", ts = (i / 2 * 10).toLong, // ts ties -> seq breaks
        seq = k * 100 + i, op = if ((k + i) % 4 == 3) "D" else "U")).toVector
    val rnd = new scala.util.Random(37)
    val slices = rnd.shuffle(log).grouped(9).toSeq
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Change]
    val q = VersionedStore.start(input.toDF(), ckpt)(
      StreamingCdc.runBatch(_, _, "k", "ts", "seq", "op", store))
    for (b <- slices) { input.addData(b: _*); q.processAllAvailable() }
    q.stop()
    val oneShot = Cdc.applyLog(
      log.toDF().where(lit(false)), log.toDF(), "k", "ts", "seq", "op")
    assert(serve(latest(store)) === serve(oneShot))
    // spot-check the mechanism: every key's final op is i = 7, so keys
    // with (k + 7) % 4 == 3 (k = 4, 8) end deleted
    assert(serve(latest(store)).map(_._1) === Set(1L, 2L, 3L, 5L, 6L, 7L))
  }

  test("replaying a batch id reproduces its snapshot") {
    val store = Files.createTempDirectory("cdcreplay").toString
    val b0 = Seq(Change(1, "a", 10, 0, "U")).toDF()
    val b1 = Seq(Change(1, "b", 20, 1, "U")).toDF()
    StreamingCdc.runBatch(b0, 0L, "k", "ts", "seq", "op", store)
    StreamingCdc.runBatch(b1, 1L, "k", "ts", "seq", "op", store)
    val once = serve(latest(store))
    StreamingCdc.runBatch(b1, 1L, "k", "ts", "seq", "op", store) // retry
    assert(serve(latest(store)) === once)
    assert(once === Set((1L, "b", 20L)))
  }
}
