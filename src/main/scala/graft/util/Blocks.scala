package graft.util

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** Deterministic lifecycle control for checkpoint/persist block sets.
  *
  * `Dataset.localCheckpoint` materializes the frame into block-manager
  * storage and truncates lineage, but offers NO release API: the blocks
  * are freed only when the JVM garbage-collects the underlying RDD and
  * the ContextCleaner notices. In a long-lived multi-tenant driver
  * (exactly what a bench/verify harness is) superseded checkpoint blocks
  * pile into the unified memory pool and squeeze every later query —
  * measured: a full 82-query suite doubled its wall time purely from
  * accumulated eager-checkpoint blocks of iterative operators.
  *
  * The fix is a handle: a checkpointed Dataset's logical plan IS a
  * [[LogicalRDD]] wrapping the materialized RDD, so we can pull that RDD
  * out and `unpersist` it the moment the frame is superseded. Releasing
  * is only safe once nothing will re-evaluate the frame — a local
  * checkpoint has no lineage to recompute from.
  */
object Blocks {

  /** An eagerly local-checkpointed frame plus its release handle. */
  final case class Checkpointed(df: DataFrame, rdd: Option[RDD[_]]) {
    /** Free the checkpoint's storage blocks. The frame must not be
      * evaluated again afterwards (no lineage survives a local
      * checkpoint). Safe to call twice. */
    def release(): Unit = rdd.foreach(_.unpersist(blocking = false))
  }

  /** Eager local checkpoint with a deterministic-release handle.
    * Identical plan semantics to `df.localCheckpoint(true)` — the
    * resulting [[LogicalRDD]] carries the origin stats, so joins
    * against the materialized frame still broadcast.
    *
    * Blocks are stored SERIALIZED (`MEMORY_AND_DISK_SER`), not the RDD
    * default deserialized level: the rows are UnsafeRows — already
    * flat binary — so deserialized storage only wraps each one in a
    * Java object graph that measured ~3× the serialized bytes (a
    * 1.19M-pair q23 result: 132 MB deserialized vs ~40 MB of row
    * bytes) and feeds the old-gen with per-row objects for exactly the
    * frames that live longest. Re-reads pay one buffer copy per batch,
    * which the consumers here (single downstream join or hash-consume)
    * never notice. */
  def checkpoint(
      df: DataFrame,
      level: StorageLevel = StorageLevel.MEMORY_AND_DISK_SER): Checkpointed = {
    val cp = df.localCheckpoint(eager = true, storageLevel = level)
    Checkpointed(cp, handleOf(cp))
  }

  /** LAZY local checkpoint with the same serialized storage as
    * [[checkpoint]]: the rows are stored at first consumption, and the
    * blocks are GC/ContextCleaner-released with the frame. The call is
    * not free under AQE: `Dataset.localCheckpoint` runs
    * `executedPlan.execute()`, which materializes every shuffle stage
    * of the plan at the call (measured with Spark 4.1 at local[4]: a
    * `repartitionByRange` plan submits 2 jobs, a `groupBy` plan 1);
    * only the final stage waits for the first consumer. For
    * multi-consumer intermediates inside a query whose lifetime matches
    * the returned frame's, where an eager handle has no deterministic
    * release point anyway. */
  def lazyCheckpoint(df: DataFrame): DataFrame =
    df.localCheckpoint(eager = false,
      storageLevel = StorageLevel.MEMORY_AND_DISK_SER)

  /** The materialized RDD behind a checkpointed frame, if the plan is
    * the expected LogicalRDD shape (None on any other plan — callers
    * degrade to GC-managed release, never fail). */
  def handleOf(df: DataFrame): Option[RDD[_]] =
    df.queryExecution.logical.collectFirst { case lr: LogicalRDD => lr.rdd }

  /** Release the storage behind an eagerly-checkpointed frame that some
    * OTHER operator returned (e.g. the pair list a clustering step has
    * finished consuming). No-op when the frame is not a checkpoint.
    * Same contract as [[Checkpointed.release]]: the frame must not be
    * evaluated again afterwards. */
  def release(df: DataFrame): Unit =
    handleOf(df).foreach(_.unpersist(blocking = false))

  /** Runs `body` with a `track` function that persists a frame
    * (`MEMORY_AND_DISK`, so huge intermediates spill instead of OOM)
    * and remembers it; every tracked frame is unpersisted once `body`
    * returns or throws. `body` must materialize whatever reads the
    * tracked frames (an eager [[checkpoint]], a finished operator)
    * before it returns. */
  def withTracked[T](body: (DataFrame => DataFrame) => T): T = {
    val tracked = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    try body { df => tracked += df; df.persist(StorageLevel.MEMORY_AND_DISK) }
    finally tracked.foreach(_.unpersist(blocking = false))
  }

  /** Unpersist EVERY RDD-level block set registered with the context —
    * Dataset-cache entries (`df.persist`) live in the cache manager and
    * have their own `clearCache()`, but local-checkpoint blocks are
    * RDD-level and survive it. A harness that runs many independent
    * queries in one JVM calls this between queries so one query's
    * checkpoint residue cannot tax the next. Only safe at a point where
    * no live frame will be re-evaluated (checkpoints cannot recompute). */
  def releaseAll(spark: SparkSession): Unit =
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
}
