package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.lit
import graft.etl.Cdc

/** Streaming CDC state maintenance — the streaming tier of
  * [[graft.etl.Cdc]] (q92's operator), and the shape of every
  * Debezium→lakehouse pipeline: each micro-batch of change records
  * (upserts + delete tombstones) folds into the keyed state table with
  * `Cdc.applyLog`, so the serving view stays current at
  * O(|batch| + |state|) per trigger.
  *
  * Because `applyLog` retains tombstones, application COMPOSES across
  * any batch boundary (a later batch carrying an older update cannot
  * resurrect a deleted key) — micro-batch slicing cannot change the
  * final state, which is exactly the property a replayed/rewound
  * stream needs. Replay idempotence is the [[VersionedStore]] contract.
  *
  * Query the serving view with `Cdc.current(latest, opCol)`; compact
  * tombstones offline with `Cdc.compact` once the replication-lateness
  * horizon passes.
  */
object StreamingCdc {

  /** The per-batch kernel: `Cdc.applyLog` folded into the state store
    * ([[VersionedStore.fold]]). Pure DataFrame logic, unit-testable
    * without a streaming context. */
  def runBatch(
      batch: DataFrame,
      batchId: Long,
      key: String,
      tsCol: String,
      tieCol: String,
      opCol: String,
      storePath: String): Unit =
    VersionedStore.fold(batch, batchId, storePath, batch.where(lit(false)))(
      Cdc.applyLog(_, batch, key, tsCol, tieCol, opCol))
}
