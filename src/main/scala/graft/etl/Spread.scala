package graft.etl

import org.apache.spark.sql.{Column, DataFrame}

/** Conditional fan-out for under-partitioned inputs.
  *
  * A single-row-group parquet file (the toy-scale shape of the test
  * corpus) scans as ONE task, serializing every downstream CPU-heavy
  * narrow stage. The cure — `repartition(key)` — must not be applied
  * unconditionally: at corpus scale the source already splits into
  * thousands of tasks, and an unconditional repartition becomes a
  * full-corpus raw-byte shuffle executed for nothing. This helper
  * shuffles ONLY when the input has fewer partitions than the
  * cluster's parallelism, so the toy case spreads and the 100 TB case
  * is untouched (the returned frame is the input object itself — no
  * plan node is added at all).
  */
object Spread {

  /** Repartition `df` by `key` iff it has fewer partitions than
    * `minPartitions` (default: the cluster's default parallelism —
    * below that, cores sit idle). Reading the partition count
    * (`df.rdd.getNumPartitions`) plans the frame; whether that submits
    * a job depends on the plan (measured with Spark 4.1 at local[4]): 0
    * jobs on a scan, or on a scan ∪ local relation, but 1 job on a
    * `repartition` plan and 1 on a `groupBy` plan, because AQE runs
    * their shuffle stages to plan the rest. Apply the spread to a
    * source, not to a shuffled frame.
    *
    * The spread is ADVISORY (`repartition(key)`, no count): AQE may
    * re-coalesce it by bytes, which is right for ordinary pipelines —
    * iterative many-tiny-stage consumers (the ANN family) measurably
    * pay for over-parallelized micro-partitions. Downstream stages
    * whose per-ROW cost dwarfs their bytes must use [[byKeyStrict]]
    * instead. */
  def byKeyIfNarrow(
      df: DataFrame,
      key: Column,
      minPartitions: Int = 0): DataFrame = {
    val floor =
      if (minPartitions > 0) minPartitions
      else df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= floor) df
    else df.repartition(key)
  }

  /** [[byKeyIfNarrow]] with an EXPLICIT partition count — the spread
    * for inputs whose downstream work is CPU-heavy PER ROW while the
    * shuffled bytes are tiny. A bare keyed repartition is advisory to
    * AQE, whose BYTE-based coalescing re-fuses it whenever the
    * shuffled columns are narrow — measured at sf0.1: the perceptual
    * codec queries shuffle only `doc_id` (~40 KB), AQE coalesced the
    * exchange to ONE partition, and the downstream per-row codec work
    * (PNG build + decode + dHash, ~0.17 ms/row) ran single-threaded —
    * 4.4 s on one core for a stage worth 0.2 s across the cluster.
    * An explicit count is a strict requirement AQE must respect, and
    * it is exactly right here: this branch only engages when the
    * input is UNDER-partitioned (small corpora), where
    * `defaultParallelism` partitions is the correct spread; at scale
    * the input already splits past the floor and no plan node is
    * added at all.
    *
    * A spread moves only the work that stays above the exchange: a
    * caller's filter is pushed through a `RepartitionByExpression`
    * into the one scan task, together with every column expression it
    * references. An operator that owns its spread therefore
    * checkpoints its projection over the spread frame
    * ([[graft.text.GopherRules.annotate]] does). */
  def byKeyStrict(
      df: DataFrame,
      key: Column,
      minPartitions: Int = 0): DataFrame = {
    val floor =
      if (minPartitions > 0) minPartitions
      else df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= floor) df
    else df.repartition(floor, key)
  }
}
