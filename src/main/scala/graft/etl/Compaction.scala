package graft.etl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Small-file compaction planning for a batch lakehouse layout — the
  * table-maintenance counterpart of the streaming stores'
  * [[graft.streaming.StoreCompaction]]: a long-lived partitioned table
  * accumulates small files until file listing and per-file open cost
  * dominate scans, and the fix is periodically rewriting groups of
  * small files into target-sized ones.
  *
  * The planner implements deterministic SORTED-FILL binning: files
  * ordered by (size desc, id) — a unique total order — and assigned to
  * bins by integer prefix-sum arithmetic, `bin = (cum − size) div
  * target` (the bin a file STARTS in). Sorted-fill is the standard
  * practical compromise: big files land alone in their own bins (never
  * rewritten together), runs of small files pack to ≈ target, and the
  * whole plan is reproducible from the file listing alone — no
  * first-fit heuristic state, so an interrupted compaction can replan
  * and converge.
  *
  * Scale shape: the input is FILE METADATA (millions of rows for a
  * 100 TB table — never data), but the prefix sum is still computed
  * bucket-parallel, not through one global-window task: range-partition
  * on the order, in-partition running sums, then each partition shifted
  * by the bytes of the partitions before it — per-partition totals from
  * one Spark job, added as a literal array indexed by the partition id
  * (the [[SurrogateKeys.assign]] two-phase shape, through the same
  * helper). All arithmetic is integer-exact, so the plan hash-matches a
  * single-window SQL oracle.
  */
object Compaction {

  /** Assign every file a compaction bin. Output = input columns +
    * `bin` (long). `fileIdCol` must be unique — it breaks size ties,
    * making the total order (and therefore the plan) deterministic. */
  def planSortedFill(
      files: DataFrame,
      fileIdCol: String,
      bytesCol: String,
      targetBytes: Long): DataFrame = {
    require(targetBytes > 0, s"targetBytes must be > 0, got $targetBytes")
    val ord = Seq(col(bytesCol).desc, col(fileIdCol).asc)
    // The checkpoint pins ONE partition layout for the byte-total job
    // and the running-sum read: separately executed subplans may be
    // AQE-coalesced into different layouts, and totals taken from one
    // would shift the other (the SurrogateKeys.assign lesson).
    val local = graft.util.Blocks.lazyCheckpoint(
      files.repartitionByRange(ord: _*)
        .sortWithinPartitions(ord: _*)
        .withColumn("_cp_pid",
          shiftright(monotonically_increasing_id(), 33)))
    local.withColumn("_cp_cum",
        sum(col(bytesCol)).over(
          Window.partitionBy(col("_cp_pid")).orderBy(ord: _*)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)) +
          SurrogateKeys.partitionOffset(local, "_cp_pid", col(bytesCol)))
      .withColumn("bin",
        expr(s"(_cp_cum - $bytesCol) div ${targetBytes}L"))
      .drop("_cp_pid", "_cp_cum")
  }

  /** Per-bin rollup of a [[planSortedFill]] plan: rewrite work list
    * with fill ratios; `n_files = 1` bins need no rewrite. */
  def binSummary(plan: DataFrame, bytesCol: String, targetBytes: Long): DataFrame =
    plan.groupBy(col("bin"))
      .agg(count(lit(1)).as("n_files"), sum(col(bytesCol)).as("bin_bytes"))
      .withColumn("fill_bp", expr(s"(10000 * bin_bytes) div ${targetBytes}L"))
}
