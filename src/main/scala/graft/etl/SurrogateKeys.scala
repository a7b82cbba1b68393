package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._

/** Deterministic dense surrogate keys for dimension tables.
  *
  * reference: data_warehouse/sql/CreateModel.sql:4 `DateId SMALLINT
  * IDENTITY(1,1)`, :48 `StoreId INT IDENTITY(1,1)`, :119
  * `LiquorSalesId` — every reference dim (and the fact) carries a dense
  * integer surrogate key assigned at load time, and the fact stores the
  * dim FKs (:129-137). The reference gets them for free from SQL Server
  * IDENTITY columns; on a cluster that sequence is a single-writer
  * bottleneck, so here the ids come from the data itself: `row_number`
  * over a caller-declared canonical order, which is deterministic,
  * reproducible across reruns, and engine-portable (an external SQL
  * engine writes `row_number() OVER (ORDER BY <orderCols>)`).
  *
  * Scale shape: a bare `Window.orderBy` funnels the whole table through
  * ONE task, so [[assign]] is two-phase instead — range-repartition on
  * the order columns, number rows within each partition (narrow), then
  * shift each partition by the exact row counts of the partitions before
  * it. The counts come from one Spark job over the checkpointed
  * numbering (P longs to the driver, P = its partition count) and ride
  * back into the plan as a literal array indexed by the partition id:
  * no aggregate, no global window, no broadcast join. Dimensions are
  * usually metadata-scale, but this shape also survives a billion-row
  * dim.
  */
object SurrogateKeys {

  /** Assign a dense surrogate key `1+startOffset .. n+startOffset` in
    * the total order of `orderCols`. `orderCols` must be a unique key of
    * `dim` (a tie straddling a partition boundary would make numbering
    * nondeterministic); uniqueness is the same contract SQL Server's
    * clustered PK gives the reference's IDENTITY order.
    */
  def assign(
      dim: DataFrame,
      keyName: String,
      orderCols: Seq[String],
      startOffset: Long = 0L): DataFrame = {
    require(orderCols.nonEmpty, "orderCols must be non-empty")
    val ord = orderCols.map(col)
    // monotonically_increasing_id after the in-partition sort encodes
    // (partition id, position within partition): partitions are disjoint
    // ordered ranges, so position-in-partition + the row count of all
    // earlier partitions IS the global dense rank. A pid-partitioned
    // row_number window would re-shuffle the whole dim (range
    // partitioning doesn't satisfy hash-on-pid); this stays narrow.
    // The checkpoint pins ONE partition layout for the count job and
    // the numbering read: two separate executions of the subplan may be
    // AQE-coalesced into DIFFERENT layouts, and counts taken from one
    // would misnumber the other (observed at sf0.1 with a join-based
    // offsets frame: a 15k-row dim lost half its rows).
    val local = graft.util.Blocks.lazyCheckpoint(numberedLocal(dim, ord))
    local
      .withColumn(keyName, (col("_sk_local") +
        partitionOffset(local, "_sk_pid", lit(1L)) + lit(1L + startOffset)).cast("long"))
      .drop("_sk_mid", "_sk_pid", "_sk_local")
  }

  /** The offset of each row's partition in a checkpointed frame whose
    * partition i holds exactly the rows with `pidCol == i` (a pid
    * decoded from `monotonically_increasing_id` before the checkpoint):
    * the sum of the integral `weight` (NULL counts 0) over partitions
    * 0 .. i−1. ONE Spark job computes the per-partition totals on the
    * checkpoint's RDD — it also fills the checkpoint, so the frame's
    * consumer reads blocks — and the prefix sums return as a literal
    * array indexed by `pidCol`. */
  private[etl] def partitionOffset(
      local: DataFrame, pidCol: String, weight: Column): Column = {
    val rows = local.select(coalesce(weight.cast("long"), lit(0L))).queryExecution.toRdd
    val totals = local.sparkSession.sparkContext.runJob(rows,
      (it: Iterator[InternalRow]) => it.foldLeft(0L)(_ + _.getLong(0)))
    element_at(typedLit(totals.scanLeft(0L)(_ + _).init.toSeq), col(pidCol).cast("int") + 1)
  }

  /** The pre-checkpoint numbering frame: range-partitioned on the order
    * columns with (pid, position-in-partition) decoded from
    * monotonically_increasing_id. Package-visible so plan tests can
    * assert its shape (the checkpoint in [[assign]] truncates the
    * visible plan to a Scan ExistingRDD). */
  private[etl] def numberedLocal(
      dim: DataFrame, ord: Seq[org.apache.spark.sql.Column]): DataFrame =
    dim.repartitionByRange(ord: _*)
      .sortWithinPartitions(ord: _*)
      .withColumn("_sk_mid", monotonically_increasing_id())
      .withColumn("_sk_pid", shiftright(col("_sk_mid"), 33))
      .withColumn("_sk_local", col("_sk_mid").bitwiseAND((1L << 33) - 1))

  /** Extend an already-keyed dimension with incoming rows, preserving
    * every existing id (the IDENTITY property: ids never change once
    * issued). Incoming rows whose natural key already exists are
    * dropped; genuinely new rows get dense ids continuing from the
    * current max, in the canonical order of `orderCols`. The max rides
    * along as a broadcast one-row aggregate, not a driver action; the
    * [[assign]] of the new rows runs its jobs at the call.
    */
  def extend(
      existing: DataFrame,
      incoming: DataFrame,
      keyName: String,
      naturalKeyCols: Seq[String],
      orderCols: Seq[String]): DataFrame = {
    // collapse in-batch replays of the SAME natural key to one
    // deterministic representative (min of the non-key columns as one
    // struct — lexicographic, engine-stable): two copies surviving to
    // assign() would get two different surrogate ids and every later
    // FK join would fan out
    val others = incoming.columns.filterNot(naturalKeyCols.contains).toSeq
    val deduped =
      if (others.isEmpty) incoming.distinct()
      else incoming
        .groupBy(naturalKeyCols.map(col): _*)
        .agg(min(struct(others.map(col): _*)).as("_sk_rep"))
        .select((naturalKeyCols.map(col) ++
          others.map(o => col("_sk_rep").getField(o).as(o))): _*)
        .select(incoming.columns.map(col): _*)
    val fresh = deduped
      .join(existing.select(naturalKeyCols.map(col): _*), naturalKeyCols, "left_anti")
    val maxRow = existing.agg(coalesce(max(col(keyName)), lit(0L)).as("_sk_max"))
    val keyed = assign(fresh, keyName, orderCols)
      .crossJoin(broadcast(maxRow))
      .withColumn(keyName, col(keyName) + col("_sk_max"))
      .drop("_sk_max")
    existing.unionByName(keyed.select(existing.columns.map(col): _*))
  }

  /** Resolve a fact's natural key to the dimension's surrogate key:
    * the reference's FK-resolution joins in
    * create_update_liqour_sales_fact_table.py (`join_dim_df`), with
    * misses landing on the −1 unknown member
    * (insert_unknown_into_*.sql). The dim side is keys only
    * (natural key + surrogate), broadcast by default — at any fact
    * scale the stream side never shuffles.
    */
  def resolveFk(
      fact: DataFrame,
      dim: DataFrame,
      naturalKeyCols: Seq[String],
      keyName: String,
      fkName: String,
      unknownKey: Long = -1L,
      broadcastDim: Boolean = true): DataFrame = {
    val keyMap0 = dim.select((naturalKeyCols :+ keyName).map(col): _*)
    val keyMap = if (broadcastDim) broadcast(keyMap0) else keyMap0
    fact.join(keyMap, naturalKeyCols, "left")
      .withColumn("_sk_fk", coalesce(col(keyName), lit(unknownKey)))
      .drop(keyName)
      .withColumnRenamed("_sk_fk", fkName)
  }
}
