package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Slowly-Changing-Dimension Type 2 construction and maintenance.
  *
  * Semantics follow the reference
  * (reference: include/scripts/modules/scd.py:11 `create_scd_from_input`):
  * a period per (natural key, attribute tuple) starting at the tuple's
  * earliest date; a period's end_date is the next period's start_date;
  * `is_current` when end_date is NULL. Note the reference groups by a hash
  * of the attribute tuple, so a value that flips A→B→A yields ONE `A`
  * period anchored at the first sighting — we reproduce that semantic.
  *
  * Spark-first re-expression: the reference builds this with three
  * self-joins plus a hash/unhash round-trip (scd.py:19-66). Here it is one
  * hash aggregation on (nk, attrs) followed by a `lead` window on nk —
  * both shuffle-partitioned by the natural key, so at 100 TB each key's
  * history is processed locally with no driver involvement. Ties (two
  * attribute tuples first seen on the same date) are broken by the
  * attribute values themselves so results are deterministic under
  * distributed execution (the reference's row_number over min-date alone
  * is tie-nondeterministic).
  */
object Scd {

  /** Build an SCD2 table from raw change records.
    *
    * @param records    one row per observation of the entity
    * @param naturalKey natural key column
    * @param attrs      tracked attribute columns (excluding the key)
    * @param dateCol    observation date column
    * @return columns: naturalKey, attrs..., start_date, end_date, is_current
    */
  def scd2FromRecords(
      records: DataFrame,
      naturalKey: String,
      attrs: Seq[String],
      dateCol: String): DataFrame = {
    val groupCols = (naturalKey +: attrs).map(col)
    val periods = records
      .groupBy(groupCols: _*)
      .agg(min(col(dateCol)).as("start_date"))
    val w = Window
      .partitionBy(col(naturalKey))
      .orderBy(col("start_date") +: attrs.map(col): _*)
    periods
      .withColumn("end_date", lead(col("start_date"), 1).over(w))
      .withColumn("is_current", col("end_date").isNull)
  }

  /** Point-in-time (as-of range) join of a fact to an SCD2 dimension.
    *
    * reference: include/scripts/create_update_liqour_sales_fact_table.py:20
    * `join_scd_dim_df` — `fact.FullDate >= dim.StartDate AND (dim.EndDate
    * IS NULL OR fact.FullDate < dim.EndDate)`.
    *
    * Executes as an equi-join on the natural key with the range condition
    * as a residual filter; Spark shuffles both sides by the key (or
    * broadcasts the dim when small), so this scales to arbitrarily large
    * facts.
    *
    * @param dimPrefix prefix applied to the dim's non-key columns in the
    *                  output, to avoid ambiguity
    */
  def pointInTimeJoin(
      fact: DataFrame,
      dim: DataFrame,
      naturalKey: String,
      factDateCol: String,
      dimPrefix: String = "dim_"): DataFrame = {
    val dimRenamed = dim.columns.foldLeft(dim) {
      case (d, c) if c != naturalKey => d.withColumnRenamed(c, s"$dimPrefix$c")
      case (d, _)                    => d
    }
    fact.join(
      dimRenamed,
      fact(factDateCol).isNotNull &&
        fact(naturalKey) === dimRenamed(naturalKey) &&
        fact(factDateCol) >= dimRenamed(s"${dimPrefix}start_date") &&
        (dimRenamed(s"${dimPrefix}end_date").isNull ||
          fact(factDateCol) < dimRenamed(s"${dimPrefix}end_date")),
      "inner"
    ).drop(dimRenamed(naturalKey))
  }

  /** Split an incoming batch into SCD update/insert sets against an
    * existing dimension.
    *
    * reference: include/scripts/modules/scd.py:242
    * `get_scd_records_for_update_and_insert` — rebuild the SCD over
    * (old periods replayed as records) ∪ (new records); `toUpdate` = old
    * current periods that now have an end_date; `toInsert` = rebuilt
    * periods not already present in the old SCD (anti-join on key +
    * start_date).
    *
    * Unlike the reference's `load_update_entries` (scd.py:203), which
    * collects update rows to the driver and issues per-row UPDATEs, both
    * outputs stay distributed DataFrames for MERGE-style sinks.
    *
    * Periods match with `<=>` (q13's oracle: `IS NOT DISTINCT FROM`),
    * so a NULL attribute equals NULL, as in the rebuild's grouping and
    * in the streaming merge
    * ([[graft.streaming.IncrementalPipeline.processBatch]]): a period
    * with a NULL attribute that a batch leaves alone is in neither
    * output, and one that a batch closes is in `toUpdate`.
    */
  def scdUpsert(
      oldScd: DataFrame,
      newRecords: DataFrame,
      naturalKey: String,
      attrs: Seq[String],
      dateCol: String): (DataFrame, DataFrame) = {
    val cols = (naturalKey +: attrs).map(col)
    val replayedOld = oldScd.select(cols :+ col("start_date").as(dateCol): _*)
    val combined = replayedOld.unionByName(
      newRecords.select(cols :+ col(dateCol): _*))
    val rebuilt = scd2FromRecords(combined, naturalKey, attrs, dateCol)

    // Identify a period by (natural key, attrs, start_date) — NOT just
    // (key, start_date): several periods of one key can share a start
    // date (same-day flip-flops), and keying on the date alone pairs the
    // wrong periods and loses the surviving current row on apply.
    def periodKey(d: DataFrame, suffix: String): DataFrame =
      d.select((naturalKey +: attrs :+ "start_date")
        .zipWithIndex.map { case (c, i) => col(c).as(s"_pk${i}$suffix") }: _*)
    def periodMatch(d: DataFrame, suffix: String) =
      (naturalKey +: attrs :+ "start_date").zipWithIndex
        .map { case (c, i) => d(c) <=> col(s"_pk${i}$suffix") }
        .reduce(_ && _)

    val oldCurrent = periodKey(oldScd.where(col("is_current")), "c")
    val toUpdate = rebuilt
      .join(oldCurrent, periodMatch(rebuilt, "c"), "inner")
      .where(rebuilt("end_date").isNotNull)
      .drop(oldCurrent.columns: _*)

    val oldKeys = periodKey(oldScd, "a")
    val toInsert = rebuilt
      .join(oldKeys, periodMatch(rebuilt, "a"), "left_anti")

    (toUpdate, toInsert)
  }
}
