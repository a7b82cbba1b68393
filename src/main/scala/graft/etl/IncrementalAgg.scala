package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Incremental rollup maintenance: keep a per-key aggregate snapshot
  * current by folding in ONLY the delta batch — materialized-view
  * upkeep. Re-scanning a 100 TB fact to refresh a dashboard is the
  * scale anti-pattern; here the snapshot is rollup-sized (one row per
  * distinct key combination) and the delta is one ingest batch, so the
  * refresh cost is O(|delta| + |snapshot|) regardless of history size.
  *
  * Exact for any commutative-monoid measure (sums, counts):
  * `mergeRollup(rollup(history), delta) == rollup(history ∪ delta)`
  * row-for-row — the invariant the property test and the q89 oracle
  * both assert. Averages and other derived ratios divide out of the
  * maintained sums downstream; holistic measures (exact distinct,
  * medians) do NOT merge and belong in sketch land
  * ([[Profiler.cardinalityProfile]]).
  */
object IncrementalAgg {

  /** Build the per-key snapshot: `n_rows` plus one named sum per
    * measure. `measures` maps output name → input expression (kept a
    * Seq so output column order is deterministic). */
  def rollup(
      fact: DataFrame,
      keys: Seq[String],
      measures: Seq[(String, Column)]): DataFrame = {
    require(keys.nonEmpty, "rollup needs at least one key")
    require(measures.nonEmpty, "rollup needs at least one measure")
    val aggs = count(lit(1)).as("n_rows") +:
      measures.map { case (n, c) => sum(c).as(n) }
    fact.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Fold a raw delta batch into an existing snapshot in ONE
    * aggregate: each delta row enters as a unit partial (`n_rows` = 1,
    * each measure = its expression) beside the snapshot rows, and the
    * union aggregates once on the keys. The merge thus plans one
    * exchange, and Spark's partial aggregation still collapses the delta
    * map-side before it, so only per-key partials shuffle. Keys present
    * only in the delta appear; keys untouched by the delta pass through
    * with their snapshot values (sum over a single row). */
  def mergeRollup(
      snapshot: DataFrame,
      deltaFact: DataFrame,
      keys: Seq[String],
      measures: Seq[(String, Column)]): DataFrame = {
    val units = deltaFact.select(keys.map(col) ++ (lit(1L).as("n_rows") +:
      measures.map { case (n, c) => c.as(n) }): _*)
    val merges = sum(col("n_rows")).as("n_rows") +:
      measures.map { case (n, _) => sum(col(n)).as(n) }
    val merged = snapshot.unionByName(units)
      .groupBy(keys.map(col): _*)
      .agg(merges.head, merges.tail: _*)
    // pin the output to the single-rollup schema: sum() re-widens
    // decimals, so without this cast every merge generation grows the
    // precision until it hits the 38 cap — a snapshot store would drift
    // schema version over version. Callers size the measure decimal for
    // the GRAND total, as with any materialized aggregate.
    merged.select(rollup(deltaFact, keys, measures).schema.fields
      .map(f => col(f.name).cast(f.dataType).as(f.name)): _*)
  }
}
