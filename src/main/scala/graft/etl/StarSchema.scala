package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Star-schema assembly: static dimension builders, fact flattening and
  * the derived money measures.
  *
  * reference: include/scripts/create_update_liqour_sales_fact_table.py —
  * dim joins (`join_dim_df`), unknown-member backfill
  * (`fill_na_in_county_columns` + insert_unknown_*.sql) and measures
  * (TotalCost/Revenue/GrossProfit/Margin).
  *
  * Money arithmetic is done in DECIMAL so results are exact and
  * engine-portable; ratios are emitted as rounded doubles.
  */
object StarSchema {

  /** Exact money type (test data carries 2-dp values in doubles; the
    * DECIMAL(12,2) cast is lossless and makes all downstream arithmetic
    * exact and engine-portable). */
  def money(c: Column): Column = c.cast("decimal(12,2)")

  /** Exact rate type for discount/tax factors. */
  def rate(c: Column): Column = c.cast("decimal(4,2)")

  /** revenue = extendedprice × (1 − discount), exact. */
  def revenue(price: Column, discount: Column): Column =
    money(price) * (lit(1).cast("decimal(4,2)") - rate(discount))

  /** charge = revenue × (1 + tax), exact. */
  def charge(price: Column, discount: Column, tax: Column): Column =
    revenue(price, discount) * (lit(1).cast("decimal(4,2)") + rate(tax))

  /** Distinct-lookup dimension (reference: DAG `create_county_dim`). */
  def distinctDim(src: DataFrame, cols: Seq[String]): DataFrame =
    src.select(cols.map(col): _*).distinct()

  /** Cross-join-of-distincts dimension
    * (reference: DAG `create_packaging_dim` — DISTINCT pack × DISTINCT
    * bottle_volume_ml). Both sides are tiny distinct sets, so ONE
    * aggregate over `src` collects both (one exchange, one partial set
    * per input task) and two explodes form the product — no distinct
    * exchanges, no broadcast. Each value is wrapped in a one-field
    * struct, which `collect_set` keeps even when the field is NULL: a
    * bare `collect_set` would drop the NULL member that SQL's
    * `SELECT DISTINCT` keeps. */
  def crossDim(src: DataFrame, colA: String, colB: String): DataFrame =
    src.agg(collect_set(struct(col(colA))).as("_xa"),
        collect_set(struct(col(colB))).as("_xb"))
      .select(inline(col("_xa")), col("_xb"))
      .select(col(colA), inline(col("_xb")))

  /** Bidirectional name↔number backfill from a lookup dimension.
    *
    * reference: create_update_liqour_sales_fact_table.py:47
    * `fill_na_in_county_columns` — rows missing the name get it from the
    * lookup by number, rows missing the number get it by name, rows
    * missing both get the unknown member; faithful to the reference's
    * INNER joins, a row with exactly one side null and no lookup match is
    * dropped.
    *
    * Spark-first re-expression: the reference splits into four
    * DataFrames and unions them back (4 scans of the fact). Here it is a
    * single pass with two broadcast left joins and a when-chain — the
    * fact is scanned once and never shuffled (the lookup is the small
    * side by construction).
    */
  def backfillFromLookup(
      df: DataFrame,
      numCol: String,
      nameCol: String,
      lookup: DataFrame,
      lookupNumCol: String,
      lookupNameCol: String,
      unknownNum: Long = -1L,
      unknownName: String = "unknown"): DataFrame = {
    val byNum = broadcast(lookup.select(
      col(lookupNumCol).as("_bf_num"), col(lookupNameCol).as("_bf_name_of_num")))
    val byName = broadcast(lookup.select(
      col(lookupNameCol).as("_bf_name"), col(lookupNumCol).as("_bf_num_of_name")))
    val num = col(numCol)
    val name = col(nameCol)
    df.join(byNum, num === col("_bf_num"), "left")
      .join(byName, name === col("_bf_name"), "left")
      .where(
        (num.isNotNull && name.isNotNull) ||
          (num.isNull && name.isNull) ||
          (name.isNull && col("_bf_name_of_num").isNotNull) ||
          (num.isNull && col("_bf_num_of_name").isNotNull))
      .withColumn("_bf_new_num",
        when(num.isNull && name.isNull, lit(unknownNum))
          .otherwise(coalesce(num, col("_bf_num_of_name"))))
      .withColumn("_bf_new_name",
        when(num.isNull && name.isNull, lit(unknownName))
          .otherwise(coalesce(name, col("_bf_name_of_num"))))
      .withColumn(numCol, col("_bf_new_num"))
      .withColumn(nameCol, col("_bf_new_name"))
      .drop("_bf_num", "_bf_name_of_num", "_bf_name", "_bf_num_of_name",
        "_bf_new_num", "_bf_new_name")
  }

  /** Left-join a dimension and coalesce misses to the unknown member
    * (reference: insert_unknown_*.sql + fillna(-1)). `defaults` maps each
    * dim attribute column to its unknown-member literal. */
  def joinWithUnknownMember(
      fact: DataFrame,
      dim: DataFrame,
      key: String,
      defaults: Map[String, Any]): DataFrame = {
    val joined = fact.join(broadcast(dim), Seq(key), "left")
    defaults.foldLeft(joined) { case (d, (c, dflt)) =>
      d.withColumn(c, coalesce(col(c), lit(dflt)))
    }
  }
}
