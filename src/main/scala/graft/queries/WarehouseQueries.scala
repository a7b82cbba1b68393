package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.etl.{Cleaning, DateDim, Scd, StarSchema, SurrogateKeys}
import graft.curate.Curation
import graft.dedup.Dedup
import graft.sources.Tables

/** Warehouse/ETL query surface (SURVEY.md §2, rows 1–14).
  *
  * Conventions shared with the DuckDB oracles: every computed column is
  * aliased identically on both sides; money arithmetic is exact DECIMAL
  * with a final `round(·,4)::double`; every query has a deterministic
  * ORDER BY (Catalyst's EliminateSorts removes it under `count()`-style
  * consumers, so it costs nothing in benchmarks that don't fetch rows).
  */
object WarehouseQueries {

  /** round-to-double used for emitting exact DECIMAL aggregates. */
  private def emit(c: org.apache.spark.sql.Column) = round(c, 4).cast("double")

  /** Conditional fact-table spread ([[graft.etl.Spread.byKeyIfNarrow]]):
    * the toy-scale lineitem parquet is ONE row group, so its scan is
    * effectively one task and the pipelined join+aggregate work of
    * every dashboard/profile query runs single-threaded inside it
    * (measured: the dominant job of q02/q10/q11/q61/q65/q95 was a
    * 3-split scan stage whose one data-bearing task carried ~1-1.7 s).
    * The spread engages ONLY when the scan is under-partitioned; at
    * corpus scale the scan splits wide and no plan node is added. */
  private def factSpread(s: SparkSession, dir: String): DataFrame =
    graft.etl.Spread.byKeyIfNarrow(Tables.lineitem(s, dir), col("l_orderkey"))

  // ------------------------------------------------------------------ q01
  def q01CleanFilter(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .where(col("l_quantity") > 0 && col("l_extendedprice").isNotNull &&
        col("l_discount").between(0, 1))
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("l_extendedprice"), col("l_returnflag"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))

  val q01Oracle: String =
    """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_returnflag
      |FROM lineitem
      |WHERE l_quantity > 0 AND l_extendedprice IS NOT NULL AND l_discount BETWEEN 0 AND 1
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  // ------------------------------------------------------------------ q02
  def q02DerivedMeasures(s: SparkSession, dir: String): DataFrame = {
    val l = factSpread(s, dir)
    l.select(
        col("l_returnflag"), col("l_linestatus"),
        StarSchema.money(col("l_quantity")).as("qty"),
        StarSchema.money(col("l_extendedprice")).as("base"),
        StarSchema.revenue(col("l_extendedprice"), col("l_discount")).as("rev"),
        StarSchema.charge(col("l_extendedprice"), col("l_discount"), col("l_tax")).as("chg"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        emit(sum(col("qty"))).as("sum_qty"),
        emit(sum(col("base"))).as("sum_base_price"),
        emit(sum(col("rev"))).as("sum_revenue"),
        emit(sum(col("chg"))).as("sum_charge"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  val q02Oracle: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(round(sum(CAST(l_quantity AS DECIMAL(12,2))), 4) AS DOUBLE) AS sum_qty,
      |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2))), 4) AS DOUBLE) AS sum_base_price,
      |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))), 4) AS DOUBLE) AS sum_revenue,
      |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2))) * (CAST(1 AS DECIMAL(4,2)) + CAST(l_tax AS DECIMAL(4,2)))), 4) AS DOUBLE) AS sum_charge,
      |  count(*) AS count_order
      |FROM lineitem
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  // ------------------------------------------------------------------ q03
  def q03DateDim(s: SparkSession, dir: String): DataFrame =
    DateDim.fromObservedRange(Tables.orders(s, dir), "o_orderdate")
      .orderBy(col("full_date"))

  val q03Oracle: String =
    """WITH r AS (SELECT CAST(min(o_orderdate) AS DATE) AS mn, CAST(max(o_orderdate) AS DATE) AS mx FROM orders),
      |d AS (SELECT CAST(unnest(generate_series(mn, mx, INTERVAL 1 DAY)) AS DATE) AS full_date FROM r)
      |SELECT full_date,
      |  dayofyear(full_date) AS day_of_year,
      |  dayofmonth(full_date) AS day_of_month,
      |  isodow(full_date) AS day_of_week,
      |  dayname(full_date) AS day_name,
      |  isodow(full_date) >= 6 AS is_weekend,
      |  CASE WHEN (month(full_date)=3 AND dayofmonth(full_date)>=21) OR month(full_date) IN (4,5) OR (month(full_date)=6 AND dayofmonth(full_date)<22) THEN 1
      |       WHEN (month(full_date)=6 AND dayofmonth(full_date)>=22) OR month(full_date) IN (7,8) OR (month(full_date)=9 AND dayofmonth(full_date)<23) THEN 2
      |       WHEN (month(full_date)=9 AND dayofmonth(full_date)>=23) OR month(full_date) IN (10,11) OR (month(full_date)=12 AND dayofmonth(full_date)<22) THEN 3
      |       ELSE 4 END AS season_number,
      |  CASE WHEN (month(full_date)=3 AND dayofmonth(full_date)>=21) OR month(full_date) IN (4,5) OR (month(full_date)=6 AND dayofmonth(full_date)<22) THEN 'spring'
      |       WHEN (month(full_date)=6 AND dayofmonth(full_date)>=22) OR month(full_date) IN (7,8) OR (month(full_date)=9 AND dayofmonth(full_date)<23) THEN 'summer'
      |       WHEN (month(full_date)=9 AND dayofmonth(full_date)>=23) OR month(full_date) IN (10,11) OR (month(full_date)=12 AND dayofmonth(full_date)<22) THEN 'autumn'
      |       ELSE 'winter' END AS season_name,
      |  month(full_date) AS month_number,
      |  monthname(full_date) AS month_long_name,
      |  strftime(full_date, '%b') AS month_short_name,
      |  year(full_date) AS year,
      |  strftime(full_date, '%Y/%m') AS year_month
      |FROM d ORDER BY full_date""".stripMargin

  // ------------------------------------------------------------------ q04
  private def eventRecords(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir).select(
      col("event_id"), col("user_id"), to_date(col("ts")).as("d"),
      col("event_type"), col("value"))

  def q04Scd2Build(s: SparkSession, dir: String): DataFrame =
    Scd.scd2FromRecords(eventRecords(s, dir), "user_id", Seq("event_type"), "d")
      .orderBy(col("user_id"), col("start_date"), col("event_type"))

  private val scdCte: String =
    """p AS (SELECT user_id, event_type, min(CAST(ts AS DATE)) AS start_date
      |       FROM events GROUP BY user_id, event_type),
      |scd AS (SELECT user_id, event_type, start_date,
      |          lead(start_date) OVER (PARTITION BY user_id ORDER BY start_date, event_type) AS end_date
      |        FROM p)""".stripMargin

  val q04Oracle: String =
    s"""WITH $scdCte
       |SELECT user_id, event_type, start_date, end_date, end_date IS NULL AS is_current
       |FROM scd ORDER BY user_id, start_date, event_type""".stripMargin

  // ------------------------------------------------------------------ q05
  def q05PointInTimeJoin(s: SparkSession, dir: String): DataFrame = {
    val recs = eventRecords(s, dir)
    val dim = Scd.scd2FromRecords(recs, "user_id", Seq("event_type"), "d")
    Scd.pointInTimeJoin(
        recs.select(col("event_id"), col("user_id"), col("d").as("event_date")),
        dim, "user_id", "event_date")
      .select(
        col("event_id"), col("user_id"), col("event_date"),
        col("dim_event_type").as("period_type"),
        col("dim_start_date").as("period_start"))
      .orderBy(col("event_id"))
  }

  val q05Oracle: String =
    s"""WITH $scdCte
       |SELECT e.event_id, e.user_id, CAST(e.ts AS DATE) AS event_date,
       |  s.event_type AS period_type, s.start_date AS period_start
       |FROM events e JOIN scd s ON e.user_id = s.user_id
       |  AND CAST(e.ts AS DATE) >= s.start_date
       |  AND (s.end_date IS NULL OR CAST(e.ts AS DATE) < s.end_date)
       |ORDER BY event_id""".stripMargin

  // ------------------------------------------------------------------ q06
  def q06RemoveOneDayChanges(s: SparkSession, dir: String): DataFrame =
    Cleaning.removeOneDayChanges(
        eventRecords(s, dir).select(
          col("event_id"), col("user_id"), col("d"), col("event_type")),
        "event_type", "user_id", "d")
      .select(col("event_id"), col("user_id"), col("d"), col("event_type"))
      .orderBy(col("event_id"), col("event_type"))

  val q06Oracle: String =
    """WITH base AS (SELECT event_id, user_id, CAST(ts AS DATE) AS d, event_type FROM events),
      |dups AS (SELECT user_id AS dup_nk, d AS dup_d
      |         FROM (SELECT user_id, d, count(DISTINCT event_type) AS cd FROM base GROUP BY user_id, d)
      |         WHERE cd > 1),
      |next_day AS (SELECT dup_nk, dup_d, min(b.d) AS min_date
      |             FROM base b JOIN dups ON b.user_id = dup_nk
      |             WHERE b.d > dup_d GROUP BY dup_nk, dup_d),
      |next_val AS (SELECT nd.dup_nk, nd.dup_d, b.event_type AS new_value
      |             FROM base b JOIN next_day nd ON b.user_id = nd.dup_nk AND b.d = nd.min_date)
      |SELECT b.event_id, b.user_id, b.d, coalesce(nv.new_value, b.event_type) AS event_type
      |FROM base b LEFT JOIN next_val nv ON b.user_id = nv.dup_nk AND b.d = nv.dup_d
      |ORDER BY event_id, event_type""".stripMargin

  // ------------------------------------------------------------------ q07
  def q07StarFlatten(s: SparkSession, dir: String): DataFrame = {
    val l = factSpread(s, dir)
    val o = Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_custkey"),
        to_date(col("o_orderdate")).as("order_date"))
    val c = Tables.customer(s, dir)
      .select(col("c_custkey"), col("c_nationkey"), col("c_mktsegment"))
    val n = Tables.nation(s, dir)
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
    val r = Tables.region(s, dir)
      .select(col("r_regionkey"), col("r_name"))
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .select(
        col("l_orderkey"), col("l_linenumber"), col("order_date"),
        col("c_mktsegment"), col("n_name"), col("r_name"),
        emit(StarSchema.revenue(col("l_extendedprice"), col("l_discount")))
          .as("revenue"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))
  }

  val q07Oracle: String =
    """SELECT l.l_orderkey, l.l_linenumber, CAST(o.o_orderdate AS DATE) AS order_date,
      |  c.c_mktsegment, n.n_name, r.r_name,
      |  CAST(round(CAST(l.l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(4,2)) - CAST(l.l_discount AS DECIMAL(4,2))), 4) AS DOUBLE) AS revenue
      |FROM lineitem l
      |JOIN orders o ON l.l_orderkey = o.o_orderkey
      |JOIN customer c ON o.o_custkey = c.c_custkey
      |JOIN nation n ON c.c_nationkey = n.n_nationkey
      |JOIN region r ON n.n_regionkey = r.r_regionkey
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  // ------------------------------------------------------------------ q08
  def q08UnknownMember(s: SparkSession, dir: String): DataFrame = {
    val dim = Tables.part(s, dir).where(col("p_size") > 10)
      .select(col("p_partkey"), col("p_brand"))
    val fact = Tables.lineitem(s, dir)
      .select(col("l_partkey").as("p_partkey"), col("l_quantity"))
    StarSchema.joinWithUnknownMember(fact, dim, "p_partkey",
        Map("p_brand" -> "unknown"))
      .groupBy(col("p_brand").as("brand"))
      .agg(
        count(lit(1)).as("n_rows"),
        emit(sum(StarSchema.money(col("l_quantity")))).as("sum_qty"))
      .orderBy(col("brand"))
  }

  val q08Oracle: String =
    """SELECT coalesce(d.p_brand, 'unknown') AS brand, count(*) AS n_rows,
      |  CAST(round(sum(CAST(l.l_quantity AS DECIMAL(12,2))), 4) AS DOUBLE) AS sum_qty
      |FROM lineitem l
      |LEFT JOIN (SELECT p_partkey, p_brand FROM part WHERE p_size > 10) d
      |  ON l.l_partkey = d.p_partkey
      |GROUP BY coalesce(d.p_brand, 'unknown')
      |ORDER BY brand""".stripMargin

  // ------------------------------------------------------------------ q09
  def q09StaticDim(s: SparkSession, dir: String): DataFrame =
    StarSchema.crossDim(Tables.part(s, dir), "p_brand", "p_size")
      .orderBy(col("p_brand"), col("p_size"))

  val q09Oracle: String =
    """SELECT b.p_brand, s.p_size
      |FROM (SELECT DISTINCT p_brand FROM part) b
      |CROSS JOIN (SELECT DISTINCT p_size FROM part) s
      |ORDER BY p_brand, p_size""".stripMargin

  // ------------------------------------------------------------------ q10
  def q10DashboardRevenue(s: SparkSession, dir: String): DataFrame = {
    val l = factSpread(s, dir)
    val o = Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_custkey"),
        date_format(col("o_orderdate"), "yyyy/MM").as("year_month"))
    val c = Tables.customer(s, dir).select(col("c_custkey"), col("c_nationkey"))
    val n = Tables.nation(s, dir).select(col("n_nationkey"), col("n_name"))
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .groupBy(col("n_name"), col("year_month"))
      .agg(
        emit(sum(StarSchema.revenue(col("l_extendedprice"), col("l_discount"))))
          .as("revenue"),
        count(lit(1)).as("n_sales"))
      .orderBy(col("n_name"), col("year_month"))
  }

  val q10Oracle: String =
    """SELECT n.n_name, strftime(CAST(o.o_orderdate AS DATE), '%Y/%m') AS year_month,
      |  CAST(round(sum(CAST(l.l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(4,2)) - CAST(l.l_discount AS DECIMAL(4,2)))), 4) AS DOUBLE) AS revenue,
      |  count(*) AS n_sales
      |FROM lineitem l
      |JOIN orders o ON l.l_orderkey = o.o_orderkey
      |JOIN customer c ON o.o_custkey = c.c_custkey
      |JOIN nation n ON c.c_nationkey = n.n_nationkey
      |GROUP BY n.n_name, strftime(CAST(o.o_orderdate AS DATE), '%Y/%m')
      |ORDER BY n_name, year_month""".stripMargin

  // ------------------------------------------------------------------ q11
  def q11DashboardTopN(s: SparkSession, dir: String): DataFrame = {
    val l = factSpread(s, dir)
    val o = Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey"))
    val c = Tables.customer(s, dir).select(col("c_custkey"), col("c_nationkey"))
    val n = Tables.nation(s, dir).select(col("n_nationkey"), col("n_name"))
    val grouped = l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .groupBy(col("n_name"), col("l_partkey"))
      .agg(sum(StarSchema.revenue(col("l_extendedprice"), col("l_discount")))
        .as("rev_exact"))
    // Two-phase top-k ([[graft.curate.Curation.twoPhaseTopK]] — the
    // q84/q88 shape): rank first inside 256 hash-prefix buckets of
    // l_partkey (256-way parallel PER NATION), then let the per-nation
    // window rank only each bucket's top-5 — at most 256·5 survivors
    // per nation. A plain rank window partitioned by n_name alone caps
    // the stage at |nations| tasks (25 here); with a dim-scale part
    // universe that 25-task window is the slowest stage on any real
    // cluster. Any bucketing preserves top-k: a global top-5 row is
    // top-5 within its own bucket, so phase 1 never drops a winner.
    val keyed = grouped.withColumn("_bkt",
      substring(md5(col("l_partkey").cast("string")), 1, 2))
    Curation.twoPhaseTopK(keyed, "n_name",
        Seq(col("rev_exact").desc, col("l_partkey").asc), 5)
      .withColumnRenamed("sample_rank", "rnk")
      .select(col("n_name"), col("rnk"), col("l_partkey"),
        emit(col("rev_exact")).as("revenue"))
      .orderBy(col("n_name"), col("rnk"))
  }

  val q11Oracle: String =
    """WITH g AS (
      |  SELECT n.n_name, l.l_partkey,
      |    sum(CAST(l.l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(4,2)) - CAST(l.l_discount AS DECIMAL(4,2)))) AS rev_exact
      |  FROM lineitem l
      |  JOIN orders o ON l.l_orderkey = o.o_orderkey
      |  JOIN customer c ON o.o_custkey = c.c_custkey
      |  JOIN nation n ON c.c_nationkey = n.n_nationkey
      |  GROUP BY n.n_name, l.l_partkey),
      |r AS (SELECT n_name, l_partkey, rev_exact,
      |        row_number() OVER (PARTITION BY n_name ORDER BY rev_exact DESC, l_partkey ASC) AS rnk
      |      FROM g)
      |SELECT n_name, rnk, l_partkey, CAST(round(rev_exact, 4) AS DOUBLE) AS revenue
      |FROM r WHERE rnk <= 5 ORDER BY n_name, rnk""".stripMargin

  // ------------------------------------------------------------------ q12
  def q12IncrementalDelta(s: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(s, dir)
    val fresh = p.where(col("p_size") > 25)
      .select(col("p_brand"), col("p_type")).distinct()
    val stored = p.where(col("p_size") <= 25)
      .select(col("p_brand"), col("p_type")).distinct()
    fresh.join(stored, Seq("p_brand", "p_type"), "left_anti")
      .orderBy(col("p_brand"), col("p_type"))
  }

  val q12Oracle: String =
    """SELECT DISTINCT p_brand, p_type FROM part f WHERE p_size > 25
      |  AND NOT EXISTS (SELECT 1 FROM part o WHERE o.p_size <= 25
      |                  AND o.p_brand = f.p_brand AND o.p_type = f.p_type)
      |ORDER BY p_brand, p_type""".stripMargin

  // ------------------------------------------------------------------ q13
  def q13ScdMerge(s: SparkSession, dir: String): DataFrame = {
    val recs = eventRecords(s, dir)
      .select(col("user_id"), col("event_type"), col("d"))
    val cutoff = lit("2024-01-16").cast("date")
    val oldScd = Scd.scd2FromRecords(
      recs.where(col("d") < cutoff), "user_id", Seq("event_type"), "d")
    val (toUpdate, toInsert) = Scd.scdUpsert(
      oldScd, recs.where(col("d") >= cutoff),
      "user_id", Seq("event_type"), "d")
    val cols = Seq(col("user_id"), col("event_type"), col("start_date"),
      col("end_date"), col("is_current"))
    toUpdate.select(lit("update").as("action") +: cols: _*)
      .unionByName(toInsert.select(lit("insert").as("action") +: cols: _*))
      .orderBy(col("action"), col("user_id"), col("start_date"), col("event_type"))
  }

  val q13Oracle: String =
    """WITH recs AS (SELECT user_id, event_type, CAST(ts AS DATE) AS d FROM events),
      |old_p AS (SELECT user_id, event_type, min(d) AS start_date
      |          FROM recs WHERE d < DATE '2024-01-16' GROUP BY user_id, event_type),
      |old_scd AS (SELECT user_id, event_type, start_date,
      |              lead(start_date) OVER (PARTITION BY user_id ORDER BY start_date, event_type) AS end_date
      |            FROM old_p),
      |combined AS (SELECT user_id, event_type, start_date AS d FROM old_scd
      |             UNION ALL
      |             SELECT user_id, event_type, d FROM recs WHERE d >= DATE '2024-01-16'),
      |new_p AS (SELECT user_id, event_type, min(d) AS start_date
      |          FROM combined GROUP BY user_id, event_type),
      |new_scd AS (SELECT user_id, event_type, start_date,
      |              lead(start_date) OVER (PARTITION BY user_id ORDER BY start_date, event_type) AS end_date
      |            FROM new_p),
      |to_update AS (SELECT 'update' AS action, n.user_id, n.event_type, n.start_date,
      |                n.end_date, n.end_date IS NULL AS is_current
      |              FROM new_scd n
      |              JOIN (SELECT user_id, event_type, start_date FROM old_scd WHERE end_date IS NULL) o
      |                ON n.user_id = o.user_id AND n.event_type IS NOT DISTINCT FROM o.event_type AND n.start_date = o.start_date
      |              WHERE n.end_date IS NOT NULL),
      |to_insert AS (SELECT 'insert' AS action, n.user_id, n.event_type, n.start_date,
      |                n.end_date, n.end_date IS NULL AS is_current
      |              FROM new_scd n
      |              WHERE NOT EXISTS (SELECT 1 FROM old_scd o
      |                WHERE o.user_id = n.user_id AND o.event_type IS NOT DISTINCT FROM n.event_type AND o.start_date = n.start_date))
      |SELECT * FROM to_update UNION ALL SELECT * FROM to_insert
      |ORDER BY action, user_id, start_date, event_type""".stripMargin

  // ------------------------------------------------------------------ q14
  def q14DedupNaturalKey(s: SparkSession, dir: String): DataFrame =
    Dedup.latestPerKey(Tables.events(s, dir), Seq("user_id"), Seq("ts", "event_id"))
      .select(col("user_id"), col("event_id"), col("event_type"), col("value"))
      .orderBy(col("user_id"))

  val q14Oracle: String =
    """SELECT user_id, event_id, event_type, value
      |FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      |      FROM events)
      |WHERE rn = 1 ORDER BY user_id""".stripMargin

  // ------------------------------------------------------------------ q15
  /** The reference's full derived-measure set
    * (create_update_liqour_sales_fact_table.py:184-198): volume, total
    * cost, revenue, gross profit (exact DECIMAL), gross-profit margin
    * (the ratio division, emitted as a rounded double) and the
    * invoice-prefix substring derivation. Mapped onto lineitem⋈part:
    * quantity ≈ BottlesSold, p_retailprice ≈ StateBottleCost,
    * l_extendedprice ≈ StateBottleRetail, p_size ≈ BottleVolume. */
  def q15FullMeasures(s: SparkSession, dir: String): DataFrame = {
    val l = factSpread(s, dir)
      .where(col("l_extendedprice") > 0 && col("l_quantity") > 0)
    val p = Tables.part(s, dir).select(col("p_partkey"), col("p_size"),
      col("p_retailprice"))
    val qty = StarSchema.money(col("l_quantity"))
    val cost = StarSchema.money(col("p_retailprice"))
    val retail = StarSchema.money(col("l_extendedprice"))
    val totalCost = qty * cost
    val revenue = qty * retail
    val grossProfit = revenue - totalCost
    val inv = concat_ws("-", lit("INV"), col("l_orderkey"), col("l_linenumber"))
    l.join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .select(
        col("l_orderkey"), col("l_linenumber"),
        emit(qty * col("p_size")).as("volume_sold_liters"),
        emit(totalCost).as("total_cost_usd"),
        emit(revenue).as("revenue_usd"),
        emit(grossProfit).as("gross_profit_usd"),
        round(grossProfit.cast("double") / revenue.cast("double") * 100, 6)
          .as("gross_profit_margin"),
        substring(inv, 1, 4).as("invoice_prefix"),
        inv.substr(lit(1), length(inv) - 2).as("invoice_number"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))
  }

  val q15Oracle: String =
    """SELECT l_orderkey, l_linenumber,
      |  CAST(round(CAST(l_quantity AS DECIMAL(12,2)) * p_size, 4) AS DOUBLE) AS volume_sold_liters,
      |  CAST(round(CAST(l_quantity AS DECIMAL(12,2)) * CAST(p_retailprice AS DECIMAL(12,2)), 4) AS DOUBLE) AS total_cost_usd,
      |  CAST(round(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_extendedprice AS DECIMAL(12,2)), 4) AS DOUBLE) AS revenue_usd,
      |  CAST(round(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_extendedprice AS DECIMAL(12,2)) - CAST(l_quantity AS DECIMAL(12,2)) * CAST(p_retailprice AS DECIMAL(12,2)), 4) AS DOUBLE) AS gross_profit_usd,
      |  round(CAST(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_extendedprice AS DECIMAL(12,2)) - CAST(l_quantity AS DECIMAL(12,2)) * CAST(p_retailprice AS DECIMAL(12,2)) AS DOUBLE)
      |    / CAST(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_extendedprice AS DECIMAL(12,2)) AS DOUBLE) * 100, 6) AS gross_profit_margin,
      |  substring(concat_ws('-', 'INV', l_orderkey, l_linenumber), 1, 4) AS invoice_prefix,
      |  substring(concat_ws('-', 'INV', l_orderkey, l_linenumber), 1, length(concat_ws('-', 'INV', l_orderkey, l_linenumber)) - 2) AS invoice_number
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE l_extendedprice > 0 AND l_quantity > 0
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  // ------------------------------------------------------------------ q16
  /** Bidirectional name↔number backfill from the lookup dimension
    * (reference fill_na_in_county_columns): nation plays the county
    * lookup; nulls are synthesized deterministically from c_custkey so
    * every branch (name-null, number-null, both-null, complete) is
    * exercised. */
  def q16LookupBackfill(s: SparkSession, dir: String): DataFrame = {
    val n = Tables.nation(s, dir).select(col("n_nationkey"), col("n_name"))
    val c = Tables.customer(s, dir)
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .select(
        col("c_custkey"),
        when(col("c_custkey") % 7 === 0, lit(null)).otherwise(col("c_nationkey"))
          .as("nat_num"),
        when(col("c_custkey") % 5 === 0, lit(null)).otherwise(col("n_name"))
          .as("nat_name"))
    StarSchema.backfillFromLookup(c, "nat_num", "nat_name",
        n, "n_nationkey", "n_name")
      .select(col("c_custkey"), col("nat_num").cast("long").as("nat_num"),
        col("nat_name"))
      .orderBy(col("c_custkey"))
  }

  val q16Oracle: String =
    """WITH f AS (SELECT c_custkey,
      |    CASE WHEN c_custkey % 7 = 0 THEN NULL ELSE c_nationkey END AS nat_num,
      |    CASE WHEN c_custkey % 5 = 0 THEN NULL ELSE n_name END AS nat_name
      |  FROM customer JOIN nation ON c_nationkey = n_nationkey)
      |SELECT c_custkey,
      |  CAST(CASE WHEN nat_num IS NULL AND nat_name IS NULL THEN -1
      |       WHEN nat_num IS NULL THEN bn.n_nationkey
      |       ELSE nat_num END AS BIGINT) AS nat_num,
      |  CASE WHEN nat_num IS NULL AND nat_name IS NULL THEN 'unknown'
      |       WHEN nat_name IS NULL THEN nn.n_name
      |       ELSE nat_name END AS nat_name
      |FROM f
      |LEFT JOIN nation nn ON f.nat_num = nn.n_nationkey
      |LEFT JOIN nation bn ON f.nat_name = bn.n_name
      |WHERE (nat_num IS NOT NULL AND nat_name IS NOT NULL)
      |   OR (nat_num IS NULL AND nat_name IS NULL)
      |   OR (nat_name IS NULL AND nn.n_name IS NOT NULL)
      |   OR (nat_num IS NULL AND bn.n_nationkey IS NOT NULL)
      |ORDER BY c_custkey""".stripMargin

  // ------------------------------------------------------------------ q17
  /** Typed-schema ingest enforcement (reference ingest_utils.py:21-75):
    * synthesize the reference's dirty input shapes from lineitem —
    * stringly "N.0" keys, money-as-string, NaN-poisoned doubles — then
    * coerce with [[graft.sources.TypedIngest]]: stringly float → Int,
    * money string → DECIMAL(9,2), NaN → NULL. */
  def q17TypedIngest(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.TypedIngest
    val dirty = factSpread(s, dir).select(
      col("l_orderkey"), col("l_linenumber"),
      concat(col("l_partkey").cast("string"), lit(".0")).as("pk_str"),
      col("l_extendedprice").cast("string").as("price_str"),
      when(col("l_discount") < 0.03, lit(Double.NaN)).otherwise(col("l_tax"))
        .as("maybe_nan"))
    dirty.select(
        col("l_orderkey"), col("l_linenumber"),
        TypedIngest.intFromStringlyFloat(col("pk_str")).as("pk"),
        round(TypedIngest.moneyFromString(col("price_str")), 2).cast("double")
          .as("price"),
        round(TypedIngest.nanToNull(col("maybe_nan")), 6).as("tax_or_null"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))
  }

  val q17Oracle: String =
    """WITH dirty AS (SELECT l_orderkey, l_linenumber,
      |    CAST(l_partkey AS VARCHAR) || '.0' AS pk_str,
      |    CAST(l_extendedprice AS VARCHAR) AS price_str,
      |    CASE WHEN l_discount < 0.03 THEN 'NaN'::DOUBLE ELSE l_tax END AS maybe_nan
      |  FROM lineitem)
      |SELECT l_orderkey, l_linenumber,
      |  CAST(split_part(pk_str, '.', 1) AS BIGINT) AS pk,
      |  CAST(round(CAST(price_str AS DECIMAL(9,2)), 2) AS DOUBLE) AS price,
      |  round(CASE WHEN isnan(maybe_nan) THEN NULL ELSE maybe_nan END, 6) AS tax_or_null
      |FROM dirty ORDER BY l_orderkey, l_linenumber""".stripMargin

  // ------------------------------------------------------------------ q18
  /** Gap-based sessionization of the event stream ([[graft.etl.Sessionize]]):
    * 30-minute inactivity gap per user, then a per-session rollup — the
    * standard behavioural-data preparation the reference's BI layer
    * would need for any "visits" dashboard. One shuffle on user_id. */
  def q18Sessionize(s: SparkSession, dir: String): DataFrame =
    graft.etl.Sessionize.sessionStats(Tables.events(s, dir),
        keyCol = "user_id", tsCol = "ts", gapMicros = 30L * 60 * 1000000,
        tieBreakCol = "event_id", valueCol = "value")
      .orderBy(col("user_id"), col("session_seq"))

  val q18Oracle: String =
    """WITH e AS (SELECT user_id, event_id, value, epoch_ns(ts) // 1000 AS us FROM events),
      |m AS (SELECT user_id, event_id, value, us,
      |        CASE WHEN lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) IS NULL
      |               OR us - lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) > 1800000000
      |             THEN 1 ELSE 0 END AS new_sess
      |      FROM e),
      |s AS (SELECT user_id, value, us,
      |        CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY us, event_id
      |                                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
      |      FROM m)
      |SELECT user_id, session_seq, count(*) AS n_events,
      |  (max(us) - min(us)) // 1000000 AS duration_sec,
      |  round(sum(value), 6) AS total_value
      |FROM s GROUP BY user_id, session_seq
      |ORDER BY user_id, session_seq""".stripMargin

  // ------------------------------------------------------------------ q19
  /** ROLLUP dashboard: revenue/order counts at (year, priority),
    * per-year subtotal and grand-total grain in ONE aggregation pass
    * (Expand + single shuffle) instead of three dashboard queries.
    * NULL grouping slots are coalesced to sentinels so the output (and
    * its ordering) is engine-portable. */
  def q19RollupDashboard(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .withColumn("order_year", year(col("o_orderdate")))
      .rollup(col("order_year"), col("o_orderpriority"))
      .agg(
        grouping_id().cast("int").as("grp"),
        count(lit(1)).as("n_orders"),
        emit(sum(col("o_totalprice").cast("decimal(12,2)"))).as("revenue"))
      .select(col("grp"),
        coalesce(col("order_year"), lit(-1)).as("order_year"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("n_orders"), col("revenue"))
      .orderBy(col("grp"), col("order_year"), col("priority"))

  val q19Oracle: String =
    """SELECT CAST(GROUPING(year(o_orderdate), o_orderpriority) AS INTEGER) AS grp,
      |  coalesce(year(o_orderdate), -1) AS order_year,
      |  coalesce(o_orderpriority, 'ALL') AS priority,
      |  count(*) AS n_orders,
      |  CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 4) AS DOUBLE) AS revenue
      |FROM orders
      |GROUP BY ROLLUP(year(o_orderdate), o_orderpriority)
      |ORDER BY grp, order_year, priority""".stripMargin

  // ------------------------------------------------------------------ q65
  /** Skew-mitigated fact⋈dim join ([[graft.etl.Skew.saltedEquiJoin]]):
    * the fact side is salted by full-row hash and the dim replicated
    * per salt, so a hot part key spreads over 8 reducers instead of
    * one — value-identical to the plain equi-join (which IS the
    * oracle), for the skews AQE cannot re-split (deterministic layouts
    * feeding bucketed sinks, build sides too large even after a
    * split). */
  def q65SkewJoin(s: SparkSession, dir: String): DataFrame =
    graft.etl.Skew.saltedEquiJoin(
        factSpread(s, dir)
          .select(col("l_partkey").as("p_partkey"), col("l_quantity"),
            col("l_extendedprice")),
        Tables.part(s, dir).select(col("p_partkey"), col("p_brand")),
        key = "p_partkey", salts = 8)
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_lines"),
        emit(sum(col("l_quantity").cast("decimal(12,2)"))).as("sum_qty"),
        emit(sum(col("l_extendedprice").cast("decimal(12,2)")))
          .as("sum_price"))
      .orderBy(col("p_brand"))

  val q65Oracle: String =
    """SELECT p_brand, count(*) AS n_lines,
      |  CAST(round(sum(CAST(l_quantity AS DECIMAL(12,2))), 4) AS DOUBLE) AS sum_qty,
      |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2))), 4) AS DOUBLE) AS sum_price
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |GROUP BY p_brand ORDER BY p_brand""".stripMargin

  // ------------------------------------------------------------------ q69
  /** Trailing 7-day moving revenue average per order priority — the
    * dashboard smoothing window. Daily totals aggregate FIRST (the
    * heavy reduction), then the RANGE frame runs over one row per
    * (priority, day): the window's shuffle is |priorities| × |days|
    * rows, not the fact table. The frame keys on an integer day index
    * so the range bound is engine-portable. */
  def q69MovingAvg(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(s, dir)
      .withColumn("d", to_date(col("o_orderdate")))
      .groupBy(col("o_orderpriority").as("priority"), col("d"))
      .agg(sum(col("o_totalprice").cast("decimal(12,2)")).as("day_rev"))
      .withColumn("day_idx", datediff(col("d"), lit("1970-01-01")).cast("long"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("priority")).orderBy(col("day_idx"))
      .rangeBetween(-6, 0)
    daily
      .withColumn("ma7", round(avg(col("day_rev")).over(w), 4).cast("double"))
      .select(col("priority"), col("d"), emit(col("day_rev")).as("day_rev"),
        col("ma7"))
      .orderBy(col("priority"), col("d"))
  }

  val q69Oracle: String =
    """WITH daily AS (SELECT o_orderpriority AS priority,
      |    CAST(o_orderdate AS DATE) AS d,
      |    sum(CAST(o_totalprice AS DECIMAL(12,2))) AS day_rev,
      |    CAST(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS day_idx
      |  FROM orders GROUP BY 1, 2, 4)
      |SELECT priority, d, CAST(round(day_rev, 4) AS DOUBLE) AS day_rev,
      |  CAST(round(avg(day_rev) OVER (PARTITION BY priority ORDER BY day_idx
      |    RANGE BETWEEN 6 PRECEDING AND CURRENT ROW), 4) AS DOUBLE) AS ma7
      |FROM daily ORDER BY priority, d""".stripMargin

  // ------------------------------------------------------------------ q53
  /** Trailing-window revenue anomaly days — the dashboard alerting
    * shape: a day is a `spike` when its revenue exceeds 2× the
    * trailing-28-day mean and a `drop` when it falls below half,
    * gated on ≥ 14 observed prior days so a sparse history never
    * alerts. All arithmetic is INTEGER-EXACT: revenue is summed in
    * cents (long), the threshold tests are cross-multiplied to
    * `n·x > 2·S` / `2·n·x < S`, and the reported ratio is integer
    * basis points — no floating-point comparison exists anywhere, so
    * the oracle hash-matches with zero boundary risk (a 2σ z-score
    * variant needs Σx² products that overflow 64-bit at sf ≥ 1; the
    * cross-multiplied mean test never exceeds ~10¹⁵ at 100× sf1).
    * One shuffle on the priority key, shared by the daily rollup and
    * the trailing window. */
  def q53AnomalyDays(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(s, dir)
      .withColumn("d", to_date(col("o_orderdate")))
      .groupBy(col("o_orderpriority").as("priority"), col("d"))
      .agg(sum((col("o_totalprice").cast("decimal(12,2)") * 100).cast("long"))
        .as("day_rev_c"))
      .withColumn("day_idx", datediff(col("d"), lit("1970-01-01")).cast("long"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("priority")).orderBy(col("day_idx"))
      .rangeBetween(-28, -1)
    daily
      .withColumn("n_prev", count(lit(1)).over(w))
      .withColumn("s_prev", sum(col("day_rev_c")).over(w))
      .withColumn("ratio_bp",
        expr("(10000 * n_prev * day_rev_c) div s_prev"))
      .withColumn("is_spike",
        col("n_prev") >= 14 &&
          col("n_prev") * col("day_rev_c") > lit(2L) * col("s_prev"))
      .withColumn("is_drop",
        col("n_prev") >= 14 &&
          lit(2L) * col("n_prev") * col("day_rev_c") < col("s_prev"))
      .select(col("priority"), col("d"), col("day_rev_c"), col("n_prev"),
        col("ratio_bp"), col("is_spike"), col("is_drop"))
      .orderBy(col("priority"), col("d"))
  }

  val q53Oracle: String =
    """WITH daily AS (SELECT o_orderpriority AS priority,
      |    CAST(o_orderdate AS DATE) AS d,
      |    CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT) AS day_rev_c,
      |    CAST(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS day_idx
      |  FROM orders GROUP BY 1, 2, 4),
      |w AS (SELECT priority, d, day_rev_c,
      |    count(*) OVER win AS n_prev,
      |    CAST(sum(day_rev_c) OVER win AS BIGINT) AS s_prev
      |  FROM daily
      |  WINDOW win AS (PARTITION BY priority ORDER BY day_idx
      |    RANGE BETWEEN 28 PRECEDING AND 1 PRECEDING))
      |SELECT priority, d, day_rev_c, n_prev,
      |  CAST((10000 * n_prev * day_rev_c) // s_prev AS BIGINT) AS ratio_bp,
      |  (n_prev >= 14 AND n_prev * day_rev_c > 2 * s_prev) AS is_spike,
      |  (n_prev >= 14 AND 2 * n_prev * day_rev_c < s_prev) AS is_drop
      |FROM w ORDER BY priority, d""".stripMargin

  // ------------------------------------------------------------------ q59
  /** Week-over-week revenue change per priority — the delta-ribbon
    * every revenue dashboard carries. Weekly rollup in integer cents
    * (map-side-combinable), one lag window over the dim-sized weekly
    * series, and the percent change reported in integer basis points
    * with SIGN-SPLIT division: Spark's `div` truncates toward zero
    * while DuckDB's `//` floors, so negative quotients disagree by one
    * — computing `sign · (10000·|diff| div prev)` keeps both engines
    * on the positive-division path where they agree exactly. */
  def q59WowChange(s: SparkSession, dir: String): DataFrame = {
    val weekly = Tables.orders(s, dir)
      .withColumn("week",
        (datediff(to_date(col("o_orderdate")), lit("1970-01-01")) / 7)
          .cast("long"))
      .groupBy(col("o_orderpriority").as("priority"), col("week"))
      .agg(sum((col("o_totalprice").cast("decimal(12,2)") * 100).cast("long"))
        .as("week_rev_c"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("priority")).orderBy(col("week"))
    weekly
      .withColumn("prev_rev_c", lag(col("week_rev_c"), 1).over(w))
      .withColumn("diff", col("week_rev_c") - col("prev_rev_c"))
      .withColumn("wow_bp",
        when(col("diff") >= 0, expr("(10000 * diff) div prev_rev_c"))
          .otherwise(-expr("(10000 * -diff) div prev_rev_c")))
      .select(col("priority"), col("week"), col("week_rev_c"),
        col("prev_rev_c"), col("wow_bp"))
      .orderBy(col("priority"), col("week"))
  }

  val q59Oracle: String =
    """WITH weekly AS (SELECT o_orderpriority AS priority,
      |    CAST(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) // 7 AS BIGINT) AS week,
      |    CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT) AS week_rev_c
      |  FROM orders GROUP BY 1, 2),
      |lagged AS (SELECT priority, week, week_rev_c,
      |    lag(week_rev_c, 1) OVER (PARTITION BY priority ORDER BY week) AS prev_rev_c
      |  FROM weekly)
      |SELECT priority, week, week_rev_c, prev_rev_c,
      |  CAST(CASE WHEN week_rev_c - prev_rev_c >= 0
      |    THEN (10000 * (week_rev_c - prev_rev_c)) // prev_rev_c
      |    ELSE -((10000 * (prev_rev_c - week_rev_c)) // prev_rev_c)
      |  END AS BIGINT) AS wow_bp
      |FROM lagged ORDER BY priority, week""".stripMargin

  // ------------------------------------------------------------------ q70
  /** Cohort retention over the event stream: users grouped by
    * first-activity week, actives counted per (cohort week, activity
    * week) — the standard retention triangle. Two aggregations, both
    * keyed on the user then the week pair; exact distinct actives. */
  def q70CohortRetention(s: SparkSession, dir: String): DataFrame = {
    // Floor division, not Spark's truncate-toward-zero DIV: the DuckDB
    // oracle floors (`//`), and the two disagree on pre-1970
    // timestamps. `us - pmod(us, d)` is an exact multiple of d, so the
    // DIV is exact — no double-precision rounding at large micros.
    val ev = Tables.events(s, dir)
      .select(col("user_id"),
        expr("(unix_micros(ts) - pmod(unix_micros(ts), 604800000000)) DIV 604800000000")
          .as("week"))
    val cohort = ev.groupBy(col("user_id"))
      .agg(min(col("week")).as("cohort_week"))
    ev.join(cohort, "user_id")
      .groupBy(col("cohort_week"), col("week"))
      .agg(countDistinct(col("user_id")).as("active_users"))
      .orderBy(col("cohort_week"), col("week"))
  }

  val q70Oracle: String =
    """WITH ev AS (SELECT user_id,
      |    (epoch_ns(ts) // 1000) // 604800000000 AS week
      |  FROM events),
      |cohort AS (SELECT user_id, min(week) AS cohort_week FROM ev GROUP BY user_id)
      |SELECT c.cohort_week, e.week, count(DISTINCT e.user_id) AS active_users
      |FROM ev e JOIN cohort c ON e.user_id = c.user_id
      |GROUP BY c.cohort_week, e.week
      |ORDER BY c.cohort_week, e.week""".stripMargin

  // ------------------------------------------------------------------ q57
  /** Rolling 7-day active users per day — the rolling-MAU/WAU
    * engagement dashboard, the window-7 instance of
    * [[graft.etl.RollingActives.rolling]]. At 7 days the auto-tier
    * picks the EXACT fan-out (dedup to (user, day) pairs, fan each out
    * to the ≤ 7 report days it covers, distinct per report day — the
    * shuffle multiplier is the window length, bounded by the tier
    * cap); long windows switch to merged per-day HLL registers, proven
    * against this tier in RollingActivesSpec. Report days are
    * restricted to days that actually have events, so the output is a
    * left-total dashboard series. */
  def q57RollingActives(s: SparkSession, dir: String): DataFrame = {
    // Floor-division day bucketing (see q70's note): matches the
    // oracle's `//` even for pre-1970 timestamps.
    val ev = Tables.events(s, dir)
      .select(col("user_id"),
        expr("(unix_micros(ts) - pmod(unix_micros(ts), 86400000000)) DIV 86400000000")
          .as("day"))
    graft.etl.RollingActives.rolling(ev, "user_id", "day", window = 7)
      .select(col("report_day"), col("active").as("active_7d"))
      .orderBy(col("report_day"))
  }

  // ------------------------------------------------------------------ q58
  /** Rolling 90-DAY distinct actives — the LONG-WINDOW tier of
    * [[graft.etl.RollingActives]]. At 90 days the exact fan-out would
    * multiply the (user, day) shuffle 90×, so the auto-tier collapses
    * each day to ONE mergeable HLL sketch and merges 90 registers per
    * report day: the windowed fan-out is days × sketch-bytes —
    * metadata scale, independent of user volume. The estimate is a
    * DataSketches register walk, not SQL-reproducible, so no DuckDB
    * oracle; instead the q87 pattern — the query carries its own
    * audit: the exact trailing-window distinct (the ≤ 14-day tier run
    * out-of-cap at gate scale) joined per report day with a 3·rsd
    * acceptance flag. At corpus scale only the sketch path runs; the
    * audit column is the gate-scale proof the registers tell the
    * truth (RollingActivesSpec asserts the flag holds and that the
    * sketch plan fans out per-DAY rows, not per-pair rows). */
  def q58RollingActives90(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("user_id"),
        expr("(unix_micros(ts) - pmod(unix_micros(ts), 86400000000)) DIV 86400000000")
          .as("day"))
    val lgK = 12
    val rsd = 1.04 / math.sqrt(math.pow(2.0, lgK))
    val est = graft.etl.RollingActives.rolling(ev, "user_id", "day",
        window = 90, maxExactWindow = 14, lgConfigK = lgK)
      .select(col("report_day"), col("active").as("active_90d"))
    val exact = graft.etl.RollingActives.exact(ev, "user_id", "day",
        window = 90)
      .select(col("report_day"), col("active").as("exact_90d"))
    est.join(exact, "report_day")
      .withColumn("within_3rsd",
        abs(col("active_90d") - col("exact_90d")) <=
          greatest(lit(3.0 * rsd) * col("exact_90d"), lit(3.0)))
      .orderBy(col("report_day"))
  }

  val q57Oracle: String =
    """WITH ud AS (SELECT DISTINCT user_id,
      |    (epoch_ns(ts) // 1000) // 86400000000 AS day
      |  FROM events),
      |days AS (SELECT DISTINCT day AS report_day FROM ud),
      |fan AS (SELECT user_id, unnest(generate_series(day, day + 6)) AS report_day
      |  FROM ud)
      |SELECT f.report_day, count(DISTINCT f.user_id) AS active_7d
      |FROM fan f JOIN days d ON f.report_day = d.report_day
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------------------------------------------ q74
  /** Fixed-width value histogram of the fact's extended price (20 bins
    * of 5000, overflow clamped to the last bin) — distribution
    * profiling for dashboards/QA as ONE aggregation; fixed bin edges
    * keep the op a single pass (data-dependent edges would need a
    * min/max pre-pass). */
  def q74Histogram(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .select(least(floor(col("l_extendedprice") / 5000.0), lit(19L))
        .cast("long").as("bin"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_rows"))
      .withColumn("bin_lo", (col("bin") * 5000.0).cast("double"))
      .select(col("bin"), col("bin_lo"), col("n_rows"))
      .orderBy(col("bin"))

  val q74Oracle: String =
    """SELECT bin, CAST(bin * 5000.0 AS DOUBLE) AS bin_lo, count(*) AS n_rows
      |FROM (SELECT CAST(least(floor(l_extendedprice / 5000.0), 19) AS BIGINT) AS bin
      |      FROM lineitem)
      |GROUP BY bin ORDER BY bin""".stripMargin

  // ------------------------------------------------------------------ q75
  /** Semi-structured attribute extraction: the event stream's JSON
    * `props` column parsed ONCE per row with `from_json` against an
    * explicit schema (no inference pass, codegen'd Jackson parse),
    * then aggregated per event type — the ingest shape for
    * attribute-bag event data. */
  def q75JsonExtract(s: SparkSession, dir: String): DataFrame = {
    val propsSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.LongType)))
    Tables.events(s, dir)
      .withColumn("k", from_json(col("props"), propsSchema).getField("k"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("k")).as("sum_k"),
        round(avg(col("k")), 6).as("avg_k"))
      .orderBy(col("event_type"))
  }

  val q75Oracle: String =
    """SELECT event_type, count(*) AS n_events,
      |  CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
      |  round(avg(CAST(json_extract(props, '$.k') AS BIGINT)), 6) AS avg_k
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // ------------------------------------------------------------------ q76
  /** Conversion funnel ([[graft.etl.Funnel]]): view → click → purchase
    * with strict event-time succession per user; one user-keyed
    * aggregation per step. */
  def q76Funnel(s: SparkSession, dir: String): DataFrame =
    graft.etl.Funnel.funnelCounts(Tables.events(s, dir),
        "user_id", "ts", "event_type", Seq("view", "click", "purchase"))
      .orderBy(col("step"))

  val q76Oracle: String =
    """WITH e AS (SELECT user_id, event_type, epoch_ns(ts) // 1000 AS us FROM events),
      |s1 AS (SELECT user_id, min(us) AS t1 FROM e WHERE event_type = 'view' GROUP BY user_id),
      |s2 AS (SELECT e.user_id, min(us) AS t2 FROM e JOIN s1 USING (user_id)
      |       WHERE event_type = 'click' AND us > t1 GROUP BY e.user_id),
      |s3 AS (SELECT e.user_id, min(us) AS t3 FROM e JOIN s2 USING (user_id)
      |       WHERE event_type = 'purchase' AND us > t2 GROUP BY e.user_id)
      |SELECT step, n_users FROM (
      |  SELECT 'step1_view' AS step, count(*) AS n_users FROM s1
      |  UNION ALL SELECT 'step2_click', count(*) FROM s2
      |  UNION ALL SELECT 'step3_purchase', count(*) FROM s3)
      |ORDER BY step""".stripMargin

  // ------------------------------------------------------------------ q77
  /** Surrogate-keyed star join ([[graft.etl.SurrogateKeys]]): the
    * customer dim is built in two loads — an initial assignment and an
    * IDENTITY-preserving extension (existing ids untouched, new rows
    * continue from the max) — then the orders fact resolves its FK on
    * the surrogate and aggregates per (sk, segment). Mirrors the
    * reference's IDENTITY dims + FK joins
    * (data_warehouse/sql/CreateModel.sql:48/:129). */
  def q77SurrogateStar(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir).select(col("c_custkey"), col("c_mktsegment"))
    val initial = SurrogateKeys.assign(
      c.where(col("c_custkey") <= 750), "customer_sk", Seq("c_custkey"))
    val dim = SurrogateKeys.extend(
      initial, c.where(col("c_custkey") > 750),
      "customer_sk", Seq("c_custkey"), Seq("c_custkey"))
    val fact = SurrogateKeys.resolveFk(
      Tables.orders(s, dir)
        .select(col("o_custkey").as("c_custkey"), col("o_totalprice")),
      dim, Seq("c_custkey"), "customer_sk", "customer_sk")
    fact
      .join(broadcast(dim.select(col("customer_sk"), col("c_mktsegment"))),
        Seq("customer_sk"))
      .groupBy(col("customer_sk"), col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"),
        emit(sum(col("o_totalprice").cast("decimal(12,2)"))).as("revenue"))
      .orderBy(col("customer_sk"))
  }

  val q77Oracle: String =
    """WITH d1 AS (SELECT c_custkey, c_mktsegment,
      |         row_number() OVER (ORDER BY c_custkey) AS customer_sk
      |       FROM customer WHERE c_custkey <= 750),
      |d2 AS (SELECT c_custkey, c_mktsegment,
      |         (SELECT count(*) FROM d1) + row_number() OVER (ORDER BY c_custkey) AS customer_sk
      |       FROM customer WHERE c_custkey > 750),
      |dim AS (SELECT * FROM d1 UNION ALL SELECT * FROM d2)
      |SELECT d.customer_sk, d.c_mktsegment, count(*) AS n_orders,
      |  CAST(round(sum(CAST(o.o_totalprice AS DECIMAL(12,2))), 4) AS DOUBLE) AS revenue
      |FROM orders o JOIN dim d ON o.o_custkey = d.c_custkey
      |GROUP BY d.customer_sk, d.c_mktsegment
      |ORDER BY customer_sk""".stripMargin

  // ------------------------------------------------------------------ q78
  /** Date dimension with surrogate key AND the −1 unknown member
    * ([[DateDim.withUnknownMember]]): facts whose date is null (here
    * every 11th order, synthetically) resolve to DateId −1 instead of
    * falling out of the star — the reference's
    * insert_unknown_into_date_table.sql semantics end-to-end. */
  def q78DateUnknownMember(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val dim = DateDim.withUnknownMember(
      SurrogateKeys.assign(
        DateDim.fromObservedRange(o, "o_orderdate"), "date_id", Seq("full_date")))
    val fact = o.select(
      col("o_totalprice"),
      when(col("o_orderkey") % 11 === 0, lit(null).cast("date"))
        .otherwise(to_date(col("o_orderdate"))).as("full_date"))
    SurrogateKeys.resolveFk(fact, dim, Seq("full_date"), "date_id", "date_id")
      .join(broadcast(dim.select(col("date_id"), col("year"), col("season_name"))),
        Seq("date_id"))
      .groupBy(col("date_id"), col("year"), col("season_name"))
      .agg(count(lit(1)).as("n_orders"),
        emit(sum(col("o_totalprice").cast("decimal(12,2)"))).as("revenue"))
      .orderBy(col("date_id"))
  }

  val q78Oracle: String =
    """WITH r AS (SELECT CAST(min(o_orderdate) AS DATE) AS mn, CAST(max(o_orderdate) AS DATE) AS mx FROM orders),
      |cal AS (SELECT CAST(unnest(generate_series(mn, mx, INTERVAL 1 DAY)) AS DATE) AS full_date FROM r),
      |keyed AS (SELECT full_date, row_number() OVER (ORDER BY full_date) AS date_id,
      |            year(full_date) AS year,
      |            CASE WHEN (month(full_date)=3 AND dayofmonth(full_date)>=21) OR month(full_date) IN (4,5) OR (month(full_date)=6 AND dayofmonth(full_date)<22) THEN 'spring'
      |                 WHEN (month(full_date)=6 AND dayofmonth(full_date)>=22) OR month(full_date) IN (7,8) OR (month(full_date)=9 AND dayofmonth(full_date)<23) THEN 'summer'
      |                 WHEN (month(full_date)=9 AND dayofmonth(full_date)>=23) OR month(full_date) IN (10,11) OR (month(full_date)=12 AND dayofmonth(full_date)<22) THEN 'autumn'
      |                 ELSE 'winter' END AS season_name
      |          FROM cal
      |          UNION ALL SELECT DATE '1900-01-01', -1, -1, 'unknown'),
      |fact AS (SELECT o_totalprice,
      |           CASE WHEN o_orderkey % 11 = 0 THEN NULL ELSE CAST(o_orderdate AS DATE) END AS full_date
      |         FROM orders),
      |resolved AS (SELECT f.o_totalprice, coalesce(k.date_id, -1) AS date_id
      |             FROM fact f LEFT JOIN keyed k ON f.full_date = k.full_date)
      |SELECT v.date_id, k.year, k.season_name, count(*) AS n_orders,
      |  CAST(round(sum(CAST(v.o_totalprice AS DECIMAL(12,2))), 4) AS DOUBLE) AS revenue
      |FROM resolved v JOIN keyed k ON v.date_id = k.date_id
      |GROUP BY v.date_id, k.year, k.season_name
      |ORDER BY v.date_id""".stripMargin

  // ------------------------------------------------------------------ q79
  /** As-of join over the event stream ([[graft.etl.AsofJoin]]): every
    * event is annotated with the most recent PRECEDING purchase (time +
    * value) of the same user — the trades⋈quotes point-in-time shape.
    * Purchases are pre-deduped to one row per (user, μs) with `max_by`
    * so the "latest" at a tied timestamp is well-defined on both
    * engines. The oracle is DuckDB's native ASOF LEFT JOIN. */
  def q79AsofJoin(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir).select(
      col("event_id"), col("user_id"), col("event_type"), col("value"),
      unix_micros(col("ts")).as("us"))
    val quotes = e.where(col("event_type") === "purchase")
      .groupBy(col("user_id"), col("us").as("q_us"))
      .agg(max_by(col("value"), col("event_id")).as("qv"))
    graft.etl.AsofJoin.asofJoin(
        e.select(col("event_id"), col("user_id"), col("us")),
        quotes, keyCols = Seq("user_id"),
        leftTsCol = "us", rightTsCol = "q_us",
        payloadCols = Seq("qv"), asofTsName = "asof_us")
      .select(col("event_id"), col("user_id"), col("us").as("event_us"),
        col("asof_us"), round(col("qv"), 6).as("asof_value"))
      .orderBy(col("event_id"))
  }

  val q79Oracle: String =
    """WITH e AS (SELECT event_id, user_id, event_type, value,
      |    epoch_ns(ts) // 1000 AS us FROM events),
      |q AS (SELECT user_id, us AS q_us, max_by(value, event_id) AS qv
      |      FROM e WHERE event_type = 'purchase' GROUP BY user_id, us)
      |SELECT e.event_id, e.user_id, e.us AS event_us,
      |  q.q_us AS asof_us, round(q.qv, 6) AS asof_value
      |FROM e ASOF LEFT JOIN q
      |  ON e.user_id = q.user_id AND e.us >= q.q_us
      |ORDER BY event_id""".stripMargin

  // ------------------------------------------------------------------ q80
  /** Keyless interval⋈point join ([[graft.etl.RangeJoin]]): every ~97th
    * order opens a 3-day promo window; count the events (ANY user —
    * there is deliberately NO equi-key) falling inside each window.
    * The binned join shuffles on day buckets instead of planning the
    * quadratic BroadcastNestedLoopJoin the bare inequality predicate
    * would get. */
  def q80IntervalJoin(s: SparkSession, dir: String): DataFrame = {
    val dayUs = 86400000000L
    val windows = Tables.orders(s, dir)
      .where(col("o_orderkey") % 97 === 0)
      .select(col("o_orderkey").as("window_id"),
        unix_micros(to_timestamp(to_date(col("o_orderdate")))).as("start_us"))
      .withColumn("end_us", col("start_us") + lit(3 * dayUs))
    val pts = Tables.events(s, dir)
      .select(unix_micros(col("ts")).as("us"), col("value"))
    graft.etl.RangeJoin.intervalPointJoin(
        windows, pts, "start_us", "end_us", "us", bucketWidth = dayUs)
      .groupBy(col("window_id"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 6).as("sum_value"))
      .orderBy(col("window_id"))
  }

  val q80Oracle: String =
    """WITH w AS (SELECT o_orderkey AS window_id,
      |    epoch_ns(CAST(CAST(o_orderdate AS DATE) AS TIMESTAMP)) // 1000 AS start_us
      |  FROM orders WHERE o_orderkey % 97 = 0),
      |e AS (SELECT epoch_ns(ts) // 1000 AS us, value FROM events)
      |SELECT w.window_id, count(*) AS n_events, round(sum(e.value), 6) AS sum_value
      |FROM w JOIN e ON e.us >= w.start_us AND e.us < w.start_us + 259200000000
      |GROUP BY w.window_id ORDER BY window_id""".stripMargin

  // ------------------------------------------------------------------ q60
  /** Pivoted dashboard: quantity by return flag × line status as a
    * wide table. The pivot value list is EXPLICIT — without it Spark
    * runs a distinct-values job over the fact table before planning,
    * a full extra scan at 100 TB. */
  def q60PivotDashboard(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .pivot("l_linestatus", Seq("F", "O"))
      .agg(emit(sum(col("l_quantity").cast("decimal(12,2)"))))
      .select(col("l_returnflag"),
        col("F").as("qty_f"), col("O").as("qty_o"))
      .orderBy(col("l_returnflag"))

  val q60Oracle: String =
    """SELECT l_returnflag,
      |  CAST(round(sum(CAST(l_quantity AS DECIMAL(12,2))) FILTER (WHERE l_linestatus = 'F'), 4) AS DOUBLE) AS qty_f,
      |  CAST(round(sum(CAST(l_quantity AS DECIMAL(12,2))) FILTER (WHERE l_linestatus = 'O'), 4) AS DOUBLE) AS qty_o
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // ------------------------------------------------------------------ q61
  /** Column profiling QA over the fact table ([[graft.etl.Profiler]]):
    * one scan + one aggregation produces nulls/distincts/range/exact
    * sums for every profiled column at once. */
  private val profileCols =
    Seq("l_discount", "l_extendedprice", "l_quantity", "l_tax")

  def q61ColumnProfile(s: SparkSession, dir: String): DataFrame =
    graft.etl.Profiler.numericProfile(factSpread(s, dir), profileCols)
      .select(col("col_name"), col("n_rows"), col("n_nulls"),
        col("n_distinct"), round(col("min_v"), 6).as("min_v"),
        round(col("max_v"), 6).as("max_v"),
        emit(col("sum_v")).as("sum_v"))
      .orderBy(col("col_name"))

  val q61Oracle: String = profileCols.map { c =>
    s"""SELECT '$c' AS col_name, count(*) AS n_rows,
       |  CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
       |  count(DISTINCT $c) AS n_distinct,
       |  round(CAST(min($c) AS DOUBLE), 6) AS min_v,
       |  round(CAST(max($c) AS DOUBLE), 6) AS max_v,
       |  CAST(round(sum(CAST($c AS DECIMAL(18,2))), 4) AS DOUBLE) AS sum_v
       |FROM lineitem""".stripMargin
  }.mkString("", "\nUNION ALL\n", "\nORDER BY col_name")

  // ------------------------------------------------------------------ q89
  /** Incremental rollup maintenance ([[graft.etl.IncrementalAgg]]):
    * the pre-watermark history builds a per-(status, year) snapshot;
    * the post-watermark delta folds in WITHOUT rescanning history. The
    * oracle recomputes the rollup from the full fact — a hash match IS
    * the `merge(rollup(hist), delta) == rollup(all)` exactness
    * invariant. Sums ride DECIMAL so addition order cannot drift. */
  def q89IncrementalRollup(s: SparkSession, dir: String): DataFrame = {
    val wm = lit("1999-01-01").cast("timestamp")
    val keyed = Tables.orders(s, dir)
      .withColumn("order_year", year(col("o_orderdate")))
    val measures = Seq(
      "total_price" -> col("o_totalprice").cast("decimal(14,2)"))
    val keys = Seq("o_orderstatus", "order_year")
    val snapshot = graft.etl.IncrementalAgg.rollup(
      keyed.where(col("o_orderdate") < wm), keys, measures)
    graft.etl.IncrementalAgg.mergeRollup(
        snapshot, keyed.where(col("o_orderdate") >= wm), keys, measures)
      .select(col("o_orderstatus"), col("order_year"), col("n_rows"),
        emit(col("total_price")).as("total_price"))
      .orderBy(col("o_orderstatus"), col("order_year"))
  }

  val q89Oracle: String =
    """SELECT o_orderstatus, CAST(year(o_orderdate) AS INTEGER) AS order_year,
      |  count(*) AS n_rows,
      |  CAST(round(sum(CAST(o_totalprice AS DECIMAL(14,2))), 4) AS DOUBLE) AS total_price
      |FROM orders GROUP BY 1, 2 ORDER BY o_orderstatus, order_year""".stripMargin

  // ------------------------------------------------------------------ q95
  /** Share-of-total dashboard: each nation's revenue as a fraction of
    * its REGION's total — the ratio-to-report window shape (one window
    * sum over the pre-aggregated 25-row nation rollup; the naive
    * self-join against a region-total subquery scans the fact twice).
    * Aggregation first, window second: the window input is dim-sized,
    * never the fact. The share divides DOUBLE casts of the exact
    * decimal sums: decimal÷decimal result scales differ by engine, but
    * a single IEEE division of identical doubles is correctly rounded
    * everywhere — bit-identical, so the 6-decimal round hashes. */
  def q95ShareOfTotal(s: SparkSession, dir: String): DataFrame = {
    val l = factSpread(s, dir)
    val o = Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey"))
    val c = Tables.customer(s, dir).select(col("c_custkey"), col("c_nationkey"))
    val n = Tables.nation(s, dir)
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
    val r = Tables.region(s, dir).select(col("r_regionkey"), col("r_name"))
    val byNation = l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(sum(StarSchema.revenue(col("l_extendedprice"), col("l_discount")))
        .as("rev_exact"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("r_name"))
    byNation
      .withColumn("region_total", sum(col("rev_exact")).over(w))
      .select(col("r_name"), col("n_name"),
        emit(col("rev_exact")).as("revenue"),
        round(col("rev_exact").cast("double") /
          col("region_total").cast("double"), 6).as("region_share"))
      .orderBy(col("r_name"), col("n_name"))
  }

  val q95Oracle: String =
    """WITH g AS (
      |  SELECT r.r_name, n.n_name,
      |    sum(CAST(l.l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(4,2)) - CAST(l.l_discount AS DECIMAL(4,2)))) AS rev_exact
      |  FROM lineitem l
      |  JOIN orders o ON l.l_orderkey = o.o_orderkey
      |  JOIN customer c ON o.o_custkey = c.c_custkey
      |  JOIN nation n ON c.c_nationkey = n.n_nationkey
      |  JOIN region r ON n.n_regionkey = r.r_regionkey
      |  GROUP BY r.r_name, n.n_name)
      |SELECT r_name, n_name,
      |  CAST(round(rev_exact, 4) AS DOUBLE) AS revenue,
      |  round(CAST(rev_exact AS DOUBLE)
      |    / CAST(sum(rev_exact) OVER (PARTITION BY r_name) AS DOUBLE), 6)
      |    AS region_share
      |FROM g ORDER BY r_name, n_name""".stripMargin

  // ------------------------------------------------------------------ q94
  /** Calendar gap-fill ([[graft.etl.DateDim.gapFillDaily]]): daily
    * order counts + revenue per status over a 6-week slice, zero-filled
    * against the status × day spine so silent days chart 0 instead of
    * vanishing. Aggregation happens BEFORE the spine join (the spine
    * meets |groups|·|days| rows, never the fact); groups come from full
    * history so a status absent in the slice still charts. */
  def q94GapFill(s: SparkSession, dir: String): DataFrame = {
    val from = lit("1996-02-01"); val to = lit("1996-03-15")
    val orders = Tables.orders(s, dir)
    val daily = orders
      .where(col("o_orderdate") >= from.cast("timestamp") &&
        col("o_orderdate") < lit("1996-03-16").cast("timestamp"))
      .groupBy(col("o_orderstatus"),
        to_date(col("o_orderdate")).as("day"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(14,2)")).as("rev"))
    graft.etl.DateDim.gapFillDaily(
        daily, orders.select(col("o_orderstatus")),
        "o_orderstatus", "day", from, to,
        fillCols = Seq("n_orders", "rev"))
      .select(col("o_orderstatus"), col("day"), col("n_orders"),
        emit(col("rev")).as("revenue"))
      .orderBy(col("o_orderstatus"), col("day"))
  }

  val q94Oracle: String =
    """WITH days AS (SELECT CAST(t.d AS DATE) AS day
      |    FROM generate_series(DATE '1996-02-01', DATE '1996-03-15',
      |      INTERVAL 1 DAY) t(d)),
      |st AS (SELECT DISTINCT o_orderstatus FROM orders),
      |agg AS (SELECT o_orderstatus, CAST(o_orderdate AS DATE) AS day,
      |    count(*) AS n_orders,
      |    sum(CAST(o_totalprice AS DECIMAL(14,2))) AS rev
      |  FROM orders
      |  WHERE o_orderdate >= TIMESTAMP '1996-02-01 00:00:00'
      |    AND o_orderdate < TIMESTAMP '1996-03-16 00:00:00'
      |  GROUP BY 1, 2)
      |SELECT s.o_orderstatus, d.day,
      |  coalesce(a.n_orders, 0) AS n_orders,
      |  CAST(round(coalesce(a.rev, 0), 4) AS DOUBLE) AS revenue
      |FROM st s CROSS JOIN days d
      |LEFT JOIN agg a ON a.o_orderstatus = s.o_orderstatus AND a.day = d.day
      |ORDER BY s.o_orderstatus, d.day""".stripMargin

  // ------------------------------------------------------------------ q93
  /** Data-quality expectations ([[graft.etl.Expectations]]): the
    * pre-publish load gate — five declarative row predicates over the
    * fact, checked in ONE scan + ONE aggregation (the per-constraint
    * loop would re-scan the table five times). NULL predicate = a
    * violation, so constraints need no isNotNull scaffolding. */
  def q93Expectations(s: SparkSession, dir: String): DataFrame =
    graft.etl.Expectations.check(Tables.lineitem(s, dir), Seq(
      "positive_quantity"   -> (col("l_quantity") > 0),
      "discount_in_unit"    -> col("l_discount").between(0, 1),
      "price_not_null"      -> col("l_extendedprice").isNotNull,
      "tax_below_half"      -> (col("l_tax") < 0.5),
      "flag_domain"         -> col("l_returnflag").isin("A", "N", "R")))
      .orderBy(col("constraint_name"))

  val q93Oracle: String = {
    val preds = Seq(
      "positive_quantity" -> "l_quantity > 0",
      "discount_in_unit"  -> "l_discount BETWEEN 0 AND 1",
      "price_not_null"    -> "l_extendedprice IS NOT NULL",
      "tax_below_half"    -> "l_tax < 0.5",
      "flag_domain"       -> "l_returnflag IN ('A', 'N', 'R')")
    preds.map { case (n, p) =>
      s"""SELECT '$n' AS constraint_name,
         |  CAST(sum(CASE WHEN coalesce($p, FALSE) THEN 0 ELSE 1 END) AS BIGINT)
         |    AS n_violations,
         |  count(*) AS n_rows,
         |  (sum(CASE WHEN coalesce($p, FALSE) THEN 0 ELSE 1 END) = 0) AS pass
         |FROM lineitem""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY constraint_name")
  }

  // ------------------------------------------------------------------ q92
  /** CDC apply ([[graft.etl.Cdc]]): the events stream replayed as a
    * Debezium-shaped op log — 'error' events play delete tombstones,
    * everything else upserts — split at a watermark and applied in two
    * stages (history → state, then the delta). The oracle is a
    * single-pass latest-op-wins over the FULL log, so the hash match
    * certifies the composition invariant cross-engine. One max_by
    * aggregation per stage (map-side combinable); no window. */
  def q92CdcApply(s: SparkSession, dir: String): DataFrame = {
    import graft.etl.Cdc
    val ev = Tables.events(s, dir)
      .withColumn("op",
        when(col("event_type") === "error", "D").otherwise("U"))
      .select(col("user_id"), col("value"), col("ts"), col("event_id"),
        col("op"))
    val wm = lit("2024-01-20").cast("timestamp")
    val snap = Cdc.applyLog(ev.where(lit(false)),
      ev.where(col("ts") < wm), "user_id", "ts", "event_id", "op")
    val state = Cdc.applyLog(snap,
      ev.where(col("ts") >= wm), "user_id", "ts", "event_id", "op")
    Cdc.current(state, "op")
      .select(col("user_id"), col("value").as("last_value"),
        unix_micros(col("ts")).as("last_us"),
        col("event_id").as("last_event_id"))
      .orderBy(col("user_id"))
  }

  val q92Oracle: String =
    """WITH e AS (SELECT user_id, value, epoch_ns(ts) // 1000 AS us, event_id,
      |    CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op
      |  FROM events),
      |r AS (SELECT *, row_number() OVER (PARTITION BY user_id
      |    ORDER BY us DESC, event_id DESC) AS rn FROM e)
      |SELECT user_id, value AS last_value, CAST(us AS BIGINT) AS last_us,
      |  event_id AS last_event_id
      |FROM r WHERE rn = 1 AND op = 'U' ORDER BY user_id""".stripMargin

  // ------------------------------------------------------------------ q86
  /** Z-order layout statistics ([[graft.etl.ZOrder]]): lineitem keyed
    * on (part, supplier) buckets, Morton-interleaved and split into 64
    * equal-width curve segments — the per-file bounding boxes a
    * min/max-skipping scan consults. `prunable_x32_47` marks files a
    * predicate `x IN [32,47]` skips outright: under a 1-D sort only
    * x-runs prune; under z-order most files prune on EITHER dimension.
    * Pure integer arithmetic end-to-end — hash-exact vs the oracle. */
  def q86ZorderLayout(s: SparkSession, dir: String): DataFrame = {
    val keyed = Tables.lineitem(s, dir).select(
      (col("l_partkey") % 256).as("x"), (col("l_suppkey") % 256).as("y"))
    graft.etl.ZOrder.fileStats(keyed, "x", "y", bits = 8, fileBits = 6)
      .withColumn("prunable_x32_47",
        col("x_max") < 32 || col("x_min") > 47)
      .orderBy(col("file_id"))
  }

  /** The oracle re-derives the Morton value with the same 2·bits
    * mask-and-shift terms, generated here so both engines share one
    * definition. */
  val q86Oracle: String = {
    val terms = (0 until 8).flatMap { i =>
      Seq(s"((x & ${1L << i}) << $i)", s"((y & ${1L << i}) << ${i + 1})")
    }.mkString(" | ")
    s"""WITH k AS (SELECT l_partkey % 256 AS x, l_suppkey % 256 AS y FROM lineitem),
       |z AS (SELECT x, y, ($terms) AS zval FROM k)
       |SELECT (zval >> 10) AS file_id, count(*) AS n_rows,
       |  min(x) AS x_min, max(x) AS x_max, min(y) AS y_min, max(y) AS y_max,
       |  (max(x) < 32 OR min(x) > 47) AS prunable_x32_47
       |FROM z GROUP BY 1 ORDER BY file_id""".stripMargin
  }

  // ------------------------------------------------------------------ q56
  /** Small-file compaction plan over the q86 z-order layout
    * ([[graft.etl.Compaction.planSortedFill]]): files in (size desc,
    * id) order binned by integer prefix-sum against a target of
    * total/16 — the table-maintenance step that keeps a long-lived
    * layout scannable. The prefix sum runs bucket-parallel (two-phase
    * range partition + broadcast offsets, never one global-window
    * task); all arithmetic is integer-exact, so the single-window SQL
    * oracle hash-matches. The one driver action (the 1-row total used
    * to derive the target) is bounded by construction. */
  def q56CompactionPlan(s: SparkSession, dir: String): DataFrame = {
    val keyed = Tables.lineitem(s, dir).select(
      (col("l_partkey") % 256).as("x"), (col("l_suppkey") % 256).as("y"))
    // One materialization of the z-stats subplan shared by BOTH
    // consumers: the 1-row total driving the target AND the binning
    // plan. The `.head` below materializes the lazy checkpoint, so
    // planSortedFill re-reads blocks instead of re-executing the
    // aggregation — a deterministic replan must not scan twice.
    val stats = graft.util.Blocks.lazyCheckpoint(
      graft.etl.ZOrder.fileStats(keyed, "x", "y", bits = 8, fileBits = 6)
        .select(col("file_id"), col("n_rows")))
    val total = stats.agg(sum(col("n_rows"))).head.getLong(0)
    val target = total / 16 + 1
    graft.etl.Compaction.planSortedFill(stats, "file_id", "n_rows", target)
      .select(col("file_id"), col("n_rows"), col("bin"))
      .orderBy(col("bin"), col("file_id"))
  }

  /** Shares q86's Morton-term generator so both engines keep one
    * z-value definition. */
  val q56Oracle: String = {
    val terms = (0 until 8).flatMap { i =>
      Seq(s"((x & ${1L << i}) << $i)", s"((y & ${1L << i}) << ${i + 1})")
    }.mkString(" | ")
    s"""WITH k AS (SELECT l_partkey % 256 AS x, l_suppkey % 256 AS y FROM lineitem),
       |z AS (SELECT x, y, ($terms) AS zval FROM k),
       |f AS (SELECT (zval >> 10) AS file_id, count(*) AS n_rows FROM z GROUP BY 1),
       |t AS (SELECT (sum(n_rows) // 16) + 1 AS target FROM f),
       |c AS (SELECT file_id, n_rows,
       |    sum(n_rows) OVER (ORDER BY n_rows DESC, file_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM f)
       |SELECT c.file_id, c.n_rows, CAST((c.cum - c.n_rows) // t.target AS BIGINT) AS bin
       |FROM c, t ORDER BY bin, file_id""".stripMargin
  }

  // ------------------------------------------------------------------ q37
  /** Privacy-preserving key tokenization ([[graft.etl.Pseudonymize]]):
    * customer and order keys are independently replaced by salted
    * SHA-256 tokens, then the revenue rollup joins ON THE TOKENS —
    * proving referential integrity survives pseudonymization (same
    * cardinality, same aggregates, nothing short of the salt inverts a
    * token). Narrow codegen'd projection, no UDF; the join shuffles on
    * the token exactly as it would on the key. */
  def q37Pseudonymize(s: SparkSession, dir: String): DataFrame = {
    val salt = "graft"
    val cust = Tables.customer(s, dir)
      .select(graft.etl.Pseudonymize.token(col("c_custkey"), salt).as("cust_token"))
    val ord = Tables.orders(s, dir)
      .select(graft.etl.Pseudonymize.token(col("o_custkey"), salt).as("cust_token"),
        col("o_totalprice"))
    ord.join(cust, "cust_token")
      .groupBy(col("cust_token"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(12,2)"))
          .cast("double").as("revenue"))
      .orderBy(col("cust_token"))
  }

  val q37Oracle: String =
    """WITH tc AS (SELECT sha256('graft:' || CAST(c_custkey AS VARCHAR)) AS cust_token FROM customer),
      |o AS (SELECT sha256('graft:' || CAST(o_custkey AS VARCHAR)) AS cust_token,
      |    CAST(o_totalprice AS DECIMAL(12,2)) AS p
      |  FROM orders)
      |SELECT o.cust_token, CAST(count(*) AS BIGINT) AS n_orders,
      |  CAST(sum(o.p) AS DOUBLE) AS revenue
      |FROM o JOIN tc USING (cust_token)
      |GROUP BY o.cust_token ORDER BY cust_token""".stripMargin
}
