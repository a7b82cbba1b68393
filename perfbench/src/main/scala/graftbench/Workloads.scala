package graftbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.curate.{Classifier, Curation => Cur}
import graft.dedup.Dedup
import graft.etl.{Cleaning, DateDim, Scd, StarSchema, SurrogateKeys}
import graft.graph.PageRank
import graft.queries.{WarehouseQueries => W}
import graft.sim.Ann
import graft.sources.{PartitionedSink, Tables, TypedIngest}
import graft.streaming.{IncrementalPipeline, StreamingCdc, StreamingRollup, VersionPrune}
import graft.text.{GopherRules, Pii, TextAnalysis}
import Main.{BatchesPerIteration, IterResult, Workload, consume}

/** Times `body` in ms. */
object Clock {
  def ms[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6)
  }
}

/** The star-schema warehouse, as one closed-loop client drives it. Each
  * iteration is the nightly full load (typed ingest, cleaning, SCD2 dims,
  * static dims, the point-in-time fact with its money measures, the
  * month-partitioned sink), the registered dashboards, then the next
  * daily deltas: each goes through the SCD merge, the CDC fold and the
  * rollup fold into versioned stores with retention, and a read of the
  * new snapshot follows. Every layer ends in a write. The
  * set-up is the refresh stores' initial load from the event history. */
final class Warehouse(spark: SparkSession, in: String, work: String, t: Tracer)
    extends Workload {
  val out = s"$work/build"
  val Dashboards: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "q10_dashboard_revenue" -> W.q10DashboardRevenue,
    "q11_dashboard_topn" -> W.q11DashboardTopN,
    "q19_rollup_dashboard" -> W.q19RollupDashboard,
    "q60_pivot_dashboard" -> W.q60PivotDashboard)

  // the typed schema the ingest enforces on the raw sales rows
  val salesSchema = StructType(Seq(
    StructField("l_orderkey", LongType), StructField("l_partkey", LongType),
    StructField("l_linenumber", IntegerType), StructField("l_quantity", DoubleType),
    StructField("l_extendedprice", DoubleType), StructField("l_discount", DoubleType),
    StructField("l_tax", DoubleType)))

  // ---------------------------------------------------------- refresh
  var store = ""
  var applied = 0
  val deltas = new java.io.File(s"$in/deltas").list().length
  val Keep = 2
  val rollupKeys = Seq("event_type", "d")
  val rollupMeasures: Seq[(String, Column)] =
    Seq("total_value" -> col("value").cast("decimal(14,2)"))

  private def records(dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("d", to_date(col("ts")))
      .withColumn("op", when(col("event_type") === "error", "D").otherwise("U"))

  private def applyBatch(batch: DataFrame, id: Long, i: Int): Unit = {
    t.span("streaming.scd_batch", i) {
      IncrementalPipeline.runBatch(batch, id, "user_id", Seq("event_type"), "d", s"$store/scd")
      VersionPrune.keepLatest(spark, s"$store/scd", Keep)
    }
    t.span("streaming.cdc_batch", i) {
      StreamingCdc.runBatch(
        batch.select(col("user_id"), col("value"), col("ts"), col("event_id"), col("op")),
        id, "user_id", "ts", "event_id", "op", s"$store/cdc")
      VersionPrune.keepLatest(spark, s"$store/cdc", Keep)
    }
    t.span("streaming.rollup_batch", i) {
      StreamingRollup.runBatch(batch.select(col("event_type"), col("d"), col("value")),
        id, rollupKeys, rollupMeasures, s"$store/rollup")
      StreamingRollup.prune(spark, s"$store/rollup", Keep)
    }
  }

  def setup(n: Int): Unit = {
    store = s"$work/store$n"
    applied = 0
    applyBatch(records(in), 0L, -1)
  }

  private def latest(name: String): DataFrame =
    IncrementalPipeline.readLatestDim(spark, s"$store/$name", spark.emptyDataFrame)

  val snapshotReads: Seq[() => DataFrame] = Seq(
    () => latest("rollup").groupBy(col("event_type"))
      .agg(sum(col("n_rows")).as("n"), sum(col("total_value")).as("v")),
    () => latest("scd").where(col("is_current")).groupBy(col("event_type")).count(),
    () => graft.etl.Cdc.current(latest("cdc"), "op")
      .orderBy(col("value").desc, col("user_id")).limit(10))

  /** The next daily delta, then a read of the new snapshot; returns the
    * refresh latency (batch handed over to snapshot written) and the
    * read latency. */
  private def refresh(i: Int): (Double, Double) = {
    val next = applied + 1
    val dir = f"$in/deltas/d$next%04d"
    require(new java.io.File(dir).isDirectory, s"no delta $next left")
    val (_, refreshMs) = Clock.ms(applyBatch(records(dir), next.toLong, i))
    applied = next
    val read = snapshotReads(next % snapshotReads.size)
    (refreshMs, Clock.ms(t.span("queries.dashboard", i)(consume(read())))._2)
  }

  // ------------------------------------------------------------ build

  private def write(df: DataFrame, name: String): DataFrame = {
    df.write.mode("overwrite").parquet(s"$out/$name")
    spark.read.parquet(s"$out/$name")
  }

  def iteration(i: Int, batches: Int): IterResult = {
    val (_, buildMs) = Clock.ms {
      val (sales, orders, events) = t.span("sources.ingest", i) {
        (write(TypedIngest.enforce(Tables.lineitem(spark, in), salesSchema), "stage/lineitem"),
          write(Tables.orders(spark, in), "stage/orders"),
          write(Tables.events(spark, in), "stage/events"))
      }
      val clean = t.span("etl.clean", i) {
        write(Cleaning.removeOneDayChanges(
          events.select(col("event_id"), col("user_id"), to_date(col("ts")).as("d"),
            col("event_type")),
          "event_type", "user_id", "d"), "clean_events")
      }
      val (userScd, custScd) = t.span("etl.scd_build", i) {
        (write(Scd.scd2FromRecords(clean, "user_id", Seq("event_type"), "d"), "scd_user"),
          write(Scd.scd2FromRecords(
            orders.select(col("o_custkey"), col("o_orderpriority"),
              to_date(col("o_orderdate")).as("order_date")),
            "o_custkey", Seq("o_orderpriority"), "order_date"), "scd_customer"))
      }
      val (dateDim, productDim) = t.span("etl.dims", i) {
        val part = Tables.part(spark, in)
        write(StarSchema.distinctDim(part, Seq("p_brand", "p_type")), "dim_brand")
        write(StarSchema.crossDim(part, "p_brand", "p_size"), "dim_packaging")
        (write(DateDim.withUnknownMember(SurrogateKeys.assign(
            DateDim.fromObservedRange(orders, "o_orderdate"), "date_key", Seq("full_date"))),
            "dim_date"),
          write(SurrogateKeys.assign(
            part.select(col("p_partkey"), col("p_brand"), col("p_size"), col("p_retailprice")),
            "product_key", Seq("p_partkey")), "dim_product"))
      }
      val fact = t.span("etl.fact", i) {
        write(Scd.pointInTimeJoin(
            clean.select(col("event_id"), col("user_id"), col("d").as("event_date")),
            userScd, "user_id", "event_date")
          .select(col("event_id"), col("user_id"), col("event_date"),
            col("dim_event_type").as("period_type"), col("dim_start_date").as("period_start")),
          "event_fact")
        graft.util.Blocks.checkpoint(salesFact(sales, orders, custScd, dateDim, productDim))
      }
      t.span("sources.sink", i) {
        PartitionedSink.writeByMonth(fact.df, "order_date", s"$out/fact")
      }
      fact.release()
    }
    val readMs = Dashboards.map { case (_, q) =>
      Clock.ms(t.span("queries.dashboard", i)(consume(q(spark, in))))._2
    }
    val refreshes = Seq.fill(batches)(refresh(i))
    IterResult(Seq(buildMs), refreshes.map(_._1), readMs, refreshes.map(_._2),
      6 + Dashboards.size + 4 * refreshes.size)
  }

  def canIterate: Boolean = applied + BatchesPerIteration <= deltas

  /** Sales fact: valid rows only, the customer's priority period at order
    * time, the product dim with its unknown member, the nation name
    * backfilled from the lookup, the date key and the money measures. */
  def salesFact(sales: DataFrame, orders: DataFrame, custScd: DataFrame,
      dateDim: DataFrame, productDim: DataFrame): DataFrame = {
    val valid = sales.where(col("l_extendedprice") > 0 && col("l_quantity") > 0)
    val withOrder = valid.join(orders.select(col("o_orderkey"), col("o_custkey"),
        to_date(col("o_orderdate")).as("order_date")),
      col("l_orderkey") === col("o_orderkey"))
    val withPriority = Scd.pointInTimeJoin(withOrder, custScd, "o_custkey",
      "order_date", "cust_")
    val withProduct = StarSchema.joinWithUnknownMember(
      withPriority.withColumnRenamed("l_partkey", "p_partkey"), productDim, "p_partkey",
      Map("product_key" -> -1L, "p_brand" -> "unknown", "p_size" -> 0,
        "p_retailprice" -> 0.0))
    val customer = Tables.customer(spark, in)
      .select(col("c_custkey"), col("c_nationkey"))
    val withNation = StarSchema.backfillFromLookup(
      withProduct.join(broadcast(customer), col("o_custkey") === col("c_custkey"), "left")
        .withColumn("nation_name", lit(null).cast("string")),
      "c_nationkey", "nation_name", Tables.nation(spark, in), "n_nationkey", "n_name")
    val dates = dateDim.select(col("full_date"), col("date_key"))
    val qty = StarSchema.money(col("l_quantity"))
    val cost = StarSchema.money(col("p_retailprice"))
    val retail = StarSchema.money(col("l_extendedprice"))
    val revenue = qty * retail
    val grossProfit = revenue - qty * cost
    val inv = concat_ws("-", lit("INV"), col("l_orderkey"), col("l_linenumber"))
    def emit(c: Column) = round(c, 4).cast("double")
    withNation.join(broadcast(dates), col("order_date") === col("full_date"), "left")
      .select(
        col("l_orderkey"), col("l_linenumber"), col("p_partkey").as("l_partkey"),
        col("order_date"), coalesce(col("date_key"), lit(-1L)).as("date_key"),
        col("product_key"), col("p_brand"), col("cust_o_orderpriority").as("cust_priority"),
        col("c_nationkey"), col("nation_name"),
        emit(StarSchema.revenue(col("l_extendedprice"), col("l_discount"))).as("net_revenue"),
        emit(qty * col("p_size")).as("volume_sold_liters"),
        emit(qty * cost).as("total_cost_usd"),
        emit(revenue).as("revenue_usd"),
        emit(grossProfit).as("gross_profit_usd"),
        round(grossProfit.cast("double") / revenue.cast("double") * 100, 6)
          .as("gross_profit_margin"),
        substring(inv, 1, 4).as("invoice_prefix"),
        inv.substr(lit(1), length(inv) - 2).as("invoice_number"))
  }

  def writeChecks(): Unit = {
    Dashboards.foreach { case (name, q) =>
      q(spark, in).write.mode("overwrite").parquet(s"$out/check/$name")
    }
    Seq("scd", "cdc", "rollup").foreach { s =>
      latest(s).write.mode("overwrite").parquet(s"$work/check/$s")
    }
  }

  override def info: Map[String, Any] = Map("deltas_applied" -> applied, "oracles" ->
    (Seq("q04_scd2_build", "q05_scd_point_in_time_join", "q06_remove_one_day_changes",
      "q15_full_measures") ++ Dashboards.map(_._1))
      .map(q => q -> graft.SparkEntry.oracleSql(q)).toMap)
}

/** Document curation as one closed-loop client drives it. Each iteration
  * is the full q130-shaped pass (quality rules and PII scrub, near and
  * exact dedup with canonical keep, PageRank over the near-dup graph,
  * the LR quality classifier with a quantile cutoff, semantic dedup of
  * the embeddings, the final token-budget sample), consumer reads of the
  * curated output, then the next daily crawl batches: each is deduped
  * against the corpus's fingerprint snapshot (the bloom-prefiltered
  * daily-ingest tier), its new fingerprints are appended to the
  * snapshot, and a read of the kept batch follows. The set-up is the
  * snapshot's initial load from the corpus. */
final class Curation(spark: SparkSession, in: String, work: String, t: Tracer)
    extends Workload {
  val out = s"$work/curation"
  var snapshot = ""
  var snapshotRows = 0L
  var applied = 0
  val crawlBatches = new java.io.File(s"$in/increments").list().length

  def setup(n: Int): Unit = {
    snapshot = s"$work/fp_snapshot$n"
    applied = 0
    Tables.documents(spark, in)
      .select(TextAnalysis.fingerprint(col("text")).as("fp")).distinct()
      .write.parquet(s"$snapshot/batch=0")
    snapshotRows = spark.read.parquet(snapshot).count()
  }

  /** The next daily crawl batch through the snapshot dedup, then a read
    * of the kept batch; returns both latencies. */
  private def increment(i: Int): (Double, Double) = {
    val next = applied + 1
    val dir = f"$in/increments/d$next%04d"
    require(new java.io.File(dir).isDirectory, s"no increment $next left")
    val kept = s"$out/increments/d$next"
    val (_, ms) = Clock.ms(t.span("dedup.incremental", i) {
      Dedup.bloomDedupAgainstSnapshot(Tables.documents(spark, dir), "doc_id", "text",
          spark.read.parquet(snapshot).select(col("fp")), expectedItems = snapshotRows)
        .write.mode("overwrite").parquet(kept)
      val fresh = spark.read.parquet(kept).select(col("fp"))
      fresh.write.parquet(s"$snapshot/batch=$next")
      snapshotRows += spark.read.parquet(s"$snapshot/batch=$next").count()
    })
    applied = next
    val read = Clock.ms(consume(spark.read.parquet(kept)))._2
    (ms, read)
  }

  private def write(df: DataFrame, name: String): DataFrame = {
    df.write.mode("overwrite").parquet(s"$out/$name")
    spark.read.parquet(s"$out/$name")
  }

  def iteration(i: Int, batches: Int): IterResult = {
    val (_, curateMs) = Clock.ms {
      val filtered = t.span("text.filter", i) {
        write(GopherRules.annotate(Tables.documents(spark, in), "text",
            GopherRules.Thresholds(minWords = 5, minStopWords = 1))
          .where(col("gopher_ok"))
          .select(col("doc_id"), col("source"), col("lang"), Pii.scrub(col("text")).as("text")),
          "filtered")
      }
      val (deduped, labels) = t.span("dedup.near", i) {
        val labels = write(Dedup.nearDupCollapseFromShingles(
          filtered.select(col("doc_id").as("id"), Dedup.wordShingles(col("text"), 3).as("sh")),
          numPerm = 32, bands = 8, threshold = 0.5), "near_labels")
        val canonical = Dedup.keepCanonical(
            labels.withColumnRenamed("id", "doc_id"),
            filtered.select(col("doc_id"),
              length(TextAnalysis.canonical(col("text"))).cast("long").as("clen")),
            "doc_id", "clen")
          .select(col("keep_id").as("doc_id"))
        (write(filtered.join(labels.select(col("id").as("doc_id")), Seq("doc_id"), "left_anti")
          .unionByName(filtered.join(canonical, "doc_id")), "deduped"), labels)
      }
      t.span("graph.pagerank", i) {
        // the near-dup graph as the collapse's spanning edges: each
        // clustered doc linked to its cluster's smallest id
        val edges = labels.where(col("id") =!= col("comp"))
          .select(col("comp").as("id_a"), col("id").as("id_b"))
        write(PageRank.pageRank(filtered.select(col("doc_id")), "doc_id", edges,
          iters = 2, dampPpm = 850000L, edgesWithinNodes = true), "pagerank")
      }
      val kept = t.span("curate.classify", i) {
        val scored = Classifier.logisticTrainScore(deduped, "doc_id", "text",
          col("lang") === "en", buckets = 256, rounds = 2, lrPpm = 1000000L)
        val cutoff = Cur.sampleQuantileProfile(scored.withColumn("_g", lit("all")),
            "doc_id", "_g", "p_ppm", k = 256, loP = 0.5, midP = 0.5, hiP = 0.5,
            salt = "perfbench")
          .select(col("p_mid"))
        val keepIds = scored.crossJoin(broadcast(cutoff))
          .where(col("p_ppm") >= col("p_mid")).select(col("doc_id"), col("p_ppm"))
        write(deduped.join(keepIds, "doc_id"), "classified")
      }
      t.span("sim.semantic_dedup", i) {
        val pairs = Ann.nearDupPairs(Tables.embeddings(spark, in), "vec_id", "embedding",
          "label", threshold = 0.95)
        write(Ann.clustersFromEdges(
          pairs.select(col("id_a").as("query_id"), col("id_b").as("neighbor_id"),
            col("cos_sim"), lit(1).as("rank")), simThreshold = 0.95), "vec_clusters")
      }
      t.span("curate.sample", i) {
        write(Cur.tokenBudget(
          kept.withColumn("n_tokens", TextAnalysis.tokenCount(col("text")).cast("long")),
          "doc_id", "source", "n_tokens", budget = 2000L), "sample")
      }
    }
    val sample = spark.read.parquet(s"$out/sample")
    val reads: Seq[() => DataFrame] = Seq(
      () => sample.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens")),
      () => Cur.shardManifest(sample, "doc_id", "text", "n_tokens", shards = 8, epoch = 1),
      () => sample.join(spark.read.parquet(s"$out/pagerank"), "doc_id")
        .orderBy(col("pr_micro").desc, col("doc_id")).limit(20),
      () => spark.read.parquet(s"$out/vec_clusters").where(col("is_kept"))
        .groupBy(col("n_members")).count())
    val readMs = reads.map(r => Clock.ms(consume(r()))._2)
    val increments = Seq.fill(batches)(increment(i))
    IterResult(Seq(curateMs), increments.map(_._1), readMs, increments.map(_._2),
      6 + reads.size + 2 * increments.size)
  }

  def canIterate: Boolean = applied + BatchesPerIteration <= crawlBatches

  def writeChecks(): Unit = ()

  override def info: Map[String, Any] = Map("increments_applied" -> applied)
}
