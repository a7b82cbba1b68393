package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

/** Plan-shape regression gate: the star queries must broadcast every
  * dimension (one shuffle join at most — the fact⋈orders leg) and the
  * scans must carry pushed filters / pruned schemas. A failure here
  * means someone dropped a broadcast hint or blocked pushdown — the
  * kind of regression row-count tests never catch. Runs against the
  * sf0.001 parquet testdata. */
class PlanRegressionSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val sfDir = "/root/testdata/sf0.001"

  /** Final (post-AQE) physical plan string. */
  private def finalPlan(df: DataFrame): String = {
    df.count() // materialize so AQE settles on the final plan
    df.queryExecution.executedPlan.toString
  }

  private def countOf(plan: String, op: String): Int =
    op.r.findAllIn(plan).length

  for ((name, dims) <- Seq(
      ("q07_star_flatten", 3),     // customer, nation, region
      ("q10_dashboard_revenue", 2), // customer, nation
      ("q11_dashboard_topn", 2))) {
    test(s"$name broadcasts all $dims dims; at most one shuffle join") {
      val plan = finalPlan(SparkEntry.queries(name)(spark, sfDir))
      val bhj = countOf(plan, "BroadcastHashJoin")
      assert(bhj >= dims, s"expected >= $dims BroadcastHashJoin, got $bhj:\n$plan")
      val shuffleJoins =
        countOf(plan, "SortMergeJoin") + countOf(plan, "ShuffledHashJoin")
      assert(shuffleJoins <= 1,
        s"star query must shuffle at most the fact⋈orders leg, got $shuffleJoins:\n$plan")
    }
  }

  test("the perfbench dashboards build their DataFrames without a Spark job") {
    // every table load takes its schema from a driver-side footer read;
    // Spark's schema inference would run one job per table loaded
    val jobs = Seq("q10_dashboard_revenue", "q11_dashboard_topn",
        "q19_rollup_dashboard", "q60_pivot_dashboard")
      .map(q => q -> JobCount.of(spark)(SparkEntry.queries(q)(spark, sfDir)))
    assert(jobs.forall(_._2 == 0), s"jobs before any action: $jobs")
  }

  test("q01 filter reaches the parquet scan (PushedFilters non-empty)") {
    val plan = finalPlan(SparkEntry.queries("q01_clean_filter")(spark, sfDir))
    assert(plan.contains("PushedFilters: ["), plan)
    assert("PushedFilters: \\[[^\\]]".r.findFirstIn(plan).isDefined,
      s"no filter was pushed to the scan:\n$plan")
    assert(plan.contains("GreaterThan(l_quantity"), plan)
  }

  test("q28's running-sum window is bucket-parallel, not one task per stratum") {
    val plan = finalPlan(SparkEntry.queries("q28_token_budget")(spark, sfDir))
    // the big cumulative window must partition by (stratum, hash bucket);
    // a window spec without _bkt means the stratum funnels through one task
    val winSpecs = "windowspecdefinition\\(([^)]*)\\)".r
      .findAllMatchIn(plan).map(_.group(1)).toSeq
    assert(winSpecs.nonEmpty, plan)
    val cumulative = winSpecs.filter(_.contains("_hk"))
    assert(cumulative.nonEmpty, s"running-sum window not found:\n$plan")
    assert(cumulative.forall(_.contains("_bkt")),
      s"running-sum window lost its bucket key:\n$plan")
  }

  test("q07 prunes unused lineitem columns from the scan") {
    val plan = finalPlan(SparkEntry.queries("q07_star_flatten")(spark, sfDir))
    // q07 touches neither l_shipdate nor l_tax; a scan reading them
    // means column pruning broke
    assert(!plan.contains("l_shipdate"), s"l_shipdate not pruned:\n$plan")
    assert(!plan.contains("l_tax"), s"l_tax not pruned:\n$plan")
  }

  test("q18 sessionize: windows and rollup share ONE data shuffle") {
    // HashPartitioning(user_id) satisfies the (user_id, session_seq)
    // clustered requirement, so the per-session groupBy must NOT add a
    // second exchange after the window's
    val plan = finalPlan(SparkEntry.queries("q18_sessionize")(spark, sfDir))
    val exchanges = countOf(plan, "Exchange hashpartitioning")
    assert(exchanges === 1,
      s"sessionize should shuffle once (got $exchanges):\n$plan")
  }

  test("q61 profiler: no Expand — single-distinct cascade only") {
    // the wide multi-countDistinct form Expands every row once per
    // profiled column; the melt form must keep exactly one Generate
    // and no Expand
    val plan = finalPlan(SparkEntry.queries("q61_column_profile")(spark, sfDir))
    assert(countOf(plan, "Expand") === 0, s"Expand crept back in:\n$plan")
    assert(countOf(plan, "Generate") === 1, plan)
  }

  test("q60 pivot: explicit value list means a single lineitem scan") {
    val plan = finalPlan(SparkEntry.queries("q60_pivot_dashboard")(spark, sfDir))
    assert(countOf(plan, "Scan parquet") === 1,
      s"pivot should not run a distinct-values discovery scan:\n$plan")
  }

  test("q69 aggregates daily totals BEFORE the moving-average window") {
    // the RANGE frame must run over one row per (priority, day) — a
    // Window directly over the raw orders scan shuffles and sorts the
    // whole fact table instead of |priorities|×|days| rows. In the
    // top-down plan print, every HashAggregate must sit BELOW the
    // Window (the window consumes the aggregate's output).
    val plan = finalPlan(SparkEntry.queries("q69_moving_avg")(spark, sfDir))
    val winIdx = plan.indexOf("Window")
    assert(winIdx >= 0, plan)
    val aggIdxs = "HashAggregate".r.findAllMatchIn(plan).map(_.start).toSeq
    assert(aggIdxs.nonEmpty, plan)
    assert(aggIdxs.forall(_ > winIdx),
      s"window runs over pre-aggregation rows (agg above window):\n$plan")
  }

  test("q65 joins on the salted key, not the bare join key") {
    // the whole point of saltedEquiJoin: the join must key on
    // (key, _salt) so a hot key spreads over `salts` reducers when the
    // join shuffles (on this tiny dim AQE realizes it as a broadcast —
    // the salt must still be in the join keys, ready for the shuffle
    // case)
    val plan = finalPlan(SparkEntry.queries("q65_skew_join")(spark, sfDir))
    val saltedJoin = "Join \\[[^\\]]*_salt".r.findFirstIn(plan)
    assert(saltedJoin.isDefined,
      s"join not keyed on the salt — salting regressed to a plain join:\n$plan")
  }

  test("q77 surrogate assignment has no global row_number window") {
    // the range-exchange shape of the numbering segment is asserted at
    // unit level (SurrogateKeysSpec) — the checkpoint inside assign()
    // truncates it from this query-level plan
    val plan = finalPlan(SparkEntry.queries("q77_surrogate_star")(spark, sfDir))
    assert(!plan.contains("Window [row_number()"),
      s"global single-partition row_number window crept in:\n$plan")
  }

  test("q67 filtered search pushes the lang predicate to the documents scan") {
    val plan = finalPlan(SparkEntry.queries("q67_filtered_ann")(spark, sfDir))
    assert(plan.contains("EqualTo(lang,en)"),
      s"lang filter not pushed to the parquet scan:\n$plan")
  }

  for (name <- Seq("q84_fixed_k_sample", "q88_weighted_sample",
      "q11_dashboard_topn")) {
    test(s"$name top-k windows are two-phase: bucket rank precedes global rank") {
      // every stratum-only window must consume the <=256*k survivors of a
      // (stratum, _bkt) window — a stratum-only window over the raw input
      // is the one-task funnel the two-phase shape exists to prevent
      val plan = finalPlan(SparkEntry.queries(name)(spark, sfDir))
      val winSpecs = "windowspecdefinition\\(([^)]*)\\)".r
        .findAllMatchIn(plan).map(_.group(1)).toSeq
      assert(winSpecs.exists(_.contains("_bkt")),
        s"bucket-phase window missing:\n$plan")
      val bktPos = plan.indexOf("_bkt")
      val globalSpec = winSpecs.filterNot(_.contains("_bkt"))
      assert(globalSpec.nonEmpty, s"global rank window missing:\n$plan")
      // physical plans list downstream operators ABOVE upstream ones, so
      // the global window must appear before (above) the bucket window
      val globalPos = plan.indexOf("windowspecdefinition(" + globalSpec.head)
      assert(globalPos >= 0 && globalPos < bktPos,
        s"global window does not consume the bucket phase:\n$plan")
    }
  }

  test("q89 merge shuffles rollup-sized partials, not the delta fact rows") {
    // both aggregation legs must partial-aggregate before their exchange:
    // every Exchange in the plan sits above a partial HashAggregate, so
    // only per-key partials ever shuffle
    val plan = finalPlan(SparkEntry.queries("q89_incremental_rollup")(spark, sfDir))
    assert(countOf(plan, "HashAggregate") >= 4,
      s"expected partial+final aggregates on both legs:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("BroadcastHashJoin"),
      s"merge must be union+agg, not a join:\n$plan")
  }

  test("registry-wide: no rank window partitions by a dim-cardinality key alone") {
    // the one-task-funnel audit, mechanized over EVERY registered query:
    // a row_number/rank window whose partition key has dim cardinality
    // (nation, lang, stratum, ...) serializes that group through one
    // task at 100 TB. Every rank window must either partition by a
    // high-cardinality key (per-doc/per-query/per-user ids) or carry a
    // hash-bucket column (the two-phase top-k shape); a stratum-only
    // window passes only when the same plan also contains its bucket
    // phase (same partition + a bucket key), i.e. it consumes bounded
    // survivors. Checkpoints inside operators truncate their internal
    // windows from these plans — those shapes are asserted at unit
    // level (SurrogateKeysSpec, DedupSpec).
    val highCard = Set("fp", "doc_id", "query_id", "id", "user_id",
      "neighbor_id", "id_a", "id_b", "key", "blk", "tbl", "bkt", "cluster_id",
      "natural_key", "event_id", "token", "tok", "c_custkey", "o_custkey",
      "o_orderkey", "l_orderkey", "s_suppkey", "p_partkey", "full_date")
    val isBucket = (c: String) => c.endsWith("_bkt") || c.endsWith("_qbkt")
    val spec = ("(?:row_number|rank|dense_rank)\\(\\) " +
      "windowspecdefinition\\(([^)]*)").r
    def partsOf(m: String): Seq[String] = m.split(", ")
      .takeWhile(t => !t.contains(" ASC") && !t.contains(" DESC"))
      .map(_.replaceAll("#\\d+L?", "").trim).filter(_.nonEmpty).toSeq
    var seen = 0
    val offenders = for {
      (name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)
      plan = fn(spark, sfDir).queryExecution.optimizedPlan.toString
      allParts = spec.findAllMatchIn(plan).map(m => partsOf(m.group(1))).toSeq
      parts <- allParts
      _ = { seen += 1 }
      if parts.nonEmpty // global windows audited separately (q77 test)
      if !parts.exists(c => highCard(c) || isBucket(c))
      // stratum-only global phase: OK iff its bucket phase is in-plan
      if !allParts.exists(p => p.exists(isBucket) &&
        parts.forall(p.contains))
    } yield s"$name: rank window partitioned by ${parts.mkString(",")}"
    assert(seen >= 10,
      s"audit looks vacuous: only $seen rank windows matched — regex drift?")
    assert(offenders.isEmpty,
      s"dim-cardinality rank-window funnels:\n${offenders.mkString("\n")}")
  }

  test("q30 brute-force top-k is two-phase: neighbor-bucket rank precedes global") {
    // the full-corpus ANN tiers score |Q|x|C| rows; the per-query rank
    // must consume bucket survivors, not the raw scored frame
    val plan = finalPlan(SparkEntry.queries("q30_ann_bruteforce")(spark, sfDir))
    assert(plan.contains("_qbkt"),
      s"neighbor-hash bucket phase missing from brute-force top-k:\n$plan")
  }

  test("q83 bloom prefilter gates the anti-join: executor-local probe, one join") {
    // round 8: auto-selection dispatches the executor-local range tier
    // (the 2^20-key hint clears LocalTierMinKeys). The defining shape:
    // NO bloom filter appears as a plan constant (probing happens inside
    // zipPartitions, enforced one-filter-per-task at run time), the
    // provably-new branch reaches the union join-free, and only the
    // maybe-dup branch anti-joins — exactly once. A second join means
    // the bloom split regressed to two full anti-joins.
    val plan = finalPlan(SparkEntry.queries("q83_bloom_dedup")(spark, sfDir))
    assert(countOf(plan, "bloom_contains") == 0,
      s"local tier must not ship filters as plan constants:\n$plan")
    assert(plan.contains("might_dup"),
      s"executor-local probe verdict column missing:\n$plan")
    val antiJoins = countOf(plan, "LeftAnti")
    assert(antiJoins == 1,
      s"expected exactly 1 anti-join after the bloom split, got $antiJoins:\n$plan")
  }

  test("q33 edit-distance join blocks on (prefix, band) — no pair-space join") {
    // the defining scale property: candidates come from ONE equi-join
    // keyed on the block, never a nested-loop over the pair space
    val plan = finalPlan(SparkEntry.queries("q33_fuzzy_dedup")(spark, sfDir))
    assert(countOf(plan, "CartesianProduct") == 0 &&
      countOf(plan, "BroadcastNestedLoopJoin") == 0,
      s"edit-distance join degraded to a pair-space join:\n$plan")
    val joins = countOf(plan, "BroadcastHashJoin") +
      countOf(plan, "SortMergeJoin") + countOf(plan, "ShuffledHashJoin")
    assert(joins == 1, s"expected exactly one blocked equi-join, got $joins:\n$plan")
    assert(plan.contains("band"), s"length-band key missing from the join:\n$plan")
  }

  test("q53 anomaly window rides the pre-aggregated daily rollup") {
    // the trailing window's input must be the (priority, day) aggregate
    // (dim-sized), with the fact reduced by a map-side partial first
    val plan = finalPlan(SparkEntry.queries("q53_anomaly_days")(spark, sfDir))
    assert(plan.contains("RangeFrame, -28, -1"),
      s"trailing 28d window frame missing:\n$plan")
    assert(countOf(plan, "HashAggregate") >= 2,
      s"daily rollup must partial-aggregate map-side:\n$plan")
    assert(countOf(plan, "Join") == 0,
      s"anomaly flags must come from the window, not a self-join:\n$plan")
  }

  test("q55 heavy hitters: the exact pass joins broadcast candidates only") {
    // the vocabulary long tail must die at the broadcast semi-filter;
    // a SortMergeJoin or a pre-join aggregate on token means the full
    // vocabulary shuffled after all
    val plan = finalPlan(SparkEntry.queries("q55_heavy_hitters")(spark, sfDir))
    assert(countOf(plan, "BroadcastHashJoin") == 1,
      s"candidate filter must be one broadcast join:\n$plan")
    assert(countOf(plan, "SortMergeJoin") + countOf(plan, "ShuffledHashJoin") == 0,
      s"heavy-hitter exact pass must not shuffle-join:\n$plan")
  }

  test("q56 materializes the z-stats subplan ONCE, shared by total and plan") {
    // q56 takes `total` via .head and then bins the same stats frame;
    // without the shared checkpoint the z-stats aggregation over the
    // lineitem scan executes twice. After q56 returns, the stats
    // checkpoint is already materialized (by the .head), so the
    // RETURNED plan must read the checkpoint RDD — zero parquet scans,
    // zero re-aggregations of the fact.
    val df = SparkEntry.queries("q56_compaction_plan")(spark, sfDir)
    val plan = finalPlan(df)
    assert(plan.contains("Scan ExistingRDD"),
      s"q56 plan should read the materialized stats checkpoint:\n$plan")
    assert(!plan.contains("Scan parquet") && !plan.contains("FileScan"),
      s"q56 returned plan re-scans the fact — stats executed twice:\n$plan")
  }

  test("q58 sketch tier: the 90-day fan-out explodes per-day sketches, not events") {
    // The long-window tier's whole scale claim is that the window
    // fan-out multiplies days × sketch-bytes, not events: the
    // explode(sequence(day, day+89)) must consume the per-day
    // hll_sketch_agg output. In the top-down plan print that means
    // every sketch-building HashAggregate sits BELOW the Generate; a
    // Generate over the raw (user, day) stream would multiply event
    // volume 90× before any aggregation — the regression this guards.
    import org.apache.spark.sql.functions._
    val ev = graft.sources.Tables.events(spark, sfDir)
      .select(col("user_id"),
        expr("(unix_micros(ts) - pmod(unix_micros(ts), 86400000000)) DIV 86400000000")
          .as("day"))
    val plan = finalPlan(
      graft.etl.RollingActives.sketch(ev, "user_id", "day", window = 90))
    val genIdx = plan.indexOf("Generate")
    assert(genIdx >= 0, plan)
    val skAggs = "hll_sketch_agg".r.findAllMatchIn(plan).map(_.start).toSeq
    assert(skAggs.nonEmpty, plan)
    assert(skAggs.forall(_ > genIdx),
      s"sketch aggregation above the fan-out — the explode is event-scale:\n$plan")
  }

  for (name <- Seq("q34_importance_weights", "q35_lm_perplexity")) {
    test(s"$name probes a BROADCAST model from ONE corpus scan") {
      val plan = finalPlan(SparkEntry.queries(name)(spark, sfDir))
      // the model table rides a broadcast join onto the token/bigram
      // stream — a shuffle here would move the whole corpus
      assert(countOf(plan, "BroadcastHashJoin") >= 1, plan)
      // the count table is checkpoint-materialized, so the final plan
      // scans the documents parquet exactly once (the probe pass); a
      // second scan means the model subtree re-executed per consumer
      assert(countOf(plan, "Scan parquet") === 1,
        s"model subtree re-scanned the corpus:\n$plan")
    }
  }

  test("q102 BPE pairs: the rank window sees only the post-aggregate pair table") {
    val plan = finalPlan(SparkEntry.queries("q102_bpe_pairs")(spark, sfDir))
    // partial aggregation must collapse the pair stream BEFORE any
    // exchange: the window (single-partition over <= 36^2 rows) has to
    // sit above the final HashAggregate, and the only corpus-scale
    // operators are the scan + generates below the first aggregate
    val winIdx = plan.indexOf("Window")
    val aggIdx = plan.indexOf("HashAggregate")
    assert(winIdx >= 0 && aggIdx >= 0, plan)
    assert(winIdx < aggIdx,
      s"rank window must ride the aggregated pair table (tree prints top-down):\n$plan")
    // no shuffle join anywhere — the op is scan -> aggregate -> window
    assert(countOf(plan, "SortMergeJoin") + countOf(plan, "ShuffledHashJoin") === 0, plan)
  }

  test("q104 temperature mixture: rates broadcast onto the corpus; mass table aggregated once") {
    val plan = finalPlan(SparkEntry.queries("q104_temperature_mixture")(spark, sfDir))
    // the |strata|-row rate table joins the corpus via broadcast only
    assert(countOf(plan, "BroadcastHashJoin") >= 1, plan)
    assert(countOf(plan, "SortMergeJoin") + countOf(plan, "ShuffledHashJoin") === 0,
      s"rate table must broadcast, never shuffle the corpus:\n$plan")
    // the checkpointed mass table feeds both the total and the rate
    // projection: the final plan scans documents once for the main
    // filter pass and once inside the (materialized-once) aggregate —
    // never three times
    assert(countOf(plan, "Scan parquet") <= 2,
      s"per-stratum mass subplan re-executed per consumer:\n$plan")
  }

  test("q105 ablation: one corpus aggregate into a single row, then a metadata unpivot") {
    val plan = finalPlan(SparkEntry.queries("q105_filter_ablation")(spark, sfDir))
    // all 12 sums ride one aggregate: exactly one shuffle below the
    // stack generate, and no join anywhere
    assert(countOf(plan, "SortMergeJoin") + countOf(plan, "ShuffledHashJoin") +
      countOf(plan, "BroadcastHashJoin") === 0, plan)
    assert(plan.contains("stack"), plan)
    assert(countOf(plan, "Scan parquet") === 1,
      s"ablation must be ONE corpus pass:\n$plan")
  }

  test("q106 epoch shuffle: in-shard ranking is bucket-parallel, not one task per shard") {
    val plan = finalPlan(SparkEntry.queries("q106_epoch_shuffle")(spark, sfDir))
    // the running-count window must key on (shard, _bkt) — a window
    // partitioned by shard alone funnels corpus/shards rows into one task
    val winSpecs = "windowspecdefinition\\(([^)]*)\\)".r
      .findAllMatchIn(plan).map(_.group(1)).toSeq
    val dataWins = winSpecs.filter(_.contains("_hk"))
    assert(dataWins.nonEmpty, s"in-bucket running count not found:\n$plan")
    assert(dataWins.forall(_.contains("_bkt")),
      s"running count lost its bucket key:\n$plan")
  }

  for ((name, cols) <- Seq(
      // q107's rollup is checkpoint-truncated (LogicalRDD), so only the
      // un-checkpointed NFC audit exposes its scan to this gate
      // doc_id rides along as the conditional-spread repartition key
      ("q103_nfc_normalize", Set("doc_id", "source", "text")))) {
    test(s"$name prunes the documents scan to ${cols.mkString("/")} and stays in codegen") {
      val df = SparkEntry.queries(name)(spark, sfDir)
      df.collect() // finalize THIS plan's AQE so codegen stages print
      val plan = df.queryExecution.executedPlan.toString
      val read = "ReadSchema: struct<([^>]*)>".r
        .findFirstMatchIn(plan).map(_.group(1)).getOrElse("")
      val readCols = read.split(",").map(_.split(":").head.trim).toSet
      assert(readCols === cols,
        s"scan must read exactly $cols, got $readCols:\n$plan")
      // the native expression must run inside a WholeStageCodegen span
      assert(plan.contains("*(1)"),
        s"no codegen stage in the scan pass:\n$plan")
    }
  }

  test("q109 shard manifest: one corpus pass, no joins, map-side-combinable aggregate") {
    val plan = finalPlan(SparkEntry.queries("q109_shard_manifest")(spark, sfDir))
    assert(countOf(plan, "Scan parquet") === 1,
      s"manifest must be ONE corpus pass:\n$plan")
    assert(countOf(plan, "SortMergeJoin") + countOf(plan, "ShuffledHashJoin") +
      countOf(plan, "BroadcastHashJoin") === 0, plan)
    // partial aggregation must precede the shard-keyed exchange
    val partialIdx = plan.indexOf("partial_count")
    val exchangeIdx = plan.lastIndexOf("Exchange hashpartitioning(shard")
    assert(partialIdx >= 0 && exchangeIdx >= 0, plan)
  }

  test("q121 PMI: scalar totals broadcast; no cartesian product") {
    // the two 1-row totals must ride BroadcastNestedLoopJoin (broadcast
    // crossJoin); a CartesianProduct means a broadcast was dropped and
    // the vocab table would shuffle against totals at corpus scale
    val plan = finalPlan(SparkEntry.queries("q121_pmi_collocations")(spark, sfDir))
    assert(countOf(plan, "BroadcastNestedLoopJoin") === 2,
      s"expected the two scalar totals as broadcast crossJoins:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian product:\n$plan")
  }

  test("q124 sample quantiles: strata-sized tables never sort-merge") {
    // counts ⋈ quantiles joins two |strata|-row aggregates — it must
    // resolve to a broadcast join, and the only windows in the plan are
    // the two-phase sample ranks (registry-wide audit covers the funnel)
    val plan = finalPlan(SparkEntry.queries("q124_sample_quantiles")(spark, sfDir))
    assert(!plan.contains("SortMergeJoin"),
      s"strata-metadata join degraded to a sort-merge:\n$plan")
    assert(countOf(plan, "BroadcastHashJoin") >= 1, plan)
  }

  test("q38 source-overlap: gram meet is the ONLY possible shuffle join") {
    val plan = finalPlan(SparkEntry.queries("q38_source_overlap")(spark, sfDir))
    // matrix skeleton + size lookups are source²-metadata: broadcast
    assert(countOf(plan, "BroadcastHashJoin") +
      countOf(plan, "BroadcastNestedLoopJoin") >= 2, plan)
    val shuffleJoins =
      countOf(plan, "SortMergeJoin") + countOf(plan, "ShuffledHashJoin")
    assert(shuffleJoins <= 1,
      s"only the gram-keyed meet may shuffle, got $shuffleJoins:\n$plan")
  }
}
