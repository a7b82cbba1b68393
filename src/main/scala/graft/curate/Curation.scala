package graft.curate

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-data curation operators: deterministic sampling and
  * token-budget selection for corpus mixing.
  *
  * Everything here is reproducible BY VALUE: sampling decisions derive
  * from md5 of the row's id (not from partition layout or RNG state), so
  * re-running on a repartitioned / differently-ordered corpus — or on a
  * different engine — selects exactly the same rows. `df.sample()` can't
  * promise any of that.
  */
object Curation {

  /** Uniform hash value in [0, 2^32) derived from md5(id ++ salt) —
    * the first 8 hex chars as an integer. Portable: any engine with md5
    * computes the identical value. */
  def hashKey(id: Column, salt: String): Column =
    conv(substring(md5(concat(id.cast("string"), lit(salt))), 1, 8), 16, 10)
      .cast("long")

  private val HashSpace = 4294967296L // 2^32

  /** Deterministic Bernoulli sample: keeps a row iff its [[hashKey]]
    * falls below `rate` · 2^32. A pure narrow filter — no shuffle, no
    * RNG, stable under repartitioning and engine changes. */
  def hashSample(df: DataFrame, idCol: String, rate: Double,
      salt: String = "graft"): DataFrame = {
    require(rate >= 0 && rate <= 1, s"rate must be in [0,1], got $rate")
    df.where(hashKey(col(idCol), salt) < (rate * HashSpace).toLong)
  }

  /** Stratified mixture sampling: per-stratum keep rates (e.g.
    * lang → weight), rows in unlisted strata get `defaultRate`. The
    * decision is still per-row deterministic — one narrow filter, no
    * shuffle, any stratum skew irrelevant. */
  def stratifiedSample(
      df: DataFrame,
      idCol: String,
      stratumCol: String,
      rates: Map[String, Double],
      defaultRate: Double = 0.0,
      salt: String = "graft"): DataFrame = {
    require((defaultRate +: rates.values.toSeq).forall(r => r >= 0 && r <= 1),
      "rates must be in [0,1]")
    val rateCol = rates.foldLeft(lit(defaultRate)) { case (acc, (s, r)) =>
      when(col(stratumCol) === s, lit(r)).otherwise(acc)
    }
    df.where(hashKey(col(idCol), salt).cast("double") <
      rateCol * HashSpace.toDouble)
  }

  /** Per-stratum sampling plan for [[mixtureSample]]: one metadata-scale
    * row per TARGETED stratum with the available token mass, the token
    * target `budget · w_s` (weights normalized over `targets`), the
    * resulting keep rate `min(1, target/avail)`, and the DEFICIT of an
    * undersupplied stratum (target − avail, else 0). Undersupplied
    * strata cap at rate 1 and the deficit is REPORTED, not silently
    * redistributed — redistribution changes the mixture, which is the
    * caller's policy decision, not the sampler's. */
  def mixtureRates(
      df: DataFrame,
      stratumCol: String,
      tokenCol: String,
      targets: Map[String, Double],
      tokenBudget: Long): DataFrame = {
    require(targets.nonEmpty, "mixtureRates: targets must be non-empty")
    require(targets.values.forall(w => w >= 0 && !w.isNaN),
      "mixtureRates: weights must be >= 0")
    require(tokenBudget > 0, s"tokenBudget must be positive, got $tokenBudget")
    val wSum = targets.values.sum
    require(wSum > 0, "mixtureRates: at least one weight must be > 0")
    val wCol = targets.foldLeft(lit(null).cast("double")) { case (acc, (s, w)) =>
      when(col(stratumCol) === s, lit(w / wSum)).otherwise(acc)
    }
    df.where(col(stratumCol).isin(targets.keys.toSeq: _*))
      .groupBy(col(stratumCol))
      .agg(sum(col(tokenCol)).as("avail_tokens"))
      .withColumn("target_tokens", lit(tokenBudget.toDouble) * wCol)
      .withColumn("sample_rate",
        least(lit(1.0), col("target_tokens") / col("avail_tokens")))
      .withColumn("deficit_tokens",
        greatest(lit(0.0), col("target_tokens") - col("avail_tokens")))
  }

  /** Domain-mixture rebalancing under a token budget — the "data
    * mixture" stage of a pretraining recipe: given target mixture
    * weights per stratum (source/domain/language) and a total token
    * budget, subsample each stratum at `min(1, budget·w_s / avail_s)`
    * so the SELECTED corpus approaches the target mixture. Selection is
    * the same by-value md5 Bernoulli as [[stratifiedSample]] — one
    * tiny per-stratum aggregate (broadcast back), then one narrow
    * filter over the corpus; no shuffle of the data itself, stable
    * under repartitioning and engine swaps. Strata absent from
    * `targets` are dropped (weight 0). Output keeps the input columns
    * plus the stratum's `sample_rate`. */
  def mixtureSample(
      df: DataFrame,
      idCol: String,
      stratumCol: String,
      tokenCol: String,
      targets: Map[String, Double],
      tokenBudget: Long,
      salt: String = "graft"): DataFrame = {
    val rates = mixtureRates(df, stratumCol, tokenCol, targets, tokenBudget)
      .select(col(stratumCol), col("sample_rate"))
    df.join(broadcast(rates), Seq(stratumCol))
      .where(hashKey(col(idCol), salt).cast("double") <
        col("sample_rate") * HashSpace.toDouble)
  }

  /** Temperature-scaled mixture sampling — the multilingual/domain
    * sampling rule of XLM/mT5-style pipelines (Conneau & Lample 2019;
    * public technique): target weight per stratum is its NATURAL token
    * share raised to temperature α and renormalized,
    * `w_s = n_s^α / Σ_j n_j^α`, flattening the corpus distribution
    * toward uniform so low-resource strata are upsampled relative to
    * their share. Unlike [[mixtureSample]], the targets are DERIVED
    * from the corpus, not caller policy. This operator pins α = 0.5:
    * `n^0.5` is IEEE `sqrt` — correctly rounded by the standard, hence
    * bit-identical on every engine — and the per-stratum weight
    * numerator is rounded ONCE to an integer (micro-scaled, the
    * q34/q100 lesson) so the cross-strata normalizing sum is exact
    * integer arithmetic, immune to FP summation order.
    *
    * Scale shape: one map-side-combinable corpus aggregate to the
    * per-stratum token mass (metadata: |strata| rows), one 1-row total,
    * both broadcast back; selection is the same by-value md5 Bernoulli
    * narrow filter as [[mixtureSample]]. Nothing corpus-scale shuffles.
    *
    * Output: input columns + `weight_ppm` (the stratum's temperature
    * target in integer ppm) + `sample_rate` (min(1, budget·w/avail)).
    * Undersupplied strata cap at 1 — same no-silent-redistribution
    * contract as [[mixtureRates]]. */
  def temperatureMixture(
      df: DataFrame,
      idCol: String,
      stratumCol: String,
      tokenCol: String,
      tokenBudget: Long,
      salt: String = "graft"): DataFrame = {
    require(tokenBudget > 0, s"tokenBudget must be positive, got $tokenBudget")
    // The per-stratum mass table feeds two consumers (the total and the
    // rate projection) — checkpoint the |strata|-row result once so the
    // corpus-scale aggregate doesn't re-execute per consumer.
    val avail = graft.util.Blocks.lazyCheckpoint(
      df.groupBy(col(stratumCol))
        .agg(sum(col(tokenCol)).cast("long").as("avail_tokens"))
        // sqrt(avail) = avail^α at α = 0.5; scaled to micro-units and
        // rounded once so everything downstream is exact integers.
        .withColumn("_sq",
          round(lit(1e6) * sqrt(col("avail_tokens").cast("double")))
            .cast("long")))
    val tot = avail.agg(sum(col("_sq")).as("_tot"))
    val rates = avail.crossJoin(broadcast(tot))
      // exact integer ppm; positive ints so `div` (truncate) == floor.
      // Headroom: 1e6·_sq stays under Long.Max while any stratum holds
      // < 8.5e13 tokens — orders above a 100 TB corpus.
      .withColumn("weight_ppm", expr("(1000000L * _sq) div _tot"))
      .withColumn("sample_rate",
        least(lit(1.0),
          (lit(tokenBudget.toDouble) * col("_sq").cast("double")
            / col("_tot").cast("double"))
            / col("avail_tokens").cast("double")))
      .select(col(stratumCol), col("weight_ppm"), col("sample_rate"))
    df.join(broadcast(rates), Seq(stratumCol))
      .where(hashKey(col(idCol), salt).cast("double") <
        col("sample_rate") * HashSpace.toDouble)
  }

  /** Exactly `min(k, |stratum|)` rows per stratum — the k smallest by
    * (md5 hash, id): a deterministic FIXED-SIZE sample ("give me 10k
    * eval docs per language"), where [[stratifiedSample]]'s rate form
    * gives a binomially-varying count. Decided by value, so the same
    * rows survive repartitioning, engine swaps and corpus growth (a
    * kept row is only ever displaced by a new row hashing below it).
    *
    * Scale shape: a naive `row_number() OVER (PARTITION BY stratum
    * ORDER BY hash)` funnels each stratum through ONE task — a 40 TB
    * stratum would serialize. Instead rows first rank inside 256
    * hash-prefix buckets (256-way parallel per stratum; bucket = first
    * hex chars of the SAME md5 the order uses, so in-bucket rank is a
    * suffix of the global order) and only each bucket's top-k — at most
    * 256·k rows per stratum, metadata scale — enter the global
    * per-stratum window that assigns the final `sample_rank`.
    *
    * Output adds `sample_rank` (1-based, dense within the stratum). */
  def sampleFixedK(
      df: DataFrame,
      idCol: String,
      stratumCol: String,
      k: Int,
      salt: String = "graft"): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val keyed = df
      .withColumn("_hk", md5(concat(col(idCol).cast("string"), lit(salt))))
      .withColumn("_bkt", substring(col("_hk"), 1, 2))
    twoPhaseTopK(keyed, stratumCol, Seq(col("_hk"), col(idCol)), k)
      .drop("_hk")
  }

  /** Cluster-balanced (proportional-quota) sampling: split a GLOBAL
    * budget of `totalK` rows across the values of `groupCol` in
    * proportion to group size — `quota(g) = max(1, (totalK·n_g) div
    * n_total)` — then draw each group's quota in deterministic md5
    * order. With `groupCol` = a learned cluster id (q36's integer
    * k-means, a near-dup component) this is the SemDeDup-style
    * "keep a proportional, diverse slice of every semantic region"
    * selection; with a metadata column it is proportional allocation
    * over strata. The realized total is APPROXIMATE in both
    * directions: it can exceed `totalK` by at most |groups| (every
    * non-empty group keeps ≥ 1 row), and floors can also UNDERSHOOT —
    * with many similar-sized groups Σ floor(totalK·n_g/n_tot) can fall
    * up to |groups|−1 below `totalK`. Callers needing an exact budget
    * apply a largest-remainder top-up over the |groups|-sized quota
    * frame; here the realized quota is declared, not hidden, via the
    * `n_quota` column.
    *
    * Scale shape: group sizes and quotas are |groups|-bounded metadata
    * (broadcast); the draw itself is [[twoPhaseTopK]] — per-group
    * ranking inside 256 hash-prefix buckets first, so no group ever
    * funnels through one task — with the quota filter applied after
    * the global per-group rank. Deterministic by md5 value: stable
    * under repartitioning and engine-portable, so the selection is
    * hash-exact.
    *
    * Output adds `sample_rank` (1-based within the group) and
    * `n_quota` (the group's quota). */
  def proportionalSample(
      df: DataFrame,
      idCol: String,
      groupCol: String,
      totalK: Int,
      salt: String = "graft"): DataFrame = {
    require(totalK > 0, s"totalK must be positive, got $totalK")
    val sizes = df.groupBy(col(groupCol)).agg(count(lit(1)).as("_n"))
    val quotas = sizes
      .crossJoin(broadcast(sizes.agg(sum(col("_n")).as("_tot"))))
      .select(col(groupCol),
        greatest(lit(1L), expr(s"($totalK * _n) div _tot")).as("n_quota"))
    val keyed = df
      .withColumn("_hk", md5(concat(col(idCol).cast("string"), lit(salt))))
      .withColumn("_bkt", substring(col("_hk"), 1, 2))
    twoPhaseTopK(keyed, groupCol, Seq(col("_hk"), col(idCol)), totalK)
      .drop("_hk")
      .join(broadcast(quotas), Seq(groupCol))
      .where(col("sample_rank") <= col("n_quota"))
  }

  /** Bounded-memory deterministic quantile profile — the SCALE TIER of
    * [[quantileCutoff]]'s exact mode. Per stratum: exact interpolated
    * quantiles of a FIXED-k deterministic hash sample
    * ([[sampleFixedK]] — md5 bottom-k is a uniform sample of the
    * stratum, mergeable and engine-portable) plus the exact stratum
    * count.
    *
    * Why a third tier exists: exact `percentile` buffers a whole
    * stratum per task (O(stratum) memory — dim scale only), and
    * `approx_percentile`'s GK sketch is bounded but NOT cross-engine
    * deterministic, so it can never be hash-gated. The bottom-k sample
    * is both at once — memory O(k), determinism by md5 value — at the
    * cost of the standard √(p(1−p)/k) sampling error on the quantile
    * RANK (declared, not hidden: `n_sampled` rides along so a reader
    * can see what the estimate stands on).
    *
    * Scale shape: the sample is the [[sampleFixedK]] two-phase bounded
    * top-k (no stratum funnel); the quantile aggregate then buffers
    * ≤ k values per stratum, and the exact-count join is
    * |strata| × |strata| metadata. */
  def sampleQuantileProfile(
      df: DataFrame,
      idCol: String,
      stratumCol: String,
      valueCol: String,
      k: Int,
      loP: Double,
      midP: Double,
      hiP: Double,
      salt: String = "graft"): DataFrame = {
    require(Seq(loP, midP, hiP).forall(p => p >= 0 && p <= 1),
      s"percentiles must be in [0,1], got ($loP, $midP, $hiP)")
    require(valueCol.matches("[A-Za-z_][A-Za-z0-9_]*"),
      s"valueCol '$valueCol' must match [A-Za-z_][A-Za-z0-9_]*")
    val counts = df.groupBy(col(stratumCol))
      .agg(count(lit(1)).as("n_rows"))
    val sample = sampleFixedK(
      df.select(col(idCol), col(stratumCol), col(valueCol)),
      idCol, stratumCol, k, salt)
    def pct(p: Double): Column =
      round(expr(s"percentile($valueCol, CAST($p AS DOUBLE))"), 6)
    val q = sample.groupBy(col(stratumCol)).agg(
      pct(loP).as("p_lo"), pct(midP).as("p_mid"), pct(hiP).as("p_hi"),
      count(lit(1)).as("n_sampled"))
    counts.join(q, stratumCol)
      .select(col(stratumCol), col("n_rows"), col("n_sampled"),
        col("p_lo"), col("p_mid"), col("p_hi"))
  }

  /** Weighted fixed-size sample per stratum — priority sampling
    * (Duffield–Lund–Thorup): each row's priority is w/u with u its
    * [[hashKey]] fraction in (0, 1]; the k LARGEST priorities win, so
    * inclusion probability rises with weight (min(1, w/τ) for the
    * stratum's threshold τ) while staying deterministic by value.
    *
    * Oracle-checkable BY CONSTRUCTION: u = (hash+1)/2^32 divides an
    * exactly-representable integer by a power of two (exact) and w/u is
    * one correctly-rounded IEEE division — bit-identical on any IEEE-754
    * engine. The classic exponential keys (u^(1/w)) need pow/ln, whose
    * last-ulp varies by libm, so cross-engine rank flips are possible
    * there; not here.
    *
    * Same two-phase top-k shape as [[sampleFixedK]] — no one-task
    * stratum funnel. Rows with non-positive or null weight are dropped
    * (they can never win a weighted draw). Output adds `sample_rank`
    * (1 = highest priority). */
  def sampleWeightedK(
      df: DataFrame,
      idCol: String,
      stratumCol: String,
      weightCol: String,
      k: Int,
      salt: String = "graft"): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val keyed = df
      .where(col(weightCol).isNotNull && col(weightCol) > 0)
      .withColumn("_u",
        (hashKey(col(idCol), salt) + 1L).cast("double") / HashSpace.toDouble)
      .withColumn("_pri", col(weightCol).cast("double") / col("_u"))
      .withColumn("_bkt",
        substring(md5(concat(col(idCol).cast("string"), lit(salt))), 1, 2))
    twoPhaseTopK(keyed, stratumCol, Seq(col("_pri").desc, col(idCol)), k)
      .drop("_u", "_pri")
  }

  /** Per-stratum top-k without a one-task stratum funnel: rank inside
    * 256 hash-prefix buckets first (`_bkt`), keep each bucket's top-k
    * (≤ 256·k survivors per stratum — metadata scale), then assign the
    * final `sample_rank` with the global per-stratum window. Valid for
    * any `order` because every global top-k row is also top-k in its
    * own bucket. Consumes `_bkt`; drops `_bkt`/`_r`. */
  private[graft] def twoPhaseTopK(
      keyed: DataFrame,
      stratumCol: String,
      order: Seq[Column],
      k: Int): DataFrame = {
    val wBucket = Window.partitionBy(col(stratumCol), col("_bkt"))
      .orderBy(order: _*)
    val wGlobal = Window.partitionBy(col(stratumCol))
      .orderBy(order: _*)
    keyed
      .withColumn("_r", row_number().over(wBucket))
      .where(col("_r") <= k)
      .withColumn("sample_rank", row_number().over(wGlobal))
      .where(col("sample_rank") <= k)
      .drop("_bkt", "_r")
  }

  /** Select documents per stratum, in deterministic hash order, until a
    * token budget fills: the corpus-mixing primitive ("2B tokens of en,
    * 1B of de, ...").
    *
    * Semantics: rows ordered by (hashKey, id) within each stratum; a row
    * is kept iff the running token total UP TO AND INCLUDING it is ≤ the
    * stratum's budget (so selection stops at the first overflow).
    *
    * Scale shape: a naive `sum() OVER (PARTITION BY stratum ORDER BY
    * key)` funnels each stratum through ONE task — a 40 TB `en` stratum
    * would serialize. Instead: rows land in 256 hash-prefix buckets; a
    * tiny per-(stratum, bucket) aggregate is prefix-summed (256 rows per
    * stratum — metadata scale); each bucket's offset joins back
    * (broadcast) and the in-bucket running sum is a window keyed by
    * (stratum, bucket) — 256-way parallel per stratum, identical result
    * to the single global window because bucket = first hex chars of the
    * same md5 the in-bucket order uses.
    *
    * @param budgets stratum → max total tokens; unlisted strata are
    *                dropped entirely
    */
  def tokenBudget(
      df: DataFrame,
      idCol: String,
      stratumCol: String,
      tokensCol: String,
      budgets: Map[String, Long],
      salt: String = "graft"): DataFrame = {
    val budgetCol = budgets.foldLeft(lit(null).cast("long")) {
      case (acc, (s, b)) => when(col(stratumCol) === s, lit(b)).otherwise(acc)
    }
    val keyed = df
      .withColumn("_budget", budgetCol)
      .where(col("_budget").isNotNull)
    withRunningTokens(keyed, idCol, stratumCol, tokensCol, salt)
      .where(col("_running") <= col("_budget"))
      .drop("_budget", "_running")
  }

  /** LEAKAGE-SAFE split assignment: near-duplicate clusters go to
    * train/val/test ATOMICALLY, so a near-dup of a test document can
    * never sit in train — the PREVENTION counterpart of the q39
    * leakage AUDIT (which detects straddling after the fact). The
    * split is [[assignSplit]]'s engine-portable md5 fraction computed
    * on the CLUSTER id (the [[graft.dedup.Dedup.connectedComponents]]
    * label — the cluster's min member id); every member inherits it,
    * and docs absent from `clusters` are their own singleton cluster.
    *
    * The cluster frame is caller-supplied, which IS the scale story:
    * at gate scale feed the pair-exact q23→CC labels (oracle-checkable
    * end to end); at corpus scale feed
    * [[graft.dedup.Dedup.nearDupCollapseFromShingles]]'s cluster-first
    * labels — the split logic is label-source-agnostic.
    *
    * @param clusters `(id, comp)` cluster assignment; ids must share
    *                 the type of `df`'s id column */
  def leakageSafeSplit(
      df: DataFrame,
      idCol: String,
      clusters: DataFrame,
      splits: Seq[(String, Double)],
      salt: String = "graft-split"): DataFrame = {
    val withCluster = df
      .join(clusters.select(col("id").as(idCol), col("comp")),
        Seq(idCol), "left")
      .withColumn("cluster_id", coalesce(col("comp"), col(idCol)))
      .drop("comp")
    assignSplit(withCluster, "cluster_id", splits, salt)
  }

  /** [[tokenBudget]] with ONE budget applied to EVERY stratum present
    * in the data — the uniform-quota form a composed pipeline wants
    * (no driver-side stratum enumeration feeding a constant into the
    * Map API; the lineage stays fully declarative). Identical
    * semantics to the Map overload with every present stratum mapped
    * to `budget`. */
  def tokenBudget(
      df: DataFrame,
      idCol: String,
      stratumCol: String,
      tokensCol: String,
      budget: Long): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    withRunningTokens(df, idCol, stratumCol, tokensCol, salt = "graft")
      .where(col("_running") <= budget)
      .drop("_running")
  }

  /** Running per-stratum token total (inclusive of the current row) in
    * deterministic md5-hash order — the two-phase bucket prefix-sum
    * shared by [[tokenBudget]] and [[packSequences]]: rows land in 256
    * hash-prefix buckets, a metadata-scale per-(stratum, bucket)
    * aggregate is prefix-summed, each bucket's offset broadcasts back,
    * and the in-bucket running sum is a window keyed by
    * (stratum, bucket) — 256-way parallel per stratum, value-identical
    * to one global per-stratum window because bucket = first hex chars
    * of the same md5 the in-bucket order uses. Output adds `_running`;
    * internal columns are dropped. */
  private def withRunningTokens(
      df: DataFrame,
      idCol: String,
      stratumCol: String,
      tokensCol: String,
      salt: String): DataFrame = {
    val keyed = df
      .withColumn("_hk", md5(concat(col(idCol).cast("string"), lit(salt))))
      .withColumn("_bkt", substring(col("_hk"), 1, 2))
    val offsets = keyed
      .groupBy(col(stratumCol).as("_st"), col("_bkt").as("_obkt"))
      .agg(sum(col(tokensCol)).as("_bt"))
      .withColumn("_offset",
        coalesce(
          sum(col("_bt")).over(Window.partitionBy(col("_st"))
            .orderBy(col("_obkt"))
            .rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .select(col("_st"), col("_obkt"), col("_offset"))
    val w = Window.partitionBy(col(stratumCol), col("_bkt"))
      .orderBy(col("_hk"), col(idCol))
    keyed
      .join(broadcast(offsets),
        col(stratumCol) === col("_st") && col("_bkt") === col("_obkt"))
      .withColumn("_running",
        col("_offset") + sum(col(tokensCol)).over(w))
      .drop("_hk", "_bkt", "_st", "_obkt", "_offset")
  }

  /** Context-window sequence packing, concatenation style: documents of
    * a stratum are laid end-to-end in deterministic hash order and cut
    * every `ctxLen` tokens — each doc is annotated with the bin it
    * STARTS in and its token offset inside that bin (the GPT-pretraining
    * packing layout, where documents may span cut points). Pure
    * function of the ids and token counts: reproducible across
    * engines, partitionings and runs, and the bin assembly downstream
    * can shuffle on (stratum, bin_id).
    *
    * Scale shape: the only non-narrow work is [[withRunningTokens]]'s
    * two-phase prefix sum — no stratum ever funnels through one task.
    */
  def packSequences(
      df: DataFrame,
      idCol: String,
      stratumCol: String,
      tokensCol: String,
      ctxLen: Long,
      salt: String = "graft"): DataFrame = {
    require(ctxLen > 0, s"ctxLen must be positive, got $ctxLen")
    withRunningTokens(df, idCol, stratumCol, tokensCol, salt)
      .withColumn("_start", col("_running") - col(tokensCol))
      .withColumn("bin_id", floor(col("_start") / ctxLen))
      .withColumn("bin_offset", col("_start") % ctxLen)
      .drop("_running", "_start")
  }

  /** Length-aware BEST-FIT-DECREASING bin packing — the
    * packing-efficiency counterpart of [[packSequences]] (which lays
    * docs end-to-end in arrival-hash order and lets them straddle cut
    * points): here every document lands WHOLE in exactly one
    * `ctxLen`-token bin, placed by the classic BFD heuristic —
    * documents in length-descending order, each into the fullest bin
    * it still fits (ties to the lowest bin id), a new bin only when
    * none fits — so heterogeneous-length corpora waste far less
    * context window on padding than arrival-order packing.
    *
    * Deterministic blocked form (the declared semantic): the global
    * order inside a stratum is (clamped length DESC, md5(id‖salt) ASC,
    * id ASC) — a unique total order — and exact BFD runs inside
    * consecutive RANK BLOCKS of `blockDocs` documents. Blocking is
    * what makes the heuristic distributed: each block's fold is
    * bounded state, blocks pack in parallel, and the result is a pure
    * function of (ids, lengths) — engine-reproducible, hash-exact.
    * The padding cost vs unblocked BFD is at most one underfilled
    * bin-set per block boundary; `blockDocs` ≫ docs-per-bin makes it
    * marginal.
    *
    * Scale shape: the rank is the [[withRunningTokens]] two-phase
    * discipline keyed on the order's leading keys — per
    * (stratum, length, md5-prefix) counts, one metadata-sized
    * broadcast of prefix offsets (≤ strata × (ctxLen+1) × 256 rows —
    * `ctxLen` bounds the clamped length), local row_number inside
    * each sub-bucket; no stratum ever funnels through one task. The
    * BFD fold itself is ONE `aggregate()` higher-order expression per
    * block (fixed-size expression tree — a chained-projection loop
    * would hit the CollapseProject 2^n duplication), state bounded by
    * `blockDocs`.
    *
    * Documents longer than `ctxLen` are CLAMPED to `ctxLen` tokens for
    * placement (declared truncation — each still occupies a whole bin).
    *
    * @return one row per document: `idCol`, `stratumCol`,
    *         `n_eff` (clamped length), `block`, `bin` (block-local,
    *         0-based), `bin_offset` (token start inside the bin),
    *         `bin_load` (the bin's final token load) */
  def packBinsBfd(
      df: DataFrame,
      idCol: String,
      stratumCol: String,
      tokensCol: String,
      ctxLen: Long,
      blockDocs: Int = 256,
      salt: String = "graft-bfd"): DataFrame = {
    require(ctxLen > 0, s"ctxLen must be positive, got $ctxLen")
    require(blockDocs > 0, s"blockDocs must be positive, got $blockDocs")
    val keyed = df
      .select(col(idCol), col(stratumCol), col(tokensCol))
      .withColumn("_n", least(col(tokensCol).cast("long"), lit(ctxLen)))
      .withColumn("_hk", md5(concat(col(idCol).cast("string"), lit(salt))))
      .withColumn("_bkt", substring(col("_hk"), 1, 2))
    val offsets = keyed
      .groupBy(col(stratumCol).as("_st"), col("_n").as("_on"),
        col("_bkt").as("_obkt"))
      .agg(count(lit(1)).as("_c"))
      .withColumn("_offset",
        coalesce(sum(col("_c")).over(Window.partitionBy(col("_st"))
          .orderBy(col("_on").desc, col("_obkt").asc)
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("_st"), col("_on"), col("_obkt"), col("_offset"))
    val ranked = keyed
      .join(broadcast(offsets),
        col(stratumCol) === col("_st") && col("_n") === col("_on") &&
          col("_bkt") === col("_obkt"))
      .withColumn("_rk", col("_offset") - 1L +
        row_number().over(
          Window.partitionBy(col(stratumCol), col("_n"), col("_bkt"))
            .orderBy(col("_hk"), col(idCol))))
      .withColumn("_blk", expr(s"_rk div ${blockDocs}L"))
      .withColumn("_slot", pmod(col("_rk"), lit(blockDocs.toLong)))
    val fits = s"filter(acc.loads, l -> l + d._n <= ${ctxLen}L)"
    val best = s"array_max($fits)"
    val idx = s"array_position(acc.loads, $best)" // 1-based, lowest bin on ties
    val folded = ranked
      .groupBy(col(stratumCol), col("_blk"))
      .agg(sort_array(collect_list(
        struct(col("_slot"), col("_n"), col(idCol).as("_id")))).as("_docs"))
      .withColumn("_bfd", expr(s"""
        aggregate(
          _docs,
          named_struct(
            'loads', cast(array() as array<bigint>),
            'bins',  cast(array() as array<bigint>),
            'offs',  cast(array() as array<bigint>)),
          (acc, d) -> if(
            size($fits) = 0,
            named_struct(
              'loads', concat(acc.loads, array(d._n)),
              'bins',  concat(acc.bins, array(cast(size(acc.loads) as bigint))),
              'offs',  concat(acc.offs, array(0L))),
            named_struct(
              'loads', transform(acc.loads, (l, i) ->
                if(i = $idx - 1, l + d._n, l)),
              'bins',  concat(acc.bins, array($idx - 1)),
              'offs',  concat(acc.offs, array($best)))))"""))
    folded
      .select(col(stratumCol), col("_blk").as("block"), col("_bfd"),
        posexplode(col("_docs")).as(Seq("_i", "_d")))
      .select(col("_d._id").as(idCol), col(stratumCol),
        col("_d._n").as("n_eff"), col("block"),
        element_at(col("_bfd.bins"), col("_i") + 1).as("bin"),
        element_at(col("_bfd.offs"), col("_i") + 1).as("bin_offset"),
        element_at(col("_bfd.loads"),
          (element_at(col("_bfd.bins"), col("_i") + 1) + 1).cast("int"))
          .as("bin_load"))
  }

  /** Deterministic epoch shuffle: a reproducible global training order —
    * each row gets a shard and a dense 0-based position inside it, both
    * pure functions of (id, epoch). This is the data-ordering step of a
    * resumable pretraining run: epoch k's permutation is fully
    * determined, so a crashed job re-derives exactly where it was, and
    * two training stacks consuming the same corpus read the same
    * sequence (the property `repartition.sortWithinPartitions` alone
    * cannot give — its shard contents depend on the cluster layout).
    *
    * shard = md5(id ‖ epoch-salt) mod `shards`; within-shard order is
    * the same md5 (ties → id). Different epochs permute independently.
    *
    * Scale shape: the position is NOT a per-shard global window (a
    * corpus/shards-sized funnel) — it rides [[withRunningTokens]]'s
    * 256-bucket two-phase prefix sum keyed on the shard, so every shard
    * ranks 256-way parallel and only metadata (shards × 256 offsets)
    * crosses the driver-free broadcast. */
  def epochShuffle(
      df: DataFrame,
      idCol: String,
      shards: Int,
      epoch: Int,
      salt: String = "graft-epoch"): DataFrame = {
    require(shards > 0, s"shards must be positive, got $shards")
    val esalt = s"$salt-$epoch"
    val keyed = df
      .withColumn("shard",
        pmod(hashKey(col(idCol), esalt), lit(shards.toLong)).cast("int"))
      .withColumn("_one", lit(1L))
    withRunningTokens(keyed, idCol, "shard", "_one", esalt)
      .withColumn("shard_pos", (col("_running") - 1L).cast("long"))
      .drop("_one", "_running")
  }

  /** Shard manifest for a [[epochShuffle]] epoch: per-shard doc count,
    * token mass, id range and an order-independent 60-bit content
    * fingerprint — the reproducibility artifact a training run records
    * next to its data ("did both stacks read byte-identical shards?").
    * The fingerprint XORs a per-doc 60-bit hash of (id, content
    * fingerprint): XOR is commutative/associative, so the aggregate is
    * partition- and order-independent, never overflows, and flips if
    * ANY document's content changes — and 60 bits stay inside a signed
    * BIGINT on every engine (a full 64-bit hex literal would overflow
    * DuckDB's BIGINT cast). Shard assignment is [[epochShuffle]]'s
    * exact formula, so the manifest describes that epoch's shards.
    * One map-side-combinable aggregate; |shards| rows out. */
  def shardManifest(
      df: DataFrame,
      idCol: String,
      contentCol: String,
      tokensCol: String,
      shards: Int,
      epoch: Int,
      salt: String = "graft-epoch"): DataFrame = {
    require(shards > 0, s"shards must be positive, got $shards")
    val esalt = s"$salt-$epoch"
    val fp60 = conv(substring(md5(concat(
        col(idCol).cast("string"), lit(":"), md5(col(contentCol)))),
      1, 15), 16, 10).cast("long")
    df.withColumn("shard",
        pmod(hashKey(col(idCol), esalt), lit(shards.toLong)).cast("int"))
      .withColumn("_fp", fp60)
      .groupBy(col("shard"))
      .agg(
        count(lit(1)).cast("long").as("n_docs"),
        sum(col(tokensCol)).cast("long").as("sum_tokens"),
        expr("bit_xor(_fp)").as("content_fp"),
        min(col(idCol)).as("min_id"),
        max(col(idCol)).as("max_id"))
  }

  /** Deterministic train/validation/test assignment: each row lands in
    * the first split whose cumulative rate covers its md5 hash
    * fraction — per-row, by value, so the assignment survives
    * repartitioning, engine swaps and incremental re-runs (a doc never
    * migrates between splits when the corpus grows, the property
    * random splits lack).
    *
    * @param splits (name, rate) in priority order; rates must sum to 1
    */
  def assignSplit(
      df: DataFrame,
      idCol: String,
      splits: Seq[(String, Double)],
      salt: String = "graft-split"): DataFrame = {
    require(splits.nonEmpty && splits.forall(_._2 >= 0), "bad split rates")
    require(math.abs(splits.map(_._2).sum - 1.0) < 1e-9,
      s"split rates must sum to 1, got ${splits.map(_._2).sum}")
    val frac = hashKey(col(idCol), salt).cast("double") / HashSpace.toDouble
    // round each cumulative boundary to 12 decimals: the float left-fold
    // (0.8 + 0.1 = 0.9000000000000001) would otherwise sit 1 ulp off the
    // LITERAL boundary an external re-implementation writes, and a hash
    // fraction landing in that gap would be assigned differently by the
    // two engines. Rounding snaps to the literal the external engine
    // uses, making assignment engine-portable for any rate list
    val cumulative = splits.scanLeft(0.0)(_ + _._2).tail
      .map(c => math.rint(c * 1e12) / 1e12)
    // last split is the default branch so float edges cannot drop a row
    val expr0 = splits.init.zip(cumulative.init).reverse
      .foldLeft(lit(splits.last._1)) { case (acc, ((name, _), cum)) =>
        when(frac < cum, lit(name)).otherwise(acc)
      }
    df.withColumn("split", expr0)
  }

  /** Fixed-length overlapping chunk spans per document — the
    * context-window chunking step (RAG indexing, long-doc training
    * prep): chunks of `chunkLen` tokens starting every
    * `chunkLen − overlap`, the last chunk clipped to the document end.
    * Emits (`chunk_id`, `start_tok`, `end_tok`, `chunk_tokens`) per
    * chunk; a chunk starts at every multiple of the step below the
    * token count, so trailing slivers shorter than the overlap are
    * kept (deterministic, engine-portable definition).
    *
    * Purely narrow work — one `sequence` + explode per row, no
    * shuffle; downstream substring extraction can ride the same row. */
  def chunkSpans(
      df: DataFrame,
      idCol: String,
      tokensCol: String,
      chunkLen: Long,
      overlap: Long): DataFrame = {
    require(chunkLen > 0, s"chunkLen must be positive, got $chunkLen")
    require(overlap >= 0 && overlap < chunkLen,
      s"overlap must be in [0, chunkLen), got $overlap")
    val step = chunkLen - overlap
    df.where(col(tokensCol) > 0)
      .select(col(idCol), col(tokensCol),
        posexplode(sequence(lit(0L), col(tokensCol).cast("long") - 1,
          lit(step))).as(Seq("_pos", "start_tok")))
      .select(col(idCol), col("_pos").cast("long").as("chunk_id"),
        col("start_tok"),
        least(col("start_tok") + chunkLen, col(tokensCol).cast("long"))
          .as("end_tok"))
      .withColumn("chunk_tokens", col("end_tok") - col("start_tok"))
  }

  /** Per-stratum adaptive quantile cutoffs: exact interpolated
    * percentiles (p_lo / p_mid / p_hi) of `valueCol`, plus how many
    * rows the [p_lo, p_hi] band keeps — the "per-domain length filter"
    * shape, where thresholds come from each stratum's own distribution
    * instead of one global constant.
    *
    * Cutoffs are rounded to 6 decimals BEFORE the keep test so the
    * band edges are reproducible across engines (raw interpolation
    * differs in the last float bit). Two passes over the input, one
    * shuffle each, both keyed on the stratum; the cutoff table is one
    * row per stratum and is broadcast back.
    *
    * Exact vs approximate tier: `exact = true` (default) uses exact
    * interpolated `percentile`, which buffers each stratum's values in
    * its aggregation state — right for oracle-matched results while a
    * stratum fits a task. At 100 TB a single stratum does NOT fit one
    * aggregation buffer, so pass `exact = false` to wire
    * `approx_percentile` (GK sketch, bounded memory ~O(accuracy), rank
    * error ≤ n/accuracy) — same output schema, same band-keep pass.
    *
    * @param exact    true = exact interpolated percentile (value-exact,
    *                 memory O(stratum)); false = approx_percentile
    *                 (memory O(accuracy), the 100 TB tier)
    * @param accuracy approx_percentile accuracy knob (only read when
    *                 `exact = false`): rank error is at most
    *                 n/accuracy rows */
  /** Per-stratum head/middle/tail bucketing at the tertile boundaries —
    * the CCNet corpus-split shape (lower value = better when the value
    * is a perplexity/NLL): each row gets `bucket` ∈ head ≤ q(1/3) <
    * middle ≤ q(2/3) < tail, boundaries computed per stratum and
    * rounded once to 6 places (the q62 cross-engine percentile
    * contract). The cuts table is |strata| rows and broadcasts back;
    * the assignment is a narrow projection. `exact = false` switches to
    * `approx_percentile` — the 100 TB tier, since exact `percentile`
    * buffers a stratum's values (same trade [[quantileCutoff]]
    * documents). */
  def tertileBuckets(
      df: DataFrame,
      stratumCol: String,
      valueCol: String,
      exact: Boolean = true,
      accuracy: Int = 10000): DataFrame = {
    require(valueCol.matches("[A-Za-z_][A-Za-z0-9_]*"),
      s"valueCol '$valueCol' must match [A-Za-z_][A-Za-z0-9_]*")
    require(accuracy > 0, s"accuracy must be positive, got $accuracy")
    def pct(p: Double): Column =
      if (exact) expr(s"percentile($valueCol, CAST($p AS DOUBLE))")
      else expr(s"approx_percentile($valueCol, CAST($p AS DOUBLE), $accuracy)")
        .cast("double")
    val cuts = df.groupBy(col(stratumCol)).agg(
      round(pct(1.0 / 3), 6).as("_q1"),
      round(pct(2.0 / 3), 6).as("_q2"))
    df.join(broadcast(cuts), stratumCol)
      .withColumn("bucket",
        when(col(valueCol) <= col("_q1"), "head")
          .when(col(valueCol) <= col("_q2"), "middle")
          .otherwise("tail"))
      .drop("_q1", "_q2")
  }

  def quantileCutoff(
      df: DataFrame,
      stratumCol: String,
      valueCol: String,
      loP: Double,
      midP: Double,
      hiP: Double,
      exact: Boolean = true,
      accuracy: Int = 10000): DataFrame = {
    require(Seq(loP, midP, hiP).forall(p => p >= 0 && p <= 1),
      s"percentiles must be in [0,1], got ($loP, $midP, $hiP)")
    require(accuracy > 0, s"accuracy must be positive, got $accuracy")
    // valueCol rides inside an expr() string — restrict to a plain
    // identifier so arbitrary SQL cannot be pasted in
    require(valueCol.matches("[A-Za-z_][A-Za-z0-9_]*"),
      s"valueCol '$valueCol' must match [A-Za-z_][A-Za-z0-9_]*")
    def pct(p: Double): Column =
      if (exact) expr(s"percentile($valueCol, CAST($p AS DOUBLE))")
      else expr(s"approx_percentile($valueCol, CAST($p AS DOUBLE), $accuracy)")
        .cast("double")
    val cuts = df.groupBy(col(stratumCol)).agg(
      round(pct(loP), 6).as("p_lo"),
      round(pct(midP), 6).as("p_mid"),
      round(pct(hiP), 6).as("p_hi"),
      count(lit(1)).as("n_rows"))
    df.join(broadcast(cuts), stratumCol)
      .groupBy(col(stratumCol), col("p_lo"), col("p_mid"), col("p_hi"),
        col("n_rows"))
      .agg(sum(when(col(valueCol) >= col("p_lo") &&
          col(valueCol) <= col("p_hi"), 1L).otherwise(0L)).as("n_kept"))
  }
}
