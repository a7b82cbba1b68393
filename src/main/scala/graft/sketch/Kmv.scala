package graft.sketch

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** KMV (k-minimum-values / bottom-k theta) distinct-set sketches — the
  * SCALE TIER of the q38 cross-source contamination matrix. Per group,
  * keep the k smallest 60-bit hashes of its distinct items; any two
  * groups' overlap is then estimated from the sketches alone
  * (Beyer et al., "On synopses for distinct-value estimation under
  * multiset operations", SIGMOD'07 — public technique).
  *
  * Where exact overlap (q38) must equi-join the full distinct
  * (source, gram) table against itself — a shuffle quadratic in the
  * number of SHARED grams and linear in corpus vocabulary — the sketch
  * path reduces the corpus to |groups| × k rows of BIGINT metadata, and
  * ALL pairwise work happens on that metadata table. At 100 TB the
  * per-group sketches are a broadcast; the corpus pays one distinct
  * reduce + one bounded top-k pass, nothing pairwise.
  *
  * Everything is DETERMINISTIC — md5 is engine-portable and estimates
  * are integer rationals of hash values — so unlike HLL (q87) the
  * sketch itself is oracle-checkable: DuckDB computes the identical
  * sketch and the identical estimates, hash-exact.
  */
object Kmv {

  /** 2^60 as an exactly-representable double (60-bit hash universe). */
  private val Universe: Double = 1.152921504606846976e18

  /** Per-group KMV sketch: the k smallest DISTINCT 60-bit item hashes,
    * as (group, h) rows — ≤ |groups| · k rows total.
    *
    * Shape: distinct-reduce on (group, h) (map-side combinable), then
    * the two-phase bounded top-k — per-(group, hex-prefix-bucket)
    * minima first, global minima over the bounded survivors — so no
    * group ever funnels its full distinct stream through one task. */
  def minK(
      items: DataFrame,
      grpCol: String,
      itemCol: String,
      k: Int,
      salt: String = "kmv"): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    val hexed = items
      .select(col(grpCol).as("grp"),
        md5(concat(col(itemCol), lit(salt))).as("_hx"))
      .select(col("grp"),
        conv(substring(col("_hx"), 1, 15), 16, 10).cast("long").as("h"),
        // bucket = first hex chars of the SAME hash the order uses, so
        // per-bucket minima are a provable superset of global minima
        substring(col("_hx"), 1, 2).as("_bkt"))
      .distinct()
    graft.curate.Curation.twoPhaseTopK(
        hexed, "grp", Seq(col("h").asc), k)
      .select(col("grp"), col("h"))
  }

  /** Merge two [[minK]] sketch tables into the sketch of the UNION of
    * the underlying item sets. For distinct-hash sets the bottom-k is a
    * lossless mergeable summary — `bottomK(bottomK(A) ∪ bottomK(B)) =
    * bottomK(A ∪ B)` exactly (any of the true union's k minima is a
    * minimum of its own side, so it survives the inner bottom-k) — so
    * incremental maintenance is BIT-IDENTICAL to a one-shot build, not
    * an approximation of it.
    *
    * Both inputs are ≤ |groups|·k rows by construction (metadata), so
    * the distinct + re-bottom-k here never touches corpus scale; the
    * two-phase top-k is kept anyway for the pathological many-groups
    * case. */
  def mergeSketches(a: DataFrame, b: DataFrame, k: Int): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    val u = a.select(col("grp"), col("h"))
      .unionByName(b.select(col("grp"), col("h")))
      .distinct()
      .withColumn("_bkt", pmod(col("h"), lit(32)))
    graft.curate.Curation.twoPhaseTopK(u, "grp", Seq(col("h").asc), k)
      .select(col("grp"), col("h"))
  }

  /** Pairwise overlap estimates from a [[minK]] sketch table: for every
    * group pair (a < b), the union sketch's prefix statistics →
    * Jaccard, union-cardinality and intersection estimates.
    *
    * All work is on the sketch table (|groups| · k rows — metadata).
    * The per-pair union prefix is a BOUNDED sort_array aggregate
    * (≤ 2k elements by construction), not a rank window — no funnel
    * and nothing corpus-sized anywhere.
    *
    * Estimators (K = min(k, |union sketch|), θ = K-th smallest union
    * hash): jaccard ≈ n_both / K; |A∪B| ≈ (k−1)·2^60/θ when the union
    * sketch is full (exact count otherwise — the sketch HOLDS the whole
    * union); |A∩B| = (n_both · union_est) div K. Integer or
    * floor-of-double arithmetic only — engine-exact. */
  def pairwiseOverlap(sketch: DataFrame, k: Int): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    // the sketch is consumed three times (group list + both pair sides);
    // without a materialization point each consumer would re-run the
    // corpus-side bottom-k — one lazy checkpoint makes the sketch the
    // |groups|·k-row table it is supposed to be (GC-released handle)
    val sk = graft.util.Blocks.lazyCheckpoint(sketch)
    val groups = sk.select(col("grp")).distinct()
    val pairs = broadcast(groups.select(col("grp").as("src_a")))
      .crossJoin(broadcast(groups.select(col("grp").as("src_b"))))
      .where(col("src_a") < col("src_b"))
    val sidesA = pairs.join(sk.withColumnRenamed("grp", "src_a"), "src_a")
    val sidesB = pairs.join(sk.withColumnRenamed("grp", "src_b"), "src_b")
    sidesA.select(col("src_a"), col("src_b"), col("h"))
      .unionByName(sidesB.select(col("src_a"), col("src_b"), col("h")))
      .groupBy(col("src_a"), col("src_b"), col("h"))
      .agg(count(lit(1)).as("n_sides"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(sort_array(collect_list(
        struct(col("h"), (col("n_sides") === 2).as("both")))).as("hs"))
      .withColumn("k_used", least(size(col("hs")), lit(k)).cast("long"))
      .withColumn("_pref", slice(col("hs"), 1, k))
      .withColumn("n_both",
        size(filter(col("_pref"), x => x("both"))).cast("long"))
      .withColumn("theta",
        element_at(col("_pref"), col("k_used").cast("int"))("h"))
      .withColumn("union_est",
        when(size(col("hs")) >= k,
          floor(lit((k - 1).toDouble) * lit(Universe)
            / col("theta").cast("double")).cast("long"))
        .otherwise(size(col("hs")).cast("long")))
      .withColumn("jaccard_est_ppm", expr("(1000000 * n_both) div k_used"))
      .withColumn("inter_est", expr("(n_both * union_est) div k_used"))
      .select(col("src_a"), col("src_b"), col("k_used"), col("n_both"),
        col("theta"), col("union_est"), col("jaccard_est_ppm"),
        col("inter_est"))
  }
}
