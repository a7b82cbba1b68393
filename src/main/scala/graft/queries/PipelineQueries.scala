package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.dedup.Dedup
import graft.multimodal.{MediaRecord, Multimodal}
import graft.sim.Ann
import graft.sources.Tables
import graft.text.TextAnalysis

/** LLM-training-data pipeline query surface (SURVEY.md §2, rows 15–26). */
object PipelineQueries {

  /** The test corpus arrives as one parquet row group → one scan task,
    * which serializes the interpreted shingle/array work. Spread it with
    * an id-keyed repartition — but ONLY when the source is actually
    * under-partitioned ([[graft.etl.Spread.byKeyIfNarrow]]): at real
    * corpus scale the source splits into thousands of tasks and the
    * repartition would be a full-corpus raw-text shuffle for nothing,
    * so there it is skipped entirely (no plan node added). */
  private def docsSpread(s: SparkSession, dir: String): DataFrame =
    graft.etl.Spread.byKeyIfNarrow(Tables.documents(s, dir), col("doc_id"))

  /** Strict spread for queries whose per-ROW cost dwarfs their bytes.
    * AQE's BYTE-based coalescing re-fuses an advisory spread of such
    * stages onto 1-10 cores (measured: the whole PNG stage
    * single-threaded, the q34 bucket stream 7.2 s of CPU on 10 tasks at
    * sf0.1); [[graft.etl.Spread.byKeyStrict]] pins the partition count
    * so these stages keep the cluster's parallelism. The remaining
    * callers, and why the spread stays here rather than in an operator:
    *  - q34 and q127-q129 (md5-token-bucket streams, ~1 md5 per token,
    *    into the Importance and LR cores): moving the strict spread
    *    into the LR train core measured slower on perfbench's curation
    *    build, because there it spreads an input of only 2-3
    *    partitions; it waits for a tier helper that can tell the two
    *    inputs apart;
    *  - `seededCorpus` and q150 (the perceptual codecs: PNG/GIF/JPEG/
    *    WAV build + decode + hash per row): the per-row work is a
    *    Column expression, so no operator exists to own the spread.
    * The Gopher rules (q110, q130) spread inside
    * [[graft.text.GopherRules.annotate]]. Iterative many-tiny-stage
    * families (ANN) stay on the advisory spread — strictness
    * over-parallelizes them (measured +0.5-0.7 s/query in round 16). */
  private def docsSpreadCpu(s: SparkSession, dir: String): DataFrame =
    graft.etl.Spread.byKeyStrict(Tables.documents(s, dir), col("doc_id"))

  /** Same conditional-spread consideration for the embeddings table. */
  private def embSpread(s: SparkSession, dir: String): DataFrame =
    graft.etl.Spread.byKeyIfNarrow(Tables.embeddings(s, dir), col("vec_id"))

  // ---------------------------------------------------------------------
  // Planted-pair self-checks for the approximate (no-oracle) operators.
  //
  // The five approximate queries (q21/q22/q25/q31/q32) have recall < 1
  // by design, so no DuckDB oracle exists and the driver's gate records
  // a bare rows-only check. To give that gate an affirmative signal, each
  // query plants a synthetic IDENTICAL pair (ids −2/−1 — the corpus ids
  // start at 0) into its input: identical documents get identical MinHash/
  // SimHash signatures and identical vectors share every LSH bucket and
  // IVF list, so the planted pair MUST surface in the output no matter the
  // banding/plane/centroid geometry. Every output row carries a
  // `planted_ok` column computed from the result itself — false anywhere
  // means the operator lost a guaranteed-recall pair (a real bug, not
  // approximation noise) — and the output is provably non-empty.
  // ---------------------------------------------------------------------
  private val PlantA = -2L
  private val PlantB = -1L

  private def plantedDocs(s: SparkSession): DataFrame = {
    import s.implicits._
    val text = "graft planted sentinel document alpha beta gamma delta " +
      "epsilon zeta eta theta iota kappa lambda"
    Seq((PlantA, text), (PlantB, text)).toDF("doc_id", "text")
  }

  /** Deterministic synthetic unit-free vector, identical for both ids. */
  private def plantedVecs(s: SparkSession, dim: Int): DataFrame = {
    import s.implicits._
    val v = (0 until dim).map(j => ((j * 31 + 7) % 13 - 6).toFloat)
    Seq((PlantA, v), (PlantB, v)).toDF("vec_id", "embedding")
  }

  /** Append a constant `planted_ok` column: true iff any result row
    * satisfies `cond`. One broadcast of a 1-row aggregate. The result is
    * materialized ONCE via a LAZY local checkpoint shared by both plan
    * consumers — unlike `persist()` (whose entry the CacheManager pins
    * until an explicit unpersist, leaking blocks in a long-lived session
    * that invokes these queries repeatedly), checkpoint blocks are
    * released by the ContextCleaner as soon as the returned frame is
    * garbage-collected; and unlike an EAGER checkpoint, the final stage
    * waits for first consumption (building the query still runs the
    * shuffle stages of `out` under AQE — see
    * [[graft.util.Blocks.lazyCheckpoint]]). Trade-off: the checkpoint
    * truncates lineage, so these queries' printed plans end at a Scan
    * ExistingRDD. */
  private def withPlantedCheck(
      out: DataFrame,
      cond: org.apache.spark.sql.Column): DataFrame = {
    val o = graft.util.Blocks.lazyCheckpoint(out)
    o.crossJoin(broadcast(o.agg(
      coalesce(max(when(cond, true)), lit(false)).as("planted_ok"))))
  }

  private def plantedPairCond =
    col("id_a") === PlantA && col("id_b") === PlantB
  private def plantedTopKCond =
    col("query_id") === PlantB && col("neighbor_id") === PlantA &&
      col("rnk") === 1

  // ---------------------------------------------------------------------
  // Measured-recall self-checks.
  //
  // The planted pair proves the recall-1 path (identical inputs MUST
  // collide); it says nothing about recall on merely-similar pairs. So
  // each approximate query ALSO measures its recall against the exact
  // answer on a small deterministic sub-block (ids < 60, or the full
  // query set for top-k) computed inline — the sub-block truth is a
  // few-thousand-comparison broadcast join, noise next to the main
  // operator — and emits `measured_recall` plus `recall_ok` (measured ≥
  // a per-query declared floor). Both the data and every hash seed are
  // deterministic, so the measured value is a constant per scale factor:
  // the floors are set from observed values at sf0.001/0.01/0.1 with
  // margin, and a future change that degrades recall flips `recall_ok`
  // to false — which PlantedPairSpec asserts on.
  //
  // Truth-set shape: the corpus's near-dup pairs have uniformly random
  // id endpoints, so "all pairs inside a small id block" is empty (a
  // vacuous truth). Instead truth is PROBE × CORPUS: every true partner
  // (anywhere in the corpus) of the first `RecallProbeIds` docs — a
  // broadcast(probes) ⨯ corpus pass, linear in the corpus like the
  // brute-force top-k baseline, never quadratic.
  // ---------------------------------------------------------------------
  private val RecallProbeIds = 60L

  /** Append planted_ok + measured_recall/recall_ok. The result is
    * materialized once via a LAZY localCheckpoint (see
    * [[withPlantedCheck]] for why lazy + checkpoint, not persist);
    * `truthKeys` is the exact sub-block answer projected onto
    * `keyCols`, also checkpointed (it is consumed by two 1-row
    * aggregates). Recall of an empty truth set is defined as 1. */
  private def withPlantedAndRecall(
      raw: DataFrame,
      cond: org.apache.spark.sql.Column,
      truthKeys: DataFrame,
      keyCols: Seq[String],
      floor: Double): DataFrame =
    plantedAndRecallFrom(graft.util.Blocks.lazyCheckpoint(raw), cond,
      graft.util.Blocks.lazyCheckpoint(truthKeys), keyCols, floor)

  /** The planted/recall assembly over result and truth frames the
    * caller has ALREADY arranged to materialize once (lazily via
    * [[withPlantedAndRecall]], or eagerly — q21 passes released-on-time
    * checkpoint handles). */
  private def plantedAndRecallFrom(
      o: DataFrame,
      cond: org.apache.spark.sql.Column,
      t: DataFrame,
      keyCols: Seq[String],
      floor: Double): DataFrame = {
    val planted = o.agg(
      coalesce(max(when(cond, true)), lit(false)).as("planted_ok"))
    val recall = t
      // left_semi already ignores duplicate matches — no dedup pass
      .join(o.select(keyCols.map(col): _*), keyCols, "left_semi")
      .agg(count(lit(1)).as("_rc_m"))
      .crossJoin(broadcast(t.agg(count(lit(1)).as("_rc_n"))))
      .select(round(
        when(col("_rc_n") === 0, lit(1.0))
          .otherwise(col("_rc_m").cast("double") / col("_rc_n")), 6)
        .as("measured_recall"))
      .select(col("measured_recall"),
        lit(floor).as("recall_floor"),
        (col("measured_recall") >= floor).as("recall_ok"))
    o.crossJoin(broadcast(planted)).crossJoin(broadcast(recall))
  }

  /** Canonicalize a probe⨯corpus exact-pair frame to the operators'
    * (id_a, id_b) = (min, max) convention, deduped (both endpoints can
    * be probes). */
  private def asOrderedPairs(pairs: DataFrame): DataFrame =
    pairs
      .select(least(col("pid"), col("cid")).as("id_a"),
        greatest(col("pid"), col("cid")).as("id_b"))
      .dropDuplicates("id_a", "id_b")

  /** Exact word-shingle Jaccard partners of the probe docs across the
    * corpus rows (`id >= 0` — planted sentinels excluded) of an
    * already-built shingle table — the truth set for the MinHash bander
    * (which verifies candidates with the same exact Jaccard, so its
    * only loss is banding misses). Consumes the SAME shingle
    * checkpoint the operator runs on, so the shingle pipeline is never
    * re-derived. */
  private def jaccardPairTruthFromShingles(
      shingled: DataFrame, threshold: Double): DataFrame = {
    val real = shingled.where(col("id") >= 0)
    val probes = real.where(col("id") < RecallProbeIds)
      .select(col("id").as("pid"), col("sh").as("psh"))
    asOrderedPairs(
      broadcast(probes)
        .join(real.select(col("id").as("cid"), col("sh").as("csh")),
          col("pid") =!= col("cid"))
        // size-ratio bound (J ≥ t ⇒ min/max set sizes ≥ t): prunes most
        // of the probe⨯corpus product before the exact kernel runs
        .where(least(size(col("psh")), size(col("csh"))).cast("double") /
          greatest(size(col("psh")), size(col("csh"))) >= threshold)
        .where(round(Dedup.jaccard(col("psh"), col("csh")), 6) >= threshold))
  }

  /** Exact SimHash hamming partners of the probe docs across the whole
    * corpus, from the SAME signature frame the operator consumes (one
    * 64-bit-sum aggregation, shared). The quarter-pigeonhole blocking
    * is lossless for maxHamming ≤ 3, so this truth certifies exactness
    * (floor 1.0), not just approximation quality. */
  private def simhashPairTruthFromSigs(
      sigs: DataFrame, maxHamming: Int): DataFrame = {
    val probes = sigs.where(col("id") >= 0 && col("id") < RecallProbeIds)
      .select(col("id").as("pid"), col("sig").as("psig"))
    asOrderedPairs(
      broadcast(probes)
        .join(sigs.select(col("id").as("cid"), col("sig").as("csig")),
          col("pid") =!= col("cid"))
        .where(bit_count(col("psig").bitwiseXOR(col("csig"))) <= maxHamming))
  }

  /** The perceptual queries' corpus: one payload seed per doc — each
    * 4-doc family shares the structural high word, members differ in
    * the low word — plus the planted identical pair on `plantedSeeds`. */
  private def seededCorpus(s: SparkSession, dir: String,
      plantedSeeds: Long): DataFrame = {
    import s.implicits._
    docsSpreadCpu(s, dir)
      .select(col("doc_id"),
        ((expr("doc_id div 4") % 1000000000L) * lit(4294967296L)
          + pmod(col("doc_id"), lit(4)) + lit(1)).cast("long").as("seeds"))
      .unionByName(Seq((PlantA, plantedSeeds), (PlantB, plantedSeeds))
        .toDF("doc_id", "seeds"))
  }

  /** Hamming ≤ 3 pairs over a 64-bit signature checkpoint (`id`,
    * `sig`) with their gate: the pair list and the probe truth are
    * materialized while the capped buckets are tracked, `sigCp` is
    * released, and every row carries `planted_ok` plus the recall
    * check at floor 1.0 (the quarter-pigeonhole blocking is lossless
    * at hamming ≤ 3, so this certifies exactness). */
  private def hammingPairsGated(
      sigCp: graft.util.Blocks.Checkpointed): DataFrame = {
    import graft.util.Blocks
    val (outCp, truthCp) = Blocks.withTracked { track =>
      (Blocks.checkpoint(
        Dedup.simHashDedupFromSigs(sigCp.df, maxHamming = 3,
          maybePersist = track)),
        Blocks.checkpoint(
          simhashPairTruthFromSigs(sigCp.df, maxHamming = 3)))
    }
    sigCp.release()
    plantedAndRecallFrom(outCp.df, plantedPairCond, truthCp.df,
      Seq("id_a", "id_b"), floor = 1.0)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Exact cosine partners ≥ threshold of the probe vectors across the
    * whole corpus — truth for the OR-amplified LSH blocker. */
  private def cosinePairTruth(
      s: SparkSession, dir: String, threshold: Double): DataFrame = {
    val base = Ann.withNorm(
      embSpread(s, dir)
        .select(col("vec_id").as("id"), col("embedding").as("v")), "v")
    val probes = base.where(col("id") < RecallProbeIds)
      .select(col("id").as("pid"), col("v").as("pv"), col("self_dot").as("pd"))
    asOrderedPairs(
      broadcast(probes)
        .join(base.select(col("id").as("cid"), col("v").as("cv"),
          col("self_dot").as("cd")), col("pid") =!= col("cid"))
        .where(Ann.dot(col("pv"), col("cv")) /
          sqrt(col("pd") * col("cd")) >= threshold))
  }

  // ------------------------------------------------------------------ q20
  def q20DedupExact(s: SparkSession, dir: String): DataFrame =
    Dedup.exact(Tables.documents(s, dir), "doc_id", col("text"))
      .select(col("keep_id"), col("group_size"))
      .orderBy(col("keep_id"))

  val q20Oracle: String =
    """SELECT min(doc_id) AS keep_id, count(*) AS group_size
      |FROM documents GROUP BY text ORDER BY keep_id""".stripMargin

  // ------------------------------------------------------------------ q21
  /** MinHash/LSH near-dup pairs with planted + measured-recall checks.
    * The word-shingle table is computed ONCE into an eager checkpoint
    * shared by ALL its consumers — the signature aggregation, both
    * exact-verify join sides, and the recall truth's probe⨯corpus pass.
    * Previously each of those re-derived the full shingle pipeline from
    * the source, inflating the plan to ~65 stages and costing a fresh
    * JVM an 18 s first-pass Catalyst/JIT ramp (round-8 BENCH_NOTES).
    * The pair list and truth set are materialized eagerly, then every
    * intermediate (shingles, capped buckets) is released before this
    * returns — the planted/recall 1-row aggregates evaluate from the
    * materialized handles at consume time. */
  def q21DedupMinHash(s: SparkSession, dir: String): DataFrame = {
    import graft.util.Blocks
    val corpus = docsSpread(s, dir).select(col("doc_id"), col("text"))
      .unionByName(plantedDocs(s))
    val shCp = Blocks.checkpoint(
      Dedup.shingleTable(corpus, "doc_id", "text", shingleK = 3))
    val (outCp, truthCp) = Blocks.withTracked { track =>
      (Blocks.checkpoint(
        Dedup.minHashDedupFromShingles(shCp.df, numPerm = 32, bands = 8,
          threshold = 0.4, maybePersist = track)),
        Blocks.checkpoint(
          jaccardPairTruthFromShingles(shCp.df, threshold = 0.4)))
    }
    shCp.release()
    plantedAndRecallFrom(outCp.df, plantedPairCond, truthCp.df,
      Seq("id_a", "id_b"), floor = 0.7)
      .orderBy(col("id_a"), col("id_b"))
  }

  // ------------------------------------------------------------------ q22
  /** SimHash near-dup pairs, same eager shared-intermediate lifecycle
    * as q21: signatures aggregated ONCE into a checkpoint consumed by
    * the bander and the exactness truth, pair list and truth
    * materialized, every intermediate released before returning. */
  def q22DedupSimHash(s: SparkSession, dir: String): DataFrame = {
    import graft.util.Blocks
    val corpus = docsSpread(s, dir).select(col("doc_id"), col("text"))
      .unionByName(plantedDocs(s))
    val sigCp = Blocks.checkpoint(
      Dedup.simHashSignatures(corpus, "doc_id", "text"))
    hammingPairsGated(sigCp)
  }

  // ------------------------------------------------------------------ q23
  /** Same-language pairs with char-3-gram Jaccard ≥ 0.5, computed by the
    * EXACT prefix-filtering similarity join ([[Dedup.jaccardJoin]]) —
    * lossless, so the exact all-pairs DuckDB oracle stays valid, while
    * candidate generation touches only rare prefix tokens instead of
    * every same-language pair. */
  def q23NgramJaccard(s: SparkSession, dir: String): DataFrame =
    Dedup.jaccardJoin(
        docsSpread(s, dir)
          .select(
            col("doc_id").as("id"),
            col("lang").as("blk"),
            TextAnalysis.canonical(col("text")).as("ct"))
          .select(col("id"), col("blk"),
            Dedup.charShinglesFrom(col("ct"), 3).as("sh")),
        threshold = 0.5)
      .orderBy(col("id_a"), col("id_b"))

  val q23Oracle: String =
    """WITH c AS (SELECT doc_id, lang,
      |    trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS ctext
      |  FROM documents),
      |s AS (SELECT doc_id, lang,
      |    list_distinct(list_transform(
      |      generate_series(1, greatest(length(ctext) - 2, 1)),
      |      i -> substr(ctext, i, 3))) AS sh
      |  FROM c)
      |SELECT l.doc_id AS id_a, r.doc_id AS id_b,
      |  round(CAST(len(list_intersect(l.sh, r.sh)) AS DOUBLE)
      |    / CAST(len(l.sh) + len(r.sh) - len(list_intersect(l.sh, r.sh)) AS DOUBLE), 6) AS jaccard_sim
      |FROM s l JOIN s r ON l.lang = r.lang AND l.doc_id < r.doc_id
      |WHERE round(CAST(len(list_intersect(l.sh, r.sh)) AS DOUBLE)
      |    / CAST(len(l.sh) + len(r.sh) - len(list_intersect(l.sh, r.sh)) AS DOUBLE), 6) >= 0.5
      |ORDER BY id_a, id_b""".stripMargin

  // ------------------------------------------------------------------ q33
  /** Character-level near-dup pairs by blocked edit distance
    * ([[Dedup.editDistanceJoin]]) — the record-linkage tier of the
    * dedup ladder: catches typo/OCR-mutation copies whose shingle sets
    * q23's Jaccard join scores below threshold. Exact w.r.t. its
    * declared blocking contract (shared 16-char prefix, length diff
    * ≤ 8, Levenshtein ≤ 8 on the 80-char verify window), so the
    * all-pairs DuckDB oracle hash-matches; candidate generation
    * shuffles on the (prefix, length-band) block key, never the pair
    * space. */
  def q33FuzzyDedup(s: SparkSession, dir: String): DataFrame =
    Dedup.editDistanceJoin(
        docsSpread(s, dir), "doc_id", "text",
        maxDist = 8, blockPrefixLen = 16, verifyPrefixLen = 80)
      .orderBy(col("id_a"), col("id_b"))

  val q33Oracle: String =
    """WITH t AS (SELECT doc_id, text,
      |    substr(text, 1, 16) AS p,
      |    substr(text, 1, 80) AS vp,
      |    CAST(length(text) AS BIGINT) AS l
      |  FROM documents)
      |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |  CAST(levenshtein(a.vp, b.vp) AS BIGINT) AS prefix_dist,
      |  a.l AS len_a, b.l AS len_b
      |FROM t a JOIN t b
      |  ON a.p = b.p AND a.doc_id < b.doc_id AND abs(a.l - b.l) <= 8
      |WHERE levenshtein(a.vp, b.vp) <= 8
      |ORDER BY id_a, id_b""".stripMargin

  // ------------------------------------------------------------------ q34
  /** DSIR-style hashed importance weights ([[graft.curate.Importance]]):
    * score every doc by target-vs-raw log-likelihood ratio over 1024
    * hashed unigram buckets, integer micro-nat arithmetic end to end
    * (the only float — the per-bucket log-ratio — is rounded once on
    * the 1024-row bucket table, so per-doc sums are order-independent
    * BIGINTs and the DuckDB oracle hash-matches). Target membership
    * here is content-defined (docs mentioning `spark`) standing in for
    * an external seed corpus; `selected` is a sign test, immune to the
    * floor-vs-truncate division asymmetry. */
  def q34ImportanceWeights(s: SparkSession, dir: String): DataFrame =
    graft.curate.Importance.importanceWeights(
        docsSpreadCpu(s, dir), "doc_id", "text",
        targetPred = array_contains(
          graft.text.WordGrams.tokens(col("text")), "spark"))
      .orderBy(col("doc_id"))

  val q34Oracle: String =
    """WITH toks AS (SELECT doc_id,
      |    unnest(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')) AS token
      |  FROM documents),
      |t AS (SELECT doc_id, token,
      |    CAST(('0x' || substring(md5(token), 1, 8)) AS BIGINT) % 1024 AS b
      |  FROM toks WHERE len(token) > 0),
      |tdocs AS (SELECT DISTINCT doc_id FROM t WHERE token = 'spark'),
      |cnt AS (SELECT b, count(*) AS c_r,
      |    count(*) FILTER (doc_id IN (SELECT doc_id FROM tdocs)) AS c_t
      |  FROM t GROUP BY b),
      |tot AS (SELECT sum(c_r) AS r_n, sum(c_t) AS t_n FROM cnt),
      |score AS (SELECT cnt.b,
      |    CAST(round(1e6 * ln((cnt.c_t + 1.0) * (tot.r_n + 1024)
      |                      / ((cnt.c_r + 1.0) * (tot.t_n + 1024)))) AS BIGINT) AS w_micro
      |  FROM cnt, tot)
      |SELECT t.doc_id,
      |  CAST(count(*) AS BIGINT) AS n_tokens,
      |  CAST(sum(score.w_micro) AS BIGINT) AS w_micro_sum,
      |  (sum(score.w_micro) > 0) AS selected
      |FROM t JOIN score ON t.b = score.b
      |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin

  // ------------------------------------------------------------------ q35
  /** CCNet-style LM perplexity filter ([[graft.text.NgramLm]]): a
    * hashed-bucket bigram LM with add-1 smoothing, trained on the
    * corpus in the same pass that scores it; `kept` = the doc's average
    * bigram NLL beats the uniform `ln(256)` baseline. Same integer
    * micro-nat contract as q34 — the per-bucket-pair NLL is rounded
    * once on the ≤ 256² score table, per-doc sums are BIGINT, and the
    * per-bigram average divides two positives (truncate == floor), so
    * the DuckDB oracle hash-matches. */
  def q35LmPerplexity(s: SparkSession, dir: String): DataFrame =
    graft.text.NgramLm.perplexityFilter(docsSpread(s, dir), "doc_id", "text")
      .orderBy(col("doc_id"))

  val q35Oracle: String =
    """WITH toks AS (SELECT doc_id, list_filter(
      |    string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' '),
      |    t -> len(t) > 0) AS l
      |  FROM documents),
      |bl AS (SELECT doc_id, list_transform(l,
      |    t -> CAST(('0x' || substring(md5(t), 1, 8)) AS BIGINT) % 256) AS b
      |  FROM toks WHERE len(l) >= 2),
      |pairs AS (SELECT doc_id,
      |    unnest(b[1:len(b)-1]) AS b1, unnest(b[2:len(b)]) AS b2 FROM bl),
      |bi AS (SELECT b1, b2, count(*) AS c_bi FROM pairs GROUP BY b1, b2),
      |uni AS (SELECT b1, sum(c_bi) AS c_uni FROM bi GROUP BY b1),
      |score AS (SELECT bi.b1, bi.b2,
      |    CAST(round(-1e6 * ln((bi.c_bi + 1.0) / (uni.c_uni + 256))) AS BIGINT) AS nll_micro
      |  FROM bi JOIN uni ON bi.b1 = uni.b1),
      |agg AS (SELECT pairs.doc_id,
      |    CAST(count(*) AS BIGINT) AS n_bigrams,
      |    CAST(sum(score.nll_micro) AS BIGINT) AS nll_micro_sum
      |  FROM pairs JOIN score ON pairs.b1 = score.b1 AND pairs.b2 = score.b2
      |  GROUP BY pairs.doc_id)
      |SELECT doc_id, n_bigrams + 1 AS n_tokens, n_bigrams, nll_micro_sum,
      |  nll_micro_sum // n_bigrams AS avg_nll_micro,
      |  (nll_micro_sum // n_bigrams) < CAST(round(1e6 * ln(256)) AS BIGINT) AS kept
      |FROM agg ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------------ q36
  /** Auditable k-means topic clustering ([[graft.sim.IntKMeans]]):
    * integer-quantized Lloyd (k=8, 2 update steps + final assignment),
    * md5-spread seeds, truncated integer centroid means — every
    * assignment reproduces bit-for-bit on any engine, so unlike the
    * float quantizer tier this clustering is HASH-EXACT oracle-checked.
    * The oracle walks the identical three assignment rounds in SQL. */
  def q36KmeansTopics(s: SparkSession, dir: String): DataFrame =
    graft.sim.IntKMeans.cluster(embSpread(s, dir), "vec_id", "embedding",
        k = 8, iters = 2)
      .withColumnRenamed("id", "vec_id")
      .orderBy(col("vec_id"))

  /** The q36 integer-k-means assignment CTE chain (seeding + two Lloyd
    * rounds + final scored assignment table `s3`), shared with q116's
    * diversity-cap oracle. */
  private val kmeansCtes: String =
    """q AS (SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]),
      |    x -> CAST(round(x * 1000000) AS BIGINT)) AS qv FROM embeddings),
      |seed AS (SELECT qv, row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cl
      |  FROM q QUALIFY cl < 8),
      |c0 AS (SELECT cl, generate_subscripts(qv, 1) - 1 AS d, unnest(qv) AS cv FROM seed),
      |p AS (SELECT vec_id, generate_subscripts(qv, 1) - 1 AS d, unnest(qv) AS v FROM q),
      |s1 AS (SELECT p.vec_id, c0.cl, sum((p.v - c0.cv) * (p.v - c0.cv)) AS d2
      |  FROM p JOIN c0 ON p.d = c0.d GROUP BY 1, 2),
      |a1 AS (SELECT vec_id, cl FROM s1
      |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2, cl) = 1),
      |m1 AS (SELECT a1.cl, p.d, CAST(sum(p.v) AS BIGINT) // count(*) AS mv
      |  FROM p JOIN a1 USING (vec_id) GROUP BY 1, 2),
      |c1 AS (SELECT c0.cl, c0.d, coalesce(m1.mv, c0.cv) AS cv
      |  FROM c0 LEFT JOIN m1 ON c0.cl = m1.cl AND c0.d = m1.d),
      |s2 AS (SELECT p.vec_id, c1.cl, sum((p.v - c1.cv) * (p.v - c1.cv)) AS d2
      |  FROM p JOIN c1 ON p.d = c1.d GROUP BY 1, 2),
      |a2 AS (SELECT vec_id, cl FROM s2
      |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2, cl) = 1),
      |m2 AS (SELECT a2.cl, p.d, CAST(sum(p.v) AS BIGINT) // count(*) AS mv
      |  FROM p JOIN a2 USING (vec_id) GROUP BY 1, 2),
      |c2 AS (SELECT c1.cl, c1.d, coalesce(m2.mv, c1.cv) AS cv
      |  FROM c1 LEFT JOIN m2 ON c1.cl = m2.cl AND c1.d = m2.d),
      |s3 AS (SELECT p.vec_id, c2.cl, CAST(sum((p.v - c2.cv) * (p.v - c2.cv)) AS BIGINT) AS d2
      |  FROM p JOIN c2 ON p.d = c2.d GROUP BY 1, 2)""".stripMargin

  val q36Oracle: String =
    s"""WITH $kmeansCtes
       |SELECT vec_id, CAST(cl AS INTEGER) AS cluster, d2 AS dist2 FROM s3
       |QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2, cl) = 1
       |ORDER BY vec_id""".stripMargin

  // ------------------------------------------------------------------ q38
  /** Cross-source contamination matrix
    * ([[graft.text.WordGrams.sourceOverlap]]): distinct word 8-grams
    * shared between every source pair, with integer-ppm containment
    * both ways and Jaccard — the mix-audit run before blending corpora.
    * Complete matrix (zero-overlap pairs included), all ratios exact
    * integer division of positives. */
  def q38SourceOverlap(s: SparkSession, dir: String): DataFrame =
    graft.text.WordGrams.sourceOverlap(
        docsSpread(s, dir), "doc_id", "source", "text", n = 8)
      .orderBy(col("src_a"), col("src_b"))

  val q38Oracle: String =
    """WITH d AS (SELECT doc_id, source,
      |    string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS t
      |  FROM documents),
      |g AS (SELECT source, t, unnest(generate_series(1, len(t) - 7)) AS i FROM d),
      |sg AS (SELECT DISTINCT source, array_to_string(t[i:i+7], ' ') AS gram FROM g),
      |sz AS (SELECT source, count(*) AS n FROM sg GROUP BY source),
      |cm AS (SELECT a.source AS src_a, b.source AS src_b, count(*) AS c
      |  FROM sg a JOIN sg b ON a.gram = b.gram AND a.source < b.source
      |  GROUP BY 1, 2),
      |px AS (SELECT a.source AS src_a, b.source AS src_b,
      |    a.n AS grams_a, b.n AS grams_b
      |  FROM sz a JOIN sz b ON a.source < b.source)
      |SELECT px.src_a, px.src_b,
      |  CAST(px.grams_a AS BIGINT) AS grams_a,
      |  CAST(px.grams_b AS BIGINT) AS grams_b,
      |  CAST(coalesce(cm.c, 0) AS BIGINT) AS n_common,
      |  CAST((1000000 * coalesce(cm.c, 0)) // px.grams_a AS BIGINT) AS cont_a_ppm,
      |  CAST((1000000 * coalesce(cm.c, 0)) // px.grams_b AS BIGINT) AS cont_b_ppm,
      |  CAST((1000000 * coalesce(cm.c, 0))
      |    // (px.grams_a + px.grams_b - coalesce(cm.c, 0)) AS BIGINT) AS jaccard_ppm
      |FROM px LEFT JOIN cm ON px.src_a = cm.src_a AND px.src_b = cm.src_b
      |ORDER BY px.src_a, px.src_b""".stripMargin

  // ------------------------------------------------------------------ q39
  /** Train/eval split-leakage audit: the q72 deterministic split
    * composed with the q23 EXACT similarity join — every val/test doc
    * that has a char-3-gram Jaccard ≥ 0.5 near-duplicate inside the
    * train split, with its dup count and strongest train partner
    * (ties → lowest train id). The check every pipeline must run AFTER
    * splitting: document-level splits don't stop near-identical pairs
    * from straddling the boundary and inflating eval scores. Exact join
    * ⇒ the all-pairs oracle stays valid. */
  def q39SplitLeakage(s: SparkSession, dir: String): DataFrame = {
    val docs = docsSpread(s, dir)
    val split = graft.curate.Curation.assignSplit(docs, "doc_id",
        Seq(("train", 0.8), ("val", 0.1), ("test", 0.1)))
      .select(col("doc_id"), col("split"))
    // cross-side pair tier: the audit discards same-split pairs and
    // pairs not involving train, so only train x (val|test) pairs are
    // ever needed — jaccardJoinCross skips the ~68 % same-side share
    // of the pair space before scoring (side = the per-row split hash,
    // recomputed in the projection rather than joined back in)
    val pairs = Dedup.jaccardJoinCross(
      graft.curate.Curation.assignSplit(docs, "doc_id",
          Seq(("train", 0.8), ("val", 0.1), ("test", 0.1)))
        .select(col("doc_id").as("id"), col("lang").as("blk"),
          Dedup.charShinglesFrom(TextAnalysis.canonical(col("text")), 3).as("sh"),
          (col("split") === "train").as("side")),
      threshold = 0.5, sideCol = "side")
    graft.dedup.SplitLeakage.audit(pairs, split)
      .orderBy(col("eval_id"))
  }

  val q39Oracle: String =
    """WITH c AS (SELECT doc_id, lang,
      |    trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS ctext
      |  FROM documents),
      |s AS (SELECT doc_id, lang,
      |    list_distinct(list_transform(
      |      generate_series(1, greatest(length(ctext) - 2, 1)),
      |      i -> substr(ctext, i, 3))) AS sh
      |  FROM c),
      |sp AS (SELECT doc_id, CASE
      |    WHEN CAST(CAST(('0x' || substring(md5(doc_id::VARCHAR || 'graft-split'), 1, 8)) AS BIGINT) AS DOUBLE)
      |      / 4294967296.0 < 0.8 THEN 'train'
      |    WHEN CAST(CAST(('0x' || substring(md5(doc_id::VARCHAR || 'graft-split'), 1, 8)) AS BIGINT) AS DOUBLE)
      |      / 4294967296.0 < 0.9 THEN 'val' ELSE 'test' END AS split
      |  FROM documents),
      |p AS (SELECT l.doc_id AS id_a, r.doc_id AS id_b,
      |    round(CAST(len(list_intersect(l.sh, r.sh)) AS DOUBLE)
      |      / CAST(len(l.sh) + len(r.sh) - len(list_intersect(l.sh, r.sh)) AS DOUBLE), 6) AS sim
      |  FROM s l JOIN s r ON l.lang = r.lang AND l.doc_id < r.doc_id
      |  WHERE round(CAST(len(list_intersect(l.sh, r.sh)) AS DOUBLE)
      |      / CAST(len(l.sh) + len(r.sh) - len(list_intersect(l.sh, r.sh)) AS DOUBLE), 6) >= 0.5),
      |o AS (SELECT
      |    CASE WHEN sa.split = 'train' THEN p.id_b ELSE p.id_a END AS eval_id,
      |    CASE WHEN sa.split = 'train' THEN sb.split ELSE sa.split END AS eval_split,
      |    CASE WHEN sa.split = 'train' THEN p.id_a ELSE p.id_b END AS train_id,
      |    p.sim
      |  FROM p JOIN sp sa ON p.id_a = sa.doc_id JOIN sp sb ON p.id_b = sb.doc_id
      |  WHERE sa.split != sb.split AND (sa.split = 'train' OR sb.split = 'train')),
      |best AS (SELECT eval_id, eval_split, train_id AS best_train_id, sim AS best_sim FROM o
      |  QUALIFY row_number() OVER (PARTITION BY eval_id ORDER BY sim DESC, train_id) = 1),
      |cnt AS (SELECT eval_id, CAST(count(*) AS BIGINT) AS n_train_dups FROM o GROUP BY 1)
      |SELECT b.eval_id, b.eval_split, cnt.n_train_dups, b.best_train_id, b.best_sim
      |FROM best b JOIN cnt USING (eval_id) ORDER BY eval_id""".stripMargin

  // ----------------------------------------------------------------- q100
  /** Hashed Naive-Bayes source classifier
    * ([[graft.curate.Classifier]]): the fasttext-style linear
    * classifier stage LLM pipelines use for quality/domain filtering,
    * trained per-source over 1024 hashed unigram buckets and rolled up
    * to the source-confusion matrix (which domain labels are
    * separable). Same integer micro-nat contract as q34/q35 — the
    * per-(class, bucket) log-likelihood and per-class prior round once
    * on the dense S·B model table, per-doc scores are BIGINT dot
    * products, and the argmax ties to the lowest class name — so the
    * DuckDB oracle hash-matches. */
  def q100SourceClassifier(s: SparkSession, dir: String): DataFrame =
    graft.curate.Classifier.confusionMatrix(
        docsSpread(s, dir), "doc_id", "text", "source")
      .orderBy(col("actual"), col("predicted"))

  /** The q100 hashed-NB CTE chain through the per-(doc, class) score
    * table `perclass`, shared with q120's calibration oracle. */
  private val nbCtes: String =
    """toks AS (SELECT doc_id, source,
      |    unnest(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')) AS token
      |  FROM documents),
      |t AS (SELECT doc_id, source AS cls,
      |    CAST(('0x' || substring(md5(token), 1, 8)) AS BIGINT) % 1024 AS b
      |  FROM toks WHERE len(token) > 0),
      |docn AS (SELECT cls, count(*) AS n_docs
      |  FROM (SELECT DISTINCT doc_id, cls FROM t) GROUP BY cls),
      |n AS (SELECT sum(n_docs) AS n FROM docn),
      |cnt AS (SELECT cls, b, count(*) AS c FROM t GROUP BY cls, b),
      |tot AS (SELECT cls, sum(c) AS tot FROM cnt GROUP BY cls),
      |model AS (SELECT d.cls, gs.b,
      |    CAST(round(1e6 * ln((coalesce(cnt.c, 0) + 1.0) / (tot.tot + 1024))) AS BIGINT) AS lp,
      |    CAST(round(1e6 * ln(d.n_docs / n.n)) AS BIGINT) AS pr
      |  FROM docn d
      |  CROSS JOIN (SELECT unnest(range(0, 1024)) AS b) gs
      |  JOIN tot ON tot.cls = d.cls
      |  LEFT JOIN cnt ON cnt.cls = d.cls AND cnt.b = gs.b
      |  CROSS JOIN n),
      |hist AS (SELECT doc_id, cls AS actual, b, count(*) AS nb
      |  FROM t GROUP BY doc_id, cls, b),
      |perclass AS (SELECT hist.doc_id, hist.actual, model.cls,
      |    sum(hist.nb * model.lp) + any_value(model.pr) AS score
      |  FROM hist JOIN model ON hist.b = model.b
      |  GROUP BY hist.doc_id, hist.actual, model.cls)""".stripMargin

  val q100Oracle: String =
    s"""WITH $nbCtes,
       |ranked AS (SELECT doc_id, actual, cls,
       |    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, cls ASC) AS rn
       |  FROM perclass)
       |SELECT actual, cls AS predicted, CAST(count(*) AS BIGINT) AS n_docs
       |FROM ranked WHERE rn = 1
       |GROUP BY actual, cls
       |ORDER BY actual, predicted""".stripMargin

  // ----------------------------------------------------------------- q101
  /** Per-source token-distribution drift ([[graft.curate.Drift]]):
    * smoothed KL(source ‖ corpus) over 1024 hashed unigram buckets in
    * integer micro-nats — the mixture-design diagnostic ranking
    * sources by how far their language sits from the blend. Per-cell
    * KL terms round once on the dense S·B metadata table; the
    * per-source rollup is a BIGINT sum, so the DuckDB oracle
    * hash-matches. */
  def q101SourceDrift(s: SparkSession, dir: String): DataFrame =
    graft.curate.Drift.sourceDrift(
        docsSpread(s, dir), "doc_id", "text", "source")
      .orderBy(col("source"))

  val q101Oracle: String =
    """WITH toks AS (SELECT doc_id, source,
      |    unnest(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')) AS token
      |  FROM documents),
      |t AS (SELECT source AS cls,
      |    CAST(('0x' || substring(md5(token), 1, 8)) AS BIGINT) % 1024 AS b
      |  FROM toks WHERE len(token) > 0),
      |cnt AS (SELECT cls, b, count(*) AS c FROM t GROUP BY cls, b),
      |corpus AS (SELECT b, sum(c) AS c_all FROM cnt GROUP BY b),
      |tot AS (SELECT cls, sum(c) AS tot_s FROM cnt GROUP BY cls),
      |n AS (SELECT sum(c) AS tot FROM cnt),
      |cell AS (SELECT tot.cls, tot.tot_s,
      |    CAST(round(1e6
      |      * ((coalesce(cnt.c, 0) + 1.0) / (tot.tot_s + 1024))
      |      * ln(((coalesce(cnt.c, 0) + 1.0) / (tot.tot_s + 1024))
      |         / ((coalesce(corpus.c_all, 0) + 1.0) / (n.tot + 1024)))) AS BIGINT)
      |      AS term
      |  FROM tot
      |  CROSS JOIN (SELECT unnest(range(0, 1024)) AS b) gs
      |  LEFT JOIN cnt ON cnt.cls = tot.cls AND cnt.b = gs.b
      |  LEFT JOIN corpus ON corpus.b = gs.b
      |  CROSS JOIN n)
      |SELECT cls AS source,
      |  CAST(any_value(tot_s) AS BIGINT) AS n_tokens,
      |  CAST(sum(term) AS BIGINT) AS kl_micro
      |FROM cell GROUP BY cls ORDER BY source""".stripMargin

  // ----------------------------------------------------------------- q102
  /** BPE merge-round pair statistics ([[graft.text.BpeStats]]): every
    * adjacent character pair inside every canonical-token occurrence,
    * counted exactly and ranked (count desc, pair asc) — rank 1 is the
    * tokenizer's next merge. The counting stage of distributed BPE
    * training: partial aggregation collapses the corpus to a ≤ 36²-row
    * pair table before any exchange, so the plan is corpus-scale scan +
    * metadata shuffle at any size. Exact BIGINTs, deterministic ties →
    * hash-exact oracle. */
  def q102BpePairs(s: SparkSession, dir: String): DataFrame =
    graft.text.BpeStats.pairCounts(docsSpread(s, dir), "doc_id", "text")
      .orderBy(col("pair"))

  val q102Oracle: String =
    """WITH toks AS (SELECT doc_id,
      |    unnest(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')) AS tok
      |  FROM documents),
      |t AS (SELECT doc_id, tok FROM toks WHERE length(tok) >= 2),
      |p AS (SELECT doc_id, substring(tok, i, 2) AS pair
      |  FROM t, unnest(generate_series(1, length(tok) - 1)) AS g(i)),
      |c AS (SELECT pair, CAST(count(*) AS BIGINT) AS n,
      |    CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
      |  FROM p GROUP BY pair)
      |SELECT pair, n, n_docs,
      |  CAST(row_number() OVER (ORDER BY n DESC, pair) AS INTEGER) AS rank
      |FROM c ORDER BY pair""".stripMargin

  // ----------------------------------------------------------------- q103
  /** Unicode NFC normalization audit ([[graft.expressions.NfcNormalize]],
    * codegen'd JDK Normalizer — no UDF): per-source counts of docs whose
    * text is not canonically composed, plus the codepoint shrink from
    * recomposition. The corpus is pure ASCII (already NFC), so the query
    * PLANTS canonical-equivalence noise in-query — every 'a' gains a
    * COMBINING ACUTE (U+0301), which NFC must recompose to the
    * precomposed 'á' — making the normalization measurable while both
    * engines derive the identical input from the same table. Counts and
    * codepoint lengths are exact integers → hash-exact oracle. */
  def q103NfcNormalize(s: SparkSession, dir: String): DataFrame = {
    import graft.expressions.NfcNormalize.nfc
    docsSpread(s, dir)
      .select(col("source"),
        replace(col("text"), lit("a"), lit("a\u0301")).as("p"))
      .select(col("source"), col("p"), nfc(col("p")).as("norm"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).cast("long").as("n_docs"),
        sum(when(col("p") =!= col("norm"), 1).otherwise(0)).cast("long")
          .as("n_denorm"),
        sum(length(col("p"))).cast("long").as("chars_in"),
        sum(length(col("norm"))).cast("long").as("chars_out"))
      .withColumn("chars_removed", col("chars_in") - col("chars_out"))
      .orderBy(col("source"))
  }

  val q103Oracle: String =
    """WITH d AS (SELECT source, replace(text, 'a', 'a' || chr(769)) AS p
      |  FROM documents),
      |n AS (SELECT source, p, nfc_normalize(p) AS norm FROM d)
      |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(CASE WHEN p != norm THEN 1 ELSE 0 END) AS BIGINT) AS n_denorm,
      |  CAST(sum(length(p)) AS BIGINT) AS chars_in,
      |  CAST(sum(length(norm)) AS BIGINT) AS chars_out,
      |  CAST(sum(length(p)) - sum(length(norm)) AS BIGINT) AS chars_removed
      |FROM n GROUP BY source ORDER BY source""".stripMargin

  // ----------------------------------------------------------------- q104
  /** Temperature-scaled mixture sampling
    * ([[graft.curate.Curation.temperatureMixture]]): per-source target
    * weights derived from the corpus itself — token share raised to
    * α = 0.5 and renormalized (the XLM/mT5 low-resource upsampling
    * rule) — then the same budgeted by-value Bernoulli selection as
    * q97. sqrt is IEEE-exact and the weight numerator rounds once to
    * integer micro-units, so the whole derivation is hash-exact. */
  def q104TemperatureMixture(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .withColumn("n_tokens",
        TextAnalysis.tokenCount(col("text")).cast("long"))
    graft.curate.Curation.temperatureMixture(
        docs, "doc_id", "source", "n_tokens", tokenBudget = 5000L)
      .select(col("doc_id"), col("source"), col("n_tokens"),
        col("weight_ppm"), round(col("sample_rate"), 6).as("sample_rate"))
      .orderBy(col("doc_id"))
  }

  val q104Oracle: String =
    """WITH t AS (SELECT doc_id, source,
      |    CAST(len(regexp_extract_all(text, '[^ \t\n\r]+')) AS BIGINT) AS n_tokens,
      |    CAST(CAST(('0x' || substring(md5(doc_id::VARCHAR || 'graft'), 1, 8)) AS BIGINT) AS DOUBLE) AS hk
      |  FROM documents),
      |a AS (SELECT source, CAST(sum(n_tokens) AS BIGINT) AS avail,
      |    CAST(round(1e6 * sqrt(CAST(sum(n_tokens) AS DOUBLE))) AS BIGINT) AS sq
      |  FROM t GROUP BY source),
      |tot AS (SELECT CAST(sum(sq) AS BIGINT) AS tot FROM a),
      |r AS (SELECT a.source,
      |    CAST((1000000 * a.sq) // tot.tot AS BIGINT) AS weight_ppm,
      |    least(1.0, (5000.0 * CAST(a.sq AS DOUBLE) / CAST(tot.tot AS DOUBLE))
      |      / CAST(a.avail AS DOUBLE)) AS rate
      |  FROM a, tot)
      |SELECT t.doc_id, t.source, t.n_tokens, r.weight_ppm,
      |  round(r.rate, 6) AS sample_rate
      |FROM t JOIN r ON t.source = r.source
      |WHERE t.hk < r.rate * 4294967296.0
      |ORDER BY t.doc_id""".stripMargin

  // ----------------------------------------------------------------- q105
  /** Filter-ablation matrix ([[graft.curate.FilterAblation]]) over the
    * q46 composite filter's four rules (dup / lang / quality / pii, in
    * the decision's precedence order): per rule, docs flagged at all,
    * drops attributed under first-fail precedence (reconciles with
    * q46's decision counts), and docs dropped by that rule ALONE — the
    * marginal regain if the rule were removed, which attribution hides
    * whenever rules overlap. One corpus aggregate into a single row,
    * unpivoted to the 4-row matrix. Exact counts → hash-exact. */
  def q105FilterAblation(s: SparkSession, dir: String): DataFrame =
    graft.curate.FilterAblation.ablate(
        filterDecisions(s, dir),
        Seq(
          "dup"     -> (col("dup_rank") > 1),
          "lang"    -> (col("pred_lang") === "und"),
          "quality" -> !col("quality_ok"),
          "pii"     -> (col("n_pii") =!= 0)))
      .orderBy(col("rule"))

  lazy val q105Oracle: String =
    s"""WITH $filterDecisionCtes,
       |f AS (SELECT CAST(is_dup AS INT) AS f_dup,
       |    CASE WHEN pred_lang = 'und' THEN 1 ELSE 0 END AS f_lang,
       |    CASE WHEN quality_ok THEN 0 ELSE 1 END AS f_quality,
       |    CASE WHEN pii_ok THEN 0 ELSE 1 END AS f_pii
       |  FROM d),
       |a AS (SELECT
       |    CAST(sum(f_dup) AS BIGINT) AS dup_fl,
       |    CAST(sum(f_dup) AS BIGINT) AS dup_at,
       |    CAST(sum(CASE WHEN f_dup = 1 AND f_lang + f_quality + f_pii = 0 THEN 1 ELSE 0 END) AS BIGINT) AS dup_so,
       |    CAST(sum(f_lang) AS BIGINT) AS lang_fl,
       |    CAST(sum(CASE WHEN f_lang = 1 AND f_dup = 0 THEN 1 ELSE 0 END) AS BIGINT) AS lang_at,
       |    CAST(sum(CASE WHEN f_lang = 1 AND f_dup + f_quality + f_pii = 0 THEN 1 ELSE 0 END) AS BIGINT) AS lang_so,
       |    CAST(sum(f_quality) AS BIGINT) AS quality_fl,
       |    CAST(sum(CASE WHEN f_quality = 1 AND f_dup + f_lang = 0 THEN 1 ELSE 0 END) AS BIGINT) AS quality_at,
       |    CAST(sum(CASE WHEN f_quality = 1 AND f_dup + f_lang + f_pii = 0 THEN 1 ELSE 0 END) AS BIGINT) AS quality_so,
       |    CAST(sum(f_pii) AS BIGINT) AS pii_fl,
       |    CAST(sum(CASE WHEN f_pii = 1 AND f_dup + f_lang + f_quality = 0 THEN 1 ELSE 0 END) AS BIGINT) AS pii_at,
       |    CAST(sum(CASE WHEN f_pii = 1 AND f_dup + f_lang + f_quality = 0 THEN 1 ELSE 0 END) AS BIGINT) AS pii_so
       |  FROM f)
       |SELECT 'dup' AS rule, dup_fl AS n_flagged, dup_at AS n_attributed, dup_so AS n_solo FROM a
       |UNION ALL SELECT 'lang', lang_fl, lang_at, lang_so FROM a
       |UNION ALL SELECT 'pii', pii_fl, pii_at, pii_so FROM a
       |UNION ALL SELECT 'quality', quality_fl, quality_at, quality_so FROM a
       |ORDER BY rule""".stripMargin

  // ----------------------------------------------------------------- q106
  /** Deterministic epoch shuffle
    * ([[graft.curate.Curation.epochShuffle]]): the reproducible
    * data-ordering step of a resumable pretraining run — every doc gets
    * a shard and a dense in-shard position, pure functions of
    * (id, epoch), so a crashed consumer re-derives its exact read
    * position and two engines emit the identical sequence. Positions
    * ride the 256-bucket two-phase prefix sum (no per-shard window
    * funnel). Hash-exact oracle. */
  def q106EpochShuffle(s: SparkSession, dir: String): DataFrame =
    graft.curate.Curation.epochShuffle(
        Tables.documents(s, dir).select(col("doc_id")),
        "doc_id", shards = 8, epoch = 1)
      .select(col("doc_id"), col("shard"), col("shard_pos"))
      .orderBy(col("doc_id"))

  val q106Oracle: String =
    """WITH h AS (SELECT doc_id,
      |    md5(doc_id::VARCHAR || 'graft-epoch-1') AS m FROM documents),
      |s AS (SELECT doc_id, m,
      |    CAST(CAST(('0x' || substring(m, 1, 8)) AS BIGINT) % 8 AS INTEGER) AS shard
      |  FROM h)
      |SELECT doc_id, shard,
      |  CAST(row_number() OVER (PARTITION BY shard ORDER BY m, doc_id) - 1 AS BIGINT) AS shard_pos
      |FROM s ORDER BY doc_id""".stripMargin

  // ----------------------------------------------------------------- q107
  /** Compression-ratio quality signal
    * ([[graft.expressions.DeflateSize]], Gopher/MassiveText-style
    * repetition heuristic): per-source DEFLATE ratio rollup — natural
    * text sits mid-range, degenerate repetition near zero, random blobs
    * near one — one narrow codegen'd pass, no tokenization. zlib output
    * length has no ANSI-SQL equivalent, so there is NO DuckDB oracle
    * (rows-only driver check, the q21 convention) and the query plants
    * its own proof: a 400-char single-letter doc must land below
    * 0.15 ratio and a seeded high-entropy doc above 0.7, asserted by
    * the in-result `planted_ok`. */
  def q107CompressRatio(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.expressions.DeflateSize.deflateSize
    // seeded java.util.Random is LCG-specified, so the high-entropy
    // payload is identical on every JVM
    val rnd = new java.util.Random(0xC0FFEE)
    val noisy = (0 until 256).map(_ => (33 + rnd.nextInt(94)).toChar).mkString
    val planted = Seq(
      (-300L, "a" * 400, "planted_low"),
      (-301L, noisy, "planted_high")).toDF("doc_id", "text", "source")
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("text"), col("source"))
      .unionByName(planted)
    val rollup = docs
      .select(col("source"),
        octet_length(col("text")).cast("long").as("_b"),
        deflateSize(col("text")).cast("long").as("_z"))
      .groupBy(col("source"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(col("_b")).as("sum_bytes"),
        sum(col("_z")).as("sum_deflate"))
      .withColumn("avg_ratio_ppm", expr("(1000000L * sum_deflate) div sum_bytes"))
    val o = graft.util.Blocks.lazyCheckpoint(rollup)
    o.crossJoin(broadcast(o.agg(
        (coalesce(max(when(col("source") === "planted_low"
            && col("avg_ratio_ppm") < 150000L, true)), lit(false)) &&
          coalesce(max(when(col("source") === "planted_high"
            && col("avg_ratio_ppm") > 700000L, true)), lit(false)))
          .as("planted_ok"))))
      .orderBy(col("source"))
  }

  // ----------------------------------------------------------------- q108
  /** Iterative BPE merge training ([[graft.text.BpeStats.merges]]):
    * three merge rounds over the corpus — each counts adjacent symbol
    * pairs weighted by word frequency, merges the winner (ties → lexic.
    * smallest) and re-segments. One corpus pass collapses to the
    * vocab-sized word-frequency table; every round runs over the vocab
    * alone, with the winning pair the only driver materialization
    * (1 row/round, the q36-centroid bound). The merge-application
    * contract (4 leftmost-non-overlapping replace passes over
    * sentinel-padded symbol strings) is engine-exact, so the decision
    * sequence hash-matches the unrolled DuckDB oracle. */
  def q108BpeMerges(s: SparkSession, dir: String): DataFrame =
    graft.text.BpeStats.merges(docsSpread(s, dir), "doc_id", "text",
        rounds = 3)
      .orderBy(col("round"))

  val q108Oracle: String =
    """WITH toks AS (SELECT unnest(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')) AS w
      |  FROM documents),
      |v AS (SELECT w, CAST(count(*) AS BIGINT) AS wc FROM toks
      |  WHERE length(w) >= 2 GROUP BY w),
      |s0 AS (SELECT ' ' || trim(regexp_replace(w, '(.)', '\1 ', 'g')) || ' ' AS sym, wc FROM v),
      |x1 AS (SELECT string_split(trim(sym), ' ') AS t, wc FROM s0),
      |p1 AS (SELECT t[i] || ' ' || t[i+1] AS pair, CAST(sum(wc) AS BIGINT) AS n
      |  FROM x1, unnest(generate_series(1, len(t) - 1)) AS g(i) GROUP BY 1),
      |t1 AS (SELECT pair, n FROM p1 ORDER BY n DESC, pair LIMIT 1),
      |s1 AS (SELECT replace(replace(replace(replace(sym,
      |    ' ' || t1.pair || ' ', ' ' || replace(t1.pair, ' ', '') || ' '),
      |    ' ' || t1.pair || ' ', ' ' || replace(t1.pair, ' ', '') || ' '),
      |    ' ' || t1.pair || ' ', ' ' || replace(t1.pair, ' ', '') || ' '),
      |    ' ' || t1.pair || ' ', ' ' || replace(t1.pair, ' ', '') || ' ') AS sym, wc
      |  FROM s0, t1),
      |x2 AS (SELECT string_split(trim(sym), ' ') AS t, wc FROM s1),
      |p2 AS (SELECT t[i] || ' ' || t[i+1] AS pair, CAST(sum(wc) AS BIGINT) AS n
      |  FROM x2, unnest(generate_series(1, len(t) - 1)) AS g(i) GROUP BY 1),
      |t2 AS (SELECT pair, n FROM p2 ORDER BY n DESC, pair LIMIT 1),
      |s2 AS (SELECT replace(replace(replace(replace(sym,
      |    ' ' || t2.pair || ' ', ' ' || replace(t2.pair, ' ', '') || ' '),
      |    ' ' || t2.pair || ' ', ' ' || replace(t2.pair, ' ', '') || ' '),
      |    ' ' || t2.pair || ' ', ' ' || replace(t2.pair, ' ', '') || ' '),
      |    ' ' || t2.pair || ' ', ' ' || replace(t2.pair, ' ', '') || ' ') AS sym, wc
      |  FROM s1, t2),
      |x3 AS (SELECT string_split(trim(sym), ' ') AS t, wc FROM s2),
      |p3 AS (SELECT t[i] || ' ' || t[i+1] AS pair, CAST(sum(wc) AS BIGINT) AS n
      |  FROM x3, unnest(generate_series(1, len(t) - 1)) AS g(i) GROUP BY 1),
      |t3 AS (SELECT pair, n FROM p3 ORDER BY n DESC, pair LIMIT 1)
      |SELECT 1 AS round, pair, replace(pair, ' ', '') AS merged, n FROM t1
      |UNION ALL SELECT 2, pair, replace(pair, ' ', ''), n FROM t2
      |UNION ALL SELECT 3, pair, replace(pair, ' ', ''), n FROM t3
      |ORDER BY round""".stripMargin

  // ----------------------------------------------------------------- q109
  /** Shard manifest ([[graft.curate.Curation.shardManifest]]) for the
    * q106 epoch's shards: per-shard doc count, token mass, id range and
    * an order-independent XOR content fingerprint — the artifact two
    * training stacks compare to prove they read byte-identical data.
    * One map-side-combinable aggregate, |shards| rows. Hash-exact
    * oracle (the 60-bit per-doc hash keeps the XOR inside a signed
    * BIGINT on both engines). */
  def q109ShardManifest(s: SparkSession, dir: String): DataFrame =
    graft.curate.Curation.shardManifest(
        Tables.documents(s, dir)
          .withColumn("n_tokens",
            TextAnalysis.tokenCount(col("text")).cast("long")),
        "doc_id", "text", "n_tokens", shards = 8, epoch = 1)
      .orderBy(col("shard"))

  val q109Oracle: String =
    """WITH d AS (SELECT doc_id, text,
      |    CAST(len(regexp_extract_all(text, '[^ \t\n\r]+')) AS BIGINT) AS n_tokens,
      |    CAST(CAST(('0x' || substring(md5(doc_id::VARCHAR || 'graft-epoch-1'), 1, 8)) AS BIGINT) % 8 AS INTEGER) AS shard,
      |    CAST(('0x' || substring(md5(doc_id::VARCHAR || ':' || md5(text)), 1, 15)) AS BIGINT) AS fp
      |  FROM documents)
      |SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
      |  bit_xor(fp) AS content_fp,
      |  min(doc_id) AS min_id, max(doc_id) AS max_id
      |FROM d GROUP BY shard ORDER BY shard""".stripMargin

  // ----------------------------------------------------------------- q110
  /** The Gopher quality rule pack ([[graft.text.GopherRules]]): the
    * canonical 7-rule heuristic filter (word count, mean word length,
    * symbol ratio, bullet/ellipsis line fractions, alpha-word fraction,
    * stop-word presence) per document, with five planted docs each
    * tripping a different rule so every branch is provably exercised on
    * the single-line synthetic corpus. Word-count/stop-word thresholds
    * scaled to the corpus (the paper's assume web documents); all
    * ratios round once to 6 places — hash-exact oracle. */
  def q110GopherRules(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val planted = Seq(
      (-400L, "- item one\n- item two\n- item three"),
      (-401L, "read more...\nsee details...\nthe end of that line"),
      (-402L, "### tags ### of ### the ### feed"),
      (-403L, "too short"),
      (-404L, Seq.fill(6)("pneumonoultramicroscopicsilicovolcanoconiosis")
        .mkString(" "))).toDF("doc_id", "text")
    // annotate each side before the union: the planted rows are a
    // local relation of several partitions, which would hide the
    // one-task corpus scan from annotate's partition count
    val rules = (d: DataFrame) => graft.text.GopherRules.annotate(d, "text",
      graft.text.GopherRules.Thresholds(minWords = 5, minStopWords = 1))
    rules(Tables.documents(s, dir).select(col("doc_id"), col("text")))
      .unionByName(rules(planted))
      .select(col("doc_id"), col("n_words"), col("mean_word_len"),
        col("symbol_ratio"), col("bullet_frac"), col("ellipsis_frac"),
        col("alpha_word_frac"), col("n_stop_words"),
        col("r_words"), col("r_mean_len"), col("r_symbols"),
        col("r_bullets"), col("r_ellipsis"), col("r_alpha"), col("r_stop"),
        col("gopher_ok"))
      .orderBy(col("doc_id"))
  }

  val q110Oracle: String = {
    val stopTerms = graft.text.GopherRules.StopWords.map { w =>
      s"CASE WHEN len(regexp_extract_all(lower(text), '(^|[^a-z0-9])$w([^a-z0-9]|$$)')) > 0 THEN 1 ELSE 0 END"
    }.mkString(" + ")
    s"""WITH u AS (SELECT doc_id, text FROM documents
       |  UNION ALL SELECT -400, '- item one' || chr(10) || '- item two' || chr(10) || '- item three'
       |  UNION ALL SELECT -401, 'read more...' || chr(10) || 'see details...' || chr(10) || 'the end of that line'
       |  UNION ALL SELECT -402, '### tags ### of ### the ### feed'
       |  UNION ALL SELECT -403, 'too short'
       |  UNION ALL SELECT -404, repeat('pneumonoultramicroscopicsilicovolcanoconiosis ', 5) || 'pneumonoultramicroscopicsilicovolcanoconiosis'),
       |m AS (SELECT doc_id, text,
       |    CAST(len(regexp_extract_all(text, '[^ \\t\\n\\r]+')) AS BIGINT) AS n_words,
       |    CAST(len(string_split(text, chr(10))) AS BIGINT) AS n_lines
       |  FROM u),
       |r AS (SELECT doc_id, n_words,
       |    round(CASE WHEN n_words > 0 THEN CAST(length(regexp_replace(text, '[ \\t\\n\\r]+', '', 'g')) AS DOUBLE) / n_words ELSE 0.0 END, 6) AS mean_word_len,
       |    round(CASE WHEN n_words > 0 THEN CAST(len(regexp_extract_all(text, '#|\\.\\.\\.')) AS DOUBLE) / n_words ELSE 0.0 END, 6) AS symbol_ratio,
       |    round(CAST(len(regexp_extract_all(text, '(^|\\n)[ \\t]*[-*]')) AS DOUBLE) / n_lines, 6) AS bullet_frac,
       |    round(CAST(len(regexp_extract_all(text, '\\.\\.\\.(\\n|$$)')) AS DOUBLE) / n_lines, 6) AS ellipsis_frac,
       |    round(CASE WHEN n_words > 0 THEN CAST(len(regexp_extract_all(text, '[^ \\t\\n\\r]*[a-zA-Z][^ \\t\\n\\r]*')) AS DOUBLE) / n_words ELSE 0.0 END, 6) AS alpha_word_frac,
       |    CAST($stopTerms AS INTEGER) AS n_stop_words
       |  FROM m)
       |SELECT doc_id, n_words, mean_word_len, symbol_ratio, bullet_frac,
       |  ellipsis_frac, alpha_word_frac, n_stop_words,
       |  (n_words >= 5 AND n_words <= 100000) AS r_words,
       |  (mean_word_len >= 3.0 AND mean_word_len <= 10.0) AS r_mean_len,
       |  (symbol_ratio <= 0.1) AS r_symbols,
       |  (bullet_frac <= 0.9) AS r_bullets,
       |  (ellipsis_frac <= 0.3) AS r_ellipsis,
       |  (alpha_word_frac >= 0.8) AS r_alpha,
       |  (n_stop_words >= 1) AS r_stop,
       |  (n_words >= 5 AND n_words <= 100000
       |    AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
       |    AND symbol_ratio <= 0.1 AND bullet_frac <= 0.9
       |    AND ellipsis_frac <= 0.3 AND alpha_word_frac >= 0.8
       |    AND n_stop_words >= 1) AS gopher_ok
       |FROM r ORDER BY doc_id""".stripMargin
  }

  // ----------------------------------------------------------------- q111
  /** BPE encode statistics ([[graft.text.BpeStats.encodeStats]]): the
    * q108-trained merges applied back to the corpus — per-doc token
    * count, character-symbol baseline, post-BPE symbol count and the
    * integer-ppm saving. The real context-window cost of each document
    * under the learned tokenizer (q42's regex count is a proxy; this is
    * the trained artifact applied). Merge decisions ride as literals,
    * so the encode pass is a narrow codegen'd replace chain + one
    * doc-keyed aggregate — hash-exact against the oracle that re-walks
    * the same three training rounds and the same replace application. */
  def q111BpeEncode(s: SparkSession, dir: String): DataFrame =
    graft.text.BpeStats.encodeStats(docsSpread(s, dir), "doc_id", "text",
        rounds = 3)
      .orderBy(col("doc_id"))

  val q111Oracle: String =
    """WITH toks AS (SELECT unnest(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')) AS w
      |  FROM documents),
      |v AS (SELECT w, CAST(count(*) AS BIGINT) AS wc FROM toks
      |  WHERE length(w) >= 2 GROUP BY w),
      |s0 AS (SELECT ' ' || trim(regexp_replace(w, '(.)', '\1 ', 'g')) || ' ' AS sym, wc FROM v),
      |x1 AS (SELECT string_split(trim(sym), ' ') AS t, wc FROM s0),
      |p1 AS (SELECT t[i] || ' ' || t[i+1] AS pair, CAST(sum(wc) AS BIGINT) AS n
      |  FROM x1, unnest(generate_series(1, len(t) - 1)) AS g(i) GROUP BY 1),
      |t1 AS (SELECT pair, n FROM p1 ORDER BY n DESC, pair LIMIT 1),
      |s1 AS (SELECT replace(replace(replace(replace(sym,
      |    ' ' || t1.pair || ' ', ' ' || replace(t1.pair, ' ', '') || ' '),
      |    ' ' || t1.pair || ' ', ' ' || replace(t1.pair, ' ', '') || ' '),
      |    ' ' || t1.pair || ' ', ' ' || replace(t1.pair, ' ', '') || ' '),
      |    ' ' || t1.pair || ' ', ' ' || replace(t1.pair, ' ', '') || ' ') AS sym, wc
      |  FROM s0, t1),
      |x2 AS (SELECT string_split(trim(sym), ' ') AS t, wc FROM s1),
      |p2 AS (SELECT t[i] || ' ' || t[i+1] AS pair, CAST(sum(wc) AS BIGINT) AS n
      |  FROM x2, unnest(generate_series(1, len(t) - 1)) AS g(i) GROUP BY 1),
      |t2 AS (SELECT pair, n FROM p2 ORDER BY n DESC, pair LIMIT 1),
      |s2 AS (SELECT replace(replace(replace(replace(sym,
      |    ' ' || t2.pair || ' ', ' ' || replace(t2.pair, ' ', '') || ' '),
      |    ' ' || t2.pair || ' ', ' ' || replace(t2.pair, ' ', '') || ' '),
      |    ' ' || t2.pair || ' ', ' ' || replace(t2.pair, ' ', '') || ' '),
      |    ' ' || t2.pair || ' ', ' ' || replace(t2.pair, ' ', '') || ' ') AS sym, wc
      |  FROM s1, t2),
      |x3 AS (SELECT string_split(trim(sym), ' ') AS t, wc FROM s2),
      |p3 AS (SELECT t[i] || ' ' || t[i+1] AS pair, CAST(sum(wc) AS BIGINT) AS n
      |  FROM x3, unnest(generate_series(1, len(t) - 1)) AS g(i) GROUP BY 1),
      |t3 AS (SELECT pair, n FROM p3 ORDER BY n DESC, pair LIMIT 1),
      |dt AS (SELECT doc_id, unnest(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')) AS w
      |  FROM documents),
      |e0 AS (SELECT doc_id, CAST(length(w) AS BIGINT) AS n_char,
      |    ' ' || trim(regexp_replace(w, '(.)', '\1 ', 'g')) || ' ' AS sym
      |  FROM dt WHERE length(w) >= 1),
      |e1 AS (SELECT doc_id, n_char, replace(replace(replace(replace(sym,
      |    ' ' || t1.pair || ' ', ' ' || replace(t1.pair, ' ', '') || ' '),
      |    ' ' || t1.pair || ' ', ' ' || replace(t1.pair, ' ', '') || ' '),
      |    ' ' || t1.pair || ' ', ' ' || replace(t1.pair, ' ', '') || ' '),
      |    ' ' || t1.pair || ' ', ' ' || replace(t1.pair, ' ', '') || ' ') AS sym
      |  FROM e0, t1),
      |e2 AS (SELECT doc_id, n_char, replace(replace(replace(replace(sym,
      |    ' ' || t2.pair || ' ', ' ' || replace(t2.pair, ' ', '') || ' '),
      |    ' ' || t2.pair || ' ', ' ' || replace(t2.pair, ' ', '') || ' '),
      |    ' ' || t2.pair || ' ', ' ' || replace(t2.pair, ' ', '') || ' '),
      |    ' ' || t2.pair || ' ', ' ' || replace(t2.pair, ' ', '') || ' ') AS sym
      |  FROM e1, t2),
      |e3 AS (SELECT doc_id, n_char, replace(replace(replace(replace(sym,
      |    ' ' || t3.pair || ' ', ' ' || replace(t3.pair, ' ', '') || ' '),
      |    ' ' || t3.pair || ' ', ' ' || replace(t3.pair, ' ', '') || ' '),
      |    ' ' || t3.pair || ' ', ' ' || replace(t3.pair, ' ', '') || ' '),
      |    ' ' || t3.pair || ' ', ' ' || replace(t3.pair, ' ', '') || ' ') AS sym
      |  FROM e2, t3)
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
      |  CAST(sum(n_char) AS BIGINT) AS n_char_symbols,
      |  CAST(sum(len(string_split(trim(sym), ' '))) AS BIGINT) AS n_bpe_symbols,
      |  CAST((1000000 * (sum(n_char) - sum(len(string_split(trim(sym), ' ')))))
      |    // sum(n_char) AS BIGINT) AS saved_ppm
      |FROM e3 GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ----------------------------------------------------------------- q112
  /** CCNet-style perplexity bucketing: the q35 hashed-bigram LM scores
    * split per source into head/middle/tail at the tertile boundaries
    * ([[graft.curate.Curation.tertileBuckets]] — the exact tier here;
    * approx_percentile is the registered 100 TB path), rolled up to
    * (source, bucket) doc counts + mean NLL. The corpus-mixing split
    * CCNet feeds downstream (keep head, subsample tail). Integer
    * micro-nat scores + 6-place-rounded tertiles + exact integer mean
    * division → hash-exact oracle. */
  def q112PplBuckets(s: SparkSession, dir: String): DataFrame = {
    val scored = graft.text.NgramLm
      .perplexityFilter(docsSpread(s, dir), "doc_id", "text")
      .select(col("doc_id"), col("avg_nll_micro"))
    val withSrc = scored.join(
      Tables.documents(s, dir).select(col("doc_id"), col("source")), "doc_id")
    graft.curate.Curation.tertileBuckets(withSrc, "source", "avg_nll_micro")
      .groupBy(col("source"), col("bucket"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(col("avg_nll_micro")).as("_s"))
      .withColumn("mean_nll_micro", expr("_s div n_docs"))
      .drop("_s")
      .orderBy(col("source"), col("bucket"))
  }

  val q112Oracle: String =
    """WITH toks AS (SELECT doc_id, list_filter(
      |    string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' '),
      |    t -> len(t) > 0) AS l
      |  FROM documents),
      |bl AS (SELECT doc_id, list_transform(l,
      |    t -> CAST(('0x' || substring(md5(t), 1, 8)) AS BIGINT) % 256) AS b
      |  FROM toks WHERE len(l) >= 2),
      |pairs AS (SELECT doc_id,
      |    unnest(b[1:len(b)-1]) AS b1, unnest(b[2:len(b)]) AS b2 FROM bl),
      |bi AS (SELECT b1, b2, count(*) AS c_bi FROM pairs GROUP BY b1, b2),
      |uni AS (SELECT b1, sum(c_bi) AS c_uni FROM bi GROUP BY b1),
      |score AS (SELECT bi.b1, bi.b2,
      |    CAST(round(-1e6 * ln((bi.c_bi + 1.0) / (uni.c_uni + 256))) AS BIGINT) AS nll_micro
      |  FROM bi JOIN uni ON bi.b1 = uni.b1),
      |agg AS (SELECT pairs.doc_id,
      |    CAST(count(*) AS BIGINT) AS n_bigrams,
      |    CAST(sum(score.nll_micro) AS BIGINT) AS nll_micro_sum
      |  FROM pairs JOIN score ON pairs.b1 = score.b1 AND pairs.b2 = score.b2
      |  GROUP BY pairs.doc_id),
      |d AS (SELECT agg.doc_id, documents.source,
      |    agg.nll_micro_sum // agg.n_bigrams AS v
      |  FROM agg JOIN documents USING (doc_id)),
      |q AS (SELECT source,
      |    round(quantile_cont(CAST(v AS DOUBLE), 0.3333333333333333), 6) AS q1,
      |    round(quantile_cont(CAST(v AS DOUBLE), 0.6666666666666666), 6) AS q2
      |  FROM d GROUP BY source),
      |b AS (SELECT d.source,
      |    CASE WHEN d.v <= q.q1 THEN 'head'
      |      WHEN d.v <= q.q2 THEN 'middle' ELSE 'tail' END AS bucket, d.v
      |  FROM d JOIN q USING (source))
      |SELECT source, bucket, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(v) // count(*) AS BIGINT) AS mean_nll_micro
      |FROM b GROUP BY source, bucket ORDER BY source, bucket""".stripMargin

  // ------------------------------------------------------------------ q26
  /** Near-dup pairs → clusters → canonical doc: connected components
    * over the q23 similarity graph ([[Dedup.connectedComponents]]).
    * Every real dedup pipeline needs this step — pairs (a,b),(b,c) must
    * collapse into ONE cluster keeping one representative, which no
    * per-pair operator provides. Exact (min reachable id), so the
    * DuckDB recursive-CTE oracle hash-matches. */
  def q26DedupClusters(s: SparkSession, dir: String): DataFrame = {
    // cluster consumer → the connectivity-preserving forest tier:
    // identical components, ~20× fewer materialized pair rows
    val pairs = Dedup.jaccardForestPairs(
      docsSpread(s, dir)
        .select(col("doc_id").as("id"), col("lang").as("blk"),
          TextAnalysis.canonical(col("text")).as("ct"))
        .select(col("id"), col("blk"),
          Dedup.charShinglesFrom(col("ct"), 3).as("sh")),
      threshold = 0.5)
    val comp = Dedup.connectedComponents(
      pairs.select(col("id_a"), col("id_b")))
    // connectedComponents returned an already-materialized result, so
    // the pair list's checkpoint blocks are dead weight from here on
    graft.util.Blocks.release(pairs)
    comp
      .select(col("id").as("doc_id"), col("comp").as("cluster_id"))
      .withColumn("cluster_size",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("cluster_id"))))
      .orderBy(col("doc_id"))
  }

  val q26Oracle: String =
    """WITH RECURSIVE c AS (SELECT doc_id, lang,
      |    trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS ctext
      |  FROM documents),
      |s AS (SELECT doc_id, lang,
      |    list_distinct(list_transform(
      |      generate_series(1, greatest(length(ctext) - 2, 1)),
      |      i -> substr(ctext, i, 3))) AS sh
      |  FROM c),
      |p AS (SELECT l.doc_id AS a, r.doc_id AS b
      |  FROM s l JOIN s r ON l.lang = r.lang AND l.doc_id < r.doc_id
      |  WHERE round(CAST(len(list_intersect(l.sh, r.sh)) AS DOUBLE)
      |    / CAST(len(l.sh) + len(r.sh) - len(list_intersect(l.sh, r.sh)) AS DOUBLE), 6) >= 0.5),
      |bi(u, v) AS (SELECT a, b FROM p UNION SELECT b, a FROM p),
      |r(src, reach) AS (
      |  SELECT u, u FROM bi
      |  UNION
      |  SELECT r.src, b.v FROM r JOIN bi b ON r.reach = b.u),
      |comp AS (SELECT src AS doc_id, min(reach) AS cluster_id
      |  FROM r GROUP BY src)
      |SELECT doc_id, cluster_id,
      |  count(*) OVER (PARTITION BY cluster_id) AS cluster_size
      |FROM comp ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------------ q54
  /** CLUSTER-FIRST collapse ([[Dedup.nearDupCollapseFromShingles]]):
    * docs → canonical keeps with NO materialized pair list — the scale
    * contract for dense-dup corpora. q23/q26/q99 are pair-exact and
    * pay the cluster-quadratic pair set (measured: 301 M pairs on the
    * 100× corpus, ~13 min); this path rides the sub-linear MinHash
    * bander, absorbs verified pairs into a per-doc spanning-edge cap
    * inside one aggregation, and runs CC over ≤ n·8 edges. Planted
    * identical docs must land in one cluster (the recall-1 banding
    * path); no oracle — MinHash isn't SQL-expressible, and the
    * spanning cap is connectivity-preserving only for dense clusters
    * (documented trade vs the q26 exact path). */
  def q54ClusterCollapse(s: SparkSession, dir: String): DataFrame = {
    val docs = docsSpread(s, dir).select(col("doc_id"), col("text"))
      .unionByName(plantedDocs(s))
    // SAME similarity space as the exact q23/q26/q99 walk (canonical
    // char-3-grams, J >= 0.5), so the collapse is the cluster-first
    // analog of that family: per-pair banding recall at the 0.5
    // boundary is ~0.4, but a dense cluster member only needs ONE
    // surviving edge to join its cluster, so cluster recovery is
    // robust where pair recovery is not.
    val labels = Dedup.nearDupCollapseFromShingles(
      docs.select(col("doc_id").as("id"),
        Dedup.charShinglesFrom(TextAnalysis.canonical(col("text")), 3)
          .as("sh")),
      numPerm = 32, bands = 8, threshold = 0.5)
    val planted = labels.agg(
      (count(when(col("id") === PlantA || col("id") === PlantB, 1)) === 2 &&
        countDistinct(when(col("id") === PlantA || col("id") === PlantB,
          col("comp"))) === 1).as("planted_ok"))
    Dedup.keepCanonical(
        labels.withColumnRenamed("id", "doc_id"),
        docs.select(col("doc_id"),
          length(TextAnalysis.canonical(col("text"))).cast("long").as("clen")),
        "doc_id", "clen")
      .withColumnRenamed("keep_score", "keep_len")
      .crossJoin(broadcast(planted))
      .orderBy(col("cluster_id"))
  }

  // ------------------------------------------------------------------ q99
  /** Canonical-representative selection per near-dup cluster — the
    * step AFTER q26: a dedup pipeline keeps the BEST member of each
    * cluster, not the min-id one. Representative = longest canonical
    * text (most complete version), ties to the smallest doc_id. The
    * per-cluster argmax is a single `max_by` aggregate over a
    * lexicographic (length, −id) struct — partial-aggregable, one
    * shuffle on the cluster id, NO window sort — so the selection adds
    * one metadata-scale pass over the q26 cluster assignment. Exact:
    * the DuckDB oracle re-derives clusters with the q26 recursive CTE
    * and picks the same representative via a rank window. */
  def q99CanonicalKeep(s: SparkSession, dir: String): DataFrame = {
    val docs = docsSpread(s, dir)
    // cluster consumer → forest tier (identical components; see q26)
    val pairs = Dedup.jaccardForestPairs(
      docs.select(col("doc_id").as("id"), col("lang").as("blk"),
          TextAnalysis.canonical(col("text")).as("ct"))
        .select(col("id"), col("blk"),
          Dedup.charShinglesFrom(col("ct"), 3).as("sh")),
      threshold = 0.5)
    val comp = Dedup.connectedComponents(
        pairs.select(col("id_a"), col("id_b")))
      .withColumnRenamed("id", "doc_id")
    // the CC result is materialized — free the pair list's checkpoint
    graft.util.Blocks.release(pairs)
    Dedup.keepCanonical(comp,
        docs.select(col("doc_id"),
          length(TextAnalysis.canonical(col("text"))).cast("long")
            .as("clen")),
        "doc_id", "clen")
      .withColumnRenamed("keep_score", "keep_len")
      .orderBy(col("cluster_id"))
  }

  val q99Oracle: String =
    """WITH RECURSIVE c AS (SELECT doc_id, lang,
      |    trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS ctext
      |  FROM documents),
      |s AS (SELECT doc_id, lang,
      |    list_distinct(list_transform(
      |      generate_series(1, greatest(length(ctext) - 2, 1)),
      |      i -> substr(ctext, i, 3))) AS sh
      |  FROM c),
      |p AS (SELECT l.doc_id AS a, r.doc_id AS b
      |  FROM s l JOIN s r ON l.lang = r.lang AND l.doc_id < r.doc_id
      |  WHERE round(CAST(len(list_intersect(l.sh, r.sh)) AS DOUBLE)
      |    / CAST(len(l.sh) + len(r.sh) - len(list_intersect(l.sh, r.sh)) AS DOUBLE), 6) >= 0.5),
      |bi(u, v) AS (SELECT a, b FROM p UNION SELECT b, a FROM p),
      |r(src, reach) AS (
      |  SELECT u, u FROM bi
      |  UNION
      |  SELECT r.src, b.v FROM r JOIN bi b ON r.reach = b.u),
      |comp AS (SELECT src AS doc_id, min(reach) AS cluster_id
      |  FROM r GROUP BY src),
      |m AS (SELECT comp.cluster_id, comp.doc_id,
      |    CAST(length(c.ctext) AS BIGINT) AS clen
      |  FROM comp JOIN c ON comp.doc_id = c.doc_id),
      |k AS (SELECT cluster_id, doc_id, clen,
      |    row_number() OVER (PARTITION BY cluster_id
      |      ORDER BY clen DESC, doc_id ASC) AS rn,
      |    max(clen) OVER (PARTITION BY cluster_id) AS keep_len,
      |    count(*) OVER (PARTITION BY cluster_id) AS n_members
      |  FROM m)
      |SELECT cluster_id, doc_id AS keep_id, keep_len, n_members
      |FROM k WHERE rn = 1 ORDER BY cluster_id""".stripMargin

  // ------------------------------------------------------------------ q24
  def q24DedupEmbedding(s: SparkSession, dir: String): DataFrame =
    Ann.nearDupPairs(embSpread(s, dir), "vec_id", "embedding",
        "label", threshold = 0.9)
      .orderBy(col("id_a"), col("id_b"))

  val q24Oracle: String =
    """WITH w AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v,
      |    list_inner_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])) AS self_dot
      |  FROM embeddings)
      |SELECT l.vec_id AS id_a, r.vec_id AS id_b,
      |  round(list_inner_product(l.v, r.v) / sqrt(l.self_dot * r.self_dot), 6) AS cos_sim
      |FROM w l JOIN w r ON l.label = r.label AND l.vec_id < r.vec_id
      |WHERE list_inner_product(l.v, r.v) / sqrt(l.self_dot * r.self_dot) >= 0.9
      |ORDER BY id_a, id_b""".stripMargin

  // ------------------------------------------------------------------ q25
  /** LSH-blocked embedding near-dup — the scale path beside q24's
    * label blocks (no oracle: bucket recall < 1 by design). 6 planes ×
    * 4 OR'd tables: per-table buckets decay geometrically (~corpus/2^6)
    * while the table union keeps recall on the corpus's cos ≈ 0.4–0.6
    * pairs; every (table, bucket) is capped so no self-join is ever
    * quadratic, and the OUTPUT carries a declared bound too
    * ([[Ann.capPairsPerId]], 20 pairs per id): the true pair set is
    * quadratic in dup-cluster size, so on a boilerplate-dense corpus
    * an uncapped pair list — not the banded candidates — is what
    * breaks the scale budget (measured: the 100× corpus's ~100-member
    * clusters blew a 10-minute pass before the cap; see BENCH_NOTES). */
  def q25DedupEmbeddingLsh(s: SparkSession, dir: String): DataFrame = {
    val e = embSpread(s, dir)
    val r0 = e.agg(max(size(col("embedding"))).as("d"),
      count(lit(1)).as("n")).head()
    val (dim, n) = (r0.getInt(0), r0.getLong(1))
    // Plane count must GROW with the corpus: expected multi-probe
    // candidates per id per table are ~(planes+1)·n/2^planes, so FIXED
    // planes make the candidate join quadratic in n (measured: 6
    // planes at the 100× corpus spilled > 60 GB of candidate shuffle
    // and died; 11 planes still spilled ~60 GB — depth must outpace
    // the probe multiplier). Pick the smallest depth whose per-id
    // budget fits ~250 candidates/table — the budget the VERIFIED
    // scales already run at (sf0.1: 219/id/table at 6 planes), so
    // sf0.001–0.1 keep their exact historical geometry and recall
    // while the 100× corpus lands at 14 planes (~10 GB of candidates,
    // linear in n by construction). High-cos pairs (the dup clusters
    // that matter) keep table-OR recall ≥ ~0.8 at that depth; the
    // cos≈0.4 tail fades — the documented trade of the scale path.
    val planes = {
      var p = 6
      while ((p + 1.0) * n / math.pow(2.0, p) > 250.0 && p < 24) p += 1
      p
    }
    val corpus = e.select(col("vec_id"), col("embedding"))
      .unionByName(plantedVecs(s, dim))
    withPlantedAndRecall(
        Ann.nearDupPairsLshCapped(corpus, "vec_id", "embedding", dim,
          numPlanes = planes, threshold = 0.4, numTables = 4,
          maxBucketSize = 10000, multiProbe = 1, maxPairsPerId = 20),
        plantedPairCond,
        cosinePairTruth(s, dir, threshold = 0.4),
        Seq("id_a", "id_b"), floor = 0.5)
      .orderBy(col("id_a"), col("id_b"))
  }

  // ------------------------------------------------------------------ q85
  /** SemDeDup-shaped semantic dedup ([[Ann.semanticDedupPairs]]):
    * near-dup pairs blocked by a density-adaptive coarse quantizer (the
    * ivf centroids) instead of q25's data-blind hyperplanes — dense
    * embedding regions split into many small blocks, sparse regions
    * stay whole. The planted identical pair must share a nearest
    * centroid (recall-1 path); measured recall vs the same exact
    * probe⨯corpus cosine truth as q25. Carries the same declared
    * output bound as q25 (20 pairs per id — [[Ann.capPairsPerId]]),
    * so a dense-cluster corpus degrades deterministically instead of
    * materializing a cluster-quadratic pair list. */
  def q85SemanticDedup(s: SparkSession, dir: String): DataFrame = {
    val e = embSpread(s, dir)
    val (dim, n) = {
      val r = e.agg(max(size(col("embedding"))).as("d"),
        count(lit(1)).as("n")).head()
      (r.getInt(0), r.getLong(1))
    }
    // IVF sizing rule: ~sqrt(n) lists keeps per-cluster population ≈
    // sqrt(n), balancing blocking selectivity against boundary loss
    val centroids = math.max(4, math.sqrt(n.toDouble).round.toInt)
    val corpus = e.select(col("vec_id"), col("embedding"))
      .unionByName(plantedVecs(s, dim))
    withPlantedAndRecall(
        Ann.semanticDedupPairs(corpus, "vec_id", "embedding",
          threshold = 0.4, numCentroids = centroids, assignProbe = 3,
          maxClusterSize = 10000, maxPairsPerId = 20),
        plantedPairCond,
        cosinePairTruth(s, dir, threshold = 0.4),
        Seq("id_a", "id_b"), floor = 0.5)
      .orderBy(col("id_a"), col("id_b"))
  }

  // ------------------------------------------------------------------ q27
  /** Deterministic stratified mixture sampling ([[Curation]]): per-lang
    * keep rates decided by md5 of the doc id — reproducible by value on
    * any engine and any partitioning (df.sample() is neither). Pure
    * narrow filter: no shuffle, skew-proof. */
  def q27StratifiedSample(s: SparkSession, dir: String): DataFrame =
    graft.curate.Curation.stratifiedSample(
        Tables.documents(s, dir), "doc_id", "lang",
        rates = Map("en" -> 0.5, "de" -> 1.0, "zh" -> 0.25, "fr" -> 0.0),
        defaultRate = 0.1)
      .select(col("doc_id"), col("lang"), col("source"))
      .orderBy(col("doc_id"))

  val q27Oracle: String =
    """SELECT doc_id, lang, source FROM documents
      |WHERE CAST(CAST(('0x' || substring(md5(doc_id::VARCHAR || 'graft'), 1, 8)) AS BIGINT) AS DOUBLE)
      |  < (CASE lang WHEN 'en' THEN 0.5 WHEN 'de' THEN 1.0
      |       WHEN 'zh' THEN 0.25 WHEN 'fr' THEN 0.0 ELSE 0.1 END) * 4294967296.0
      |ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------------ q28
  /** Token-budget selection per source ([[Curation.tokenBudget]]): docs
    * in deterministic hash order until each source's budget fills — the
    * corpus-mixing primitive. Two-phase bucket prefix-sum inside, but
    * value-identical to the oracle's single per-stratum window. */
  def q28TokenBudget(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .withColumn("n_tokens",
        TextAnalysis.tokenCount(col("text")).cast("long"))
    graft.curate.Curation.tokenBudget(docs, "doc_id", "source", "n_tokens",
        budgets = Map("src0" -> 800L, "src1" -> 700L, "src2" -> 600L))
      .select(col("doc_id"), col("source"), col("n_tokens"))
      .orderBy(col("doc_id"))
  }

  val q28Oracle: String =
    """WITH t AS (SELECT doc_id, source,
      |    len(regexp_extract_all(text, '[^ \t\n\r]+')) AS n_tokens,
      |    md5(doc_id::VARCHAR || 'graft') AS hk
      |  FROM documents WHERE source IN ('src0', 'src1', 'src2')),
      |r AS (SELECT doc_id, source, n_tokens,
      |    sum(n_tokens) OVER (PARTITION BY source ORDER BY hk, doc_id) AS running
      |  FROM t)
      |SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens
      |FROM r
      |WHERE running <= CASE source WHEN 'src0' THEN 800
      |  WHEN 'src1' THEN 700 ELSE 600 END
      |ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------------ q52
  /** Context-window sequence packing ([[graft.curate.Curation
    * .packSequences]]): docs laid end-to-end per source in
    * deterministic hash order, cut every 512 tokens — each doc
    * annotated with its starting bin and in-bin offset. */
  def q52SequencePack(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .withColumn("n_tokens",
        TextAnalysis.tokenCount(col("text")).cast("long"))
    graft.curate.Curation.packSequences(docs, "doc_id", "source",
        "n_tokens", ctxLen = 512L)
      .select(col("doc_id"), col("source"), col("n_tokens"),
        col("bin_id"), col("bin_offset"))
      .orderBy(col("doc_id"))
  }

  val q52Oracle: String =
    """WITH t AS (SELECT doc_id, source,
      |    len(regexp_extract_all(text, '[^ \t\n\r]+')) AS n_tokens,
      |    md5(doc_id::VARCHAR || 'graft') AS hk
      |  FROM documents),
      |r AS (SELECT doc_id, source, n_tokens,
      |    sum(n_tokens) OVER (PARTITION BY source ORDER BY hk, doc_id)
      |      - n_tokens AS st
      |  FROM t)
      |SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens,
      |  CAST(floor(st / 512) AS BIGINT) AS bin_id,
      |  CAST(st % 512 AS BIGINT) AS bin_offset
      |FROM r ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------------ q90
  /** Packed-bin assembly: materialize [[q52SequencePack]]'s layout —
    * each bin's documents concatenated in the packing order (hash, id),
    * emitted as md5 so the artifact stays metadata-sized. The group key
    * is (source, bin_id), so the shuffle is bin-local and per-group
    * state is bounded by the context length (a bin holds ≤ ctxLen
    * tokens of starts, plus at most one long straddler). Deterministic
    * aggregation order via sort_array(collect_list(struct)) — no
    * reliance on shuffle arrival order — keeps it hash-exact. */
  def q90BinAssembly(s: SparkSession, dir: String): DataFrame = {
    val docs = docsSpread(s, dir)
      .withColumn("n_tokens",
        TextAnalysis.tokenCount(col("text")).cast("long"))
    val packed = graft.curate.Curation.packSequences(
        docs, "doc_id", "source", "n_tokens", ctxLen = 512)
      .withColumn("_hk",
        md5(concat(col("doc_id").cast("string"), lit("graft"))))
    packed
      .groupBy(col("source"), col("bin_id"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("bin_tokens"),
        md5(array_join(
          transform(
            array_sort(collect_list(struct(col("_hk"), col("doc_id"), col("text")))),
            x => x.getField("text")),
          "")).as("bin_md5"))
      .orderBy(col("source"), col("bin_id"))
  }

  val q90Oracle: String =
    """WITH t AS (SELECT doc_id, source, text,
      |    len(regexp_extract_all(text, '[^ \t\n\r]+')) AS n_tokens,
      |    md5(doc_id::VARCHAR || 'graft') AS hk
      |  FROM documents),
      |r AS (SELECT doc_id, source, text, n_tokens, hk,
      |    sum(n_tokens) OVER (PARTITION BY source ORDER BY hk, doc_id)
      |      - n_tokens AS st
      |  FROM t)
      |SELECT source, CAST(floor(st / 512) AS BIGINT) AS bin_id,
      |  count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS bin_tokens,
      |  md5(string_agg(text, '' ORDER BY hk, doc_id)) AS bin_md5
      |FROM r GROUP BY 1, 2 ORDER BY source, bin_id""".stripMargin

  // ------------------------------------------------------------------ q29
  /** Dataset-card rollup: per (source, decision) doc counts and token
    * sums over the q46 filter verdicts — the summary a curated corpus
    * ships with ("kept N docs / M tokens from src X; dropped D as
    * dups..."). Pure composition: the q46 decision pipeline feeding one
    * aggregation. */
  def q29DatasetCard(s: SparkSession, dir: String): DataFrame =
    filterDecisions(s, dir)
      .groupBy(col("source"), col("decision"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens").cast("long")).as("sum_tokens"))
      .orderBy(col("source"), col("decision"))

  val q29Oracle: String =
    s"""WITH $filterDecisionCtes
       |SELECT source, decision, count(*) AS n_docs,
       |  CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
       |FROM d GROUP BY source, decision ORDER BY source, decision""".stripMargin

  // ------------------------------------------------------------------ q30
  def q30AnnBruteForce(s: SparkSession, dir: String): DataFrame = {
    val e = embSpread(s, dir)
    Ann.bruteForceTopK(e.where(col("vec_id") < 8), e, "vec_id", "embedding", k = 10)
      .withColumnRenamed("rank", "rnk")
      .orderBy(col("query_id"), col("rnk"))
  }

  val q30Oracle: String =
    """WITH w AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
      |    list_inner_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])) AS self_dot
      |  FROM embeddings),
      |scored AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |    list_inner_product(q.v, c.v) / sqrt(q.self_dot * c.self_dot) AS cs
      |  FROM w q JOIN w c ON q.vec_id < 8 AND q.vec_id != c.vec_id),
      |ranked AS (SELECT query_id, neighbor_id, cs,
      |    row_number() OVER (PARTITION BY query_id ORDER BY cs DESC, neighbor_id ASC) AS rnk
      |  FROM scored)
      |SELECT query_id, rnk, neighbor_id, round(cs, 6) AS cos_sim
      |FROM ranked WHERE rnk <= 10 ORDER BY query_id, rnk""".stripMargin

  // ------------------------------------------------------------------ q31
  def q31AnnLsh(s: SparkSession, dir: String): DataFrame = {
    val e = embSpread(s, dir)
    // Embedding dim is not in the parquet schema (ArrayType is unsized);
    // probe one row at plan time — a wrong dim would null the projections
    // and collapse every vector into a single bucket.
    val dim = e.select(size(col("embedding")).as("d")).head().getInt(0)
    val corpus = e.select(col("vec_id"), col("embedding"))
      .unionByName(plantedVecs(s, dim))
    val queries = corpus.where(col("vec_id") < 8)
    withPlantedAndRecall(
        Ann.lshTopK(queries, corpus,
          "vec_id", "embedding", dim = dim, numPlanes = 6, k = 10,
          numTables = 4, multiProbe = 1)
          .withColumnRenamed("rank", "rnk"),
        plantedTopKCond,
        // truth: exact top-k for the same queries over the same corpus —
        // one brute-force pass (q30's cost), measured recall@k
        Ann.bruteForceTopK(queries, corpus, "vec_id", "embedding", k = 10)
          .select(col("query_id"), col("neighbor_id")),
        Seq("query_id", "neighbor_id"), floor = 0.4)
      .orderBy(col("query_id"), col("rnk"))
  }

  // ------------------------------------------------------------------ q32
  /** IVF-flat approximate top-k (no oracle — approximate by design;
    * rows-only check). The scale path alongside q31's LSH buckets. */
  def q32AnnIvf(s: SparkSession, dir: String): DataFrame = {
    val e = embSpread(s, dir)
    val dim = e.select(size(col("embedding")).as("d")).head().getInt(0)
    val corpus = e.select(col("vec_id"), col("embedding"))
      .unionByName(plantedVecs(s, dim))
    val queries = corpus.where(col("vec_id") < 8)
    withPlantedAndRecall(
        Ann.ivfTopK(queries, corpus,
          "vec_id", "embedding", k = 10, numCentroids = 16, nProbe = 6)
          .withColumnRenamed("rank", "rnk"),
        plantedTopKCond,
        Ann.bruteForceTopK(queries, corpus, "vec_id", "embedding", k = 10)
          .select(col("query_id"), col("neighbor_id")),
        Seq("query_id", "neighbor_id"), floor = 0.5)
      .orderBy(col("query_id"), col("rnk"))
  }

  // ------------------------------------------------------------------ q66
  /** PQ-compressed approximate top-k ([[Ann.pqTopK]]): the corpus rides
    * as m=8 integer codes per vector, queries precompute ADC lookup
    * tables — the compressed ANN tier. The planted identical pair's
    * ADC equals its own quantization error, which is provably minimal,
    * so it must rank 1 (ids break the tie toward the planted corpus
    * doc). Approximate → rows-only + planted check. */
  def q66AnnPq(s: SparkSession, dir: String): DataFrame = {
    val e = embSpread(s, dir)
    val dim = e.select(size(col("embedding")).as("d")).head().getInt(0)
    val corpus = e.select(col("vec_id"), col("embedding"))
      .unionByName(plantedVecs(s, dim))
    val m = if (dim % 8 == 0) 8 else if (dim % 4 == 0) 4 else 1
    val queries = corpus.where(col("vec_id") < 8)
    withPlantedAndRecall(
        Ann.pqTopK(queries, corpus,
          "vec_id", "embedding", dim = dim, k = 10, m = m, ksub = 16,
          rerank = 100)
          .withColumnRenamed("rank", "rnk"),
        plantedTopKCond,
        Ann.bruteForceTopK(queries, corpus, "vec_id", "embedding", k = 10)
          .select(col("query_id"), col("neighbor_id")),
        Seq("query_id", "neighbor_id"), floor = 0.5)
      .orderBy(col("query_id"), col("rnk"))
  }

  // ------------------------------------------------------------------ q96
  /** Scalar-quantized ANN ([[Ann.sqTopK]]): the SQ8 tier between
    * brute-force floats (q30) and PQ codes (q66) — one byte per
    * dimension + per-vector (min, step, exact norm), scored by a fused
    * decode-and-dot codegen kernel, then an exact rerank of the
    * shortlist. SQ8 distortion is tiny (the shortlist at 3× k almost
    * always contains the true top-k), so the recall floor sits far
    * above the PQ tier's. Identical planted vectors quantize
    * identically → sq_sim = 1 = rank 1 (recall-1 path). */
  def q96AnnSq(s: SparkSession, dir: String): DataFrame = {
    val e = embSpread(s, dir)
    val dim = e.select(size(col("embedding")).as("d")).head().getInt(0)
    val corpus = e.select(col("vec_id"), col("embedding"))
      .unionByName(plantedVecs(s, dim))
    val queries = corpus.where(col("vec_id") < 8)
    withPlantedAndRecall(
        Ann.sqTopK(queries, corpus, "vec_id", "embedding", k = 10,
          rerank = 30)
          .withColumnRenamed("rank", "rnk"),
        plantedTopKCond,
        Ann.bruteForceTopK(queries, corpus, "vec_id", "embedding", k = 10)
          .select(col("query_id"), col("neighbor_id")),
        Seq("query_id", "neighbor_id"), floor = 0.9)
      .orderBy(col("query_id"), col("rnk"))
  }

  // ------------------------------------------------------------------ q67
  /** Filtered vector search: top-k cosine neighbors among only the
    * corpus rows passing a metadata predicate (here: English documents
    * with >= 40 whitespace tokens), with the matching doc metadata
    * hydrated onto the hits — the retrieval shape every vector store
    * serves. The predicate applies BEFORE scoring (pre-filtering), so
    * selectivity cuts the scored set instead of starving top-k after
    * the fact; the metadata join keys on the id both ways and the
    * small query side broadcasts. */
  def q67FilteredAnn(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), col("source"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"))
    val eligible = docs.where(col("lang") === "en" && col("n_tokens") >= 40)
    val corpus = embSpread(s, dir)
      .join(eligible.select(col("doc_id").as("vec_id")), "vec_id")
    Ann.bruteForceTopK(embSpread(s, dir).where(col("vec_id") < 8), corpus,
        "vec_id", "embedding", k = 5)
      .withColumnRenamed("rank", "rnk")
      .join(docs.select(col("doc_id").as("neighbor_id"), col("source"),
        col("n_tokens")), "neighbor_id")
      .select(col("query_id"), col("rnk"), col("neighbor_id"),
        col("cos_sim"), col("source"), col("n_tokens"))
      .orderBy(col("query_id"), col("rnk"))
  }

  val q67Oracle: String =
    """WITH meta AS (SELECT doc_id, lang, source,
      |    CAST(len(regexp_extract_all(text, '[^ \t\n\r]+')) AS BIGINT) AS n_tokens
      |  FROM documents),
      |w AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
      |    list_inner_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])) AS self_dot
      |  FROM embeddings),
      |corpus AS (SELECT w.* FROM w JOIN meta ON w.vec_id = meta.doc_id
      |           WHERE meta.lang = 'en' AND meta.n_tokens >= 40),
      |scored AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |    list_inner_product(q.v, c.v) / sqrt(q.self_dot * c.self_dot) AS cs
      |  FROM w q JOIN corpus c ON q.vec_id < 8 AND q.vec_id != c.vec_id),
      |ranked AS (SELECT query_id, neighbor_id, cs,
      |    row_number() OVER (PARTITION BY query_id ORDER BY cs DESC, neighbor_id ASC) AS rnk
      |  FROM scored)
      |SELECT r.query_id, r.rnk, r.neighbor_id, round(r.cs, 6) AS cos_sim,
      |  m.source, m.n_tokens
      |FROM ranked r JOIN meta m ON r.neighbor_id = m.doc_id
      |WHERE r.rnk <= 5 ORDER BY r.query_id, r.rnk""".stripMargin

  // ------------------------------------------------------------------ q40
  def q40TextLangId(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      // materialize the canonical form once; the 5 stopword scorers
      // share the attribute instead of re-canonicalizing per pattern
      .select(col("lang"), TextAnalysis.canonical(col("text")).as("_ct"))
      .withColumn("pred_lang", TextAnalysis.langIdFrom(col("_ct")))
      .groupBy(col("lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("lang"), col("pred_lang"))

  val q40Oracle: String = {
    // Mirror TextAnalysis.stopwordPatterns + the first-argmax CASE chain.
    val pats = TextAnalysis.stopwordPatterns
    val scoreExprs = pats.map { case (code, pat) =>
      s"len(regexp_extract_all(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), '$pat')) AS s_$code"
    }.mkString(",\n    ")
    val codes = pats.map(_._1)
    val allZero = codes.map(c => s"s_$c = 0").mkString(" AND ")
    val chain = codes.zipWithIndex.map { case (c, i) =>
      val later = codes.drop(i + 1)
      val cond =
        if (later.isEmpty) "TRUE"
        else later.map(o => s"s_$c >= s_$o").mkString(" AND ")
      s"WHEN $cond THEN '$c'"
    }.mkString("\n      ")
    s"""WITH scored AS (SELECT lang,
       |    $scoreExprs
       |  FROM documents)
       |SELECT lang,
       |  CASE WHEN $allZero THEN 'und'
       |      $chain
       |      ELSE 'und' END AS pred_lang,
       |  count(*) AS n_docs
       |FROM scored
       |GROUP BY 1, 2 ORDER BY lang, pred_lang""".stripMargin
  }

  // ------------------------------------------------------------------ q41
  def q41TextQuality(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.qualityMetrics(Tables.documents(s, dir), "text")
      .select(col("doc_id"), col("n_tokens"), col("alpha_ratio"),
        col("punct_ratio"), col("space_ratio"), col("mean_token_len"),
        col("stopword_ratio"), col("quality_ok"))
      .orderBy(col("doc_id"))

  val q41Oracle: String = {
    val canon = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
    val stopHits = TextAnalysis.stopwordPatterns
      .map { case (_, pat) =>
        s"CAST(len(regexp_extract_all($canon, '$pat')) AS DOUBLE)"
      }
      .mkString(" + ")
    s"""WITH m AS (SELECT doc_id,
      |    len(regexp_extract_all(text, '[^ \\t\\n\\r]+')) AS n_tokens,
      |    round(CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE) / CAST(length(text) AS DOUBLE), 6) AS alpha_ratio,
      |    round(CAST(length(regexp_replace(text, '[^.,;:!?''"()-]', '', 'g')) AS DOUBLE) / CAST(length(text) AS DOUBLE), 6) AS punct_ratio,
      |    round(CAST(length(regexp_replace(text, '[^ ]', '', 'g')) AS DOUBLE) / CAST(length(text) AS DOUBLE), 6) AS space_ratio,
      |    round(CAST(length(text) - length(regexp_replace(text, '[^ ]', '', 'g')) AS DOUBLE)
      |      / greatest(CAST(len(regexp_extract_all(text, '[^ \\t\\n\\r]+')) AS DOUBLE), 1.0), 6) AS mean_token_len,
      |    round(($stopHits)
      |      / greatest(CAST(len(regexp_extract_all(text, '[^ \\t\\n\\r]+')) AS DOUBLE), 1.0), 6) AS stopword_ratio
      |  FROM documents)
      |SELECT doc_id, n_tokens, alpha_ratio, punct_ratio, space_ratio, mean_token_len, stopword_ratio,
      |  (n_tokens >= 5 AND alpha_ratio >= 0.5 AND punct_ratio <= 0.2) AS quality_ok
      |FROM m ORDER BY doc_id""".stripMargin
  }

  // ------------------------------------------------------------------ q42
  def q42TokenCount(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("source"),
        TextAnalysis.tokenCount(col("text")).as("ws"),
        TextAnalysis.bpeishTokenCount(col("text")).as("bpe"))
      .groupBy(col("source"))
      .agg(
        sum(col("ws")).as("sum_ws_tokens"),
        sum(col("bpe")).as("sum_bpe_tokens"),
        round(avg(col("bpe")), 6).as("avg_bpe_tokens"))
      .orderBy(col("source"))

  // sum(BIGINT) is HUGEINT in DuckDB; cast back so the oracle's dtype
  // matches Spark's LongType under the driver's exact-hash compare.
  val q42Oracle: String =
    """SELECT source,
      |  CAST(sum(len(regexp_extract_all(text, '[^ \t\n\r]+'))) AS BIGINT) AS sum_ws_tokens,
      |  CAST(sum(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 \t\n\r]'))) AS BIGINT) AS sum_bpe_tokens,
      |  round(avg(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 \t\n\r]'))), 6) AS avg_bpe_tokens
      |FROM documents GROUP BY source ORDER BY source""".stripMargin

  // ------------------------------------------------------------------ q43
  def q43TextFingerprint(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))
      .groupBy(col("fp"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("group_size"))
      .orderBy(col("fp"))

  val q43Oracle: String =
    """SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp,
      |  min(doc_id) AS keep_id, count(*) AS group_size
      |FROM documents
      |GROUP BY md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))
      |ORDER BY fp""".stripMargin

  // ------------------------------------------------------------------ q44
  /** Rolling-hash document fingerprint dedup — the
    * [[TextAnalysis.rollingHashFrom]] polynomial hash in place of q43's
    * md5; composable over concatenation so chunked documents can be
    * fingerprinted incrementally. */
  def q44RollingFingerprint(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), TextAnalysis.canonical(col("text")).as("ct"))
      .select(col("doc_id"), TextAnalysis.rollingHashFrom(col("ct")).as("rh"))
      .groupBy(col("rh"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("group_size"))
      .orderBy(col("rh"))

  val q44Oracle: String =
    """WITH c AS (SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS ct
      |  FROM documents),
      |h AS (SELECT doc_id, list_reduce(
      |    list_prepend(CAST(0 AS BIGINT), list_transform(
      |      generate_series(1, greatest(length(ct), 1)),
      |      i -> CAST(ascii(substr(ct, CAST(i AS INT), 1)) AS BIGINT))),
      |    (acc, x) -> (acc * 257 + x) % 2147483647) AS rh
      |  FROM c)
      |SELECT rh, min(doc_id) AS keep_id, count(*) AS group_size
      |FROM h GROUP BY rh ORDER BY rh""".stripMargin

  // ------------------------------------------------------------------ q46
  /** The composite pretraining filter pass — every doc gets a keep/drop
    * decision with the FIRST failing check as the reason, precedence
    * dup > lang > quality > pii (canonical-fingerprint dedup keeps the
    * min doc_id; language must be identifiable; q41's quality gates;
    * zero PII matches). One scan + one window on the fingerprint —
    * the decision columns are all narrow expressions. */
  /** Shared per-doc decision pipeline for q46/q29: quality metrics with
    * ONE materialized canonicalization, fingerprint dup rank, langid,
    * PII counts and the precedence decision (dup > lang > quality >
    * pii). One scan + one window on the fingerprint. */
  private def filterDecisions(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("fp")).orderBy(col("doc_id"))
    TextAnalysis
      .qualityMetrics(Tables.documents(s, dir), "text", keepCanonical = true)
      .withColumn("fp", md5(col("_ct")))
      .withColumn("dup_rank", row_number().over(w))
      .withColumn("pred_lang", TextAnalysis.langIdFrom(col("_ct")))
      .withColumn("n_pii",
        graft.text.Pii.countEmails(col("text")) +
          graft.text.Pii.countIpv4(col("text")) +
          graft.text.Pii.countSsns(col("text")))
      .withColumn("decision",
        when(col("dup_rank") > 1, "dup")
          .when(col("pred_lang") === "und", "lang")
          .when(!col("quality_ok"), "quality")
          .when(col("n_pii") =!= 0, "pii")
          .otherwise("keep"))
  }

  def q46QualityFilter(s: SparkSession, dir: String): DataFrame =
    filterDecisions(s, dir)
      .select(
        col("doc_id"),
        col("pred_lang"),
        (col("dup_rank") > 1).as("is_dup"),
        col("quality_ok"),
        (col("n_pii") === 0).as("pii_ok"),
        col("decision"))
      .orderBy(col("doc_id"))

  /** Shared m → r → d CTE chain for the filter-decision oracles
    * (q46 per-doc verdicts, q29 dataset-card rollup): per-doc metrics,
    * fingerprint dup rank, the q40 langid CASE chain, quality gates and
    * the precedence decision. */
  private lazy val filterDecisionCtes: String = {
    val pats = TextAnalysis.stopwordPatterns
    val canon = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
    val scoreExprs = pats.map { case (code, pat) =>
      s"len(regexp_extract_all($canon, '$pat')) AS s_$code"
    }.mkString(",\n    ")
    val codes = pats.map(_._1)
    val allZero = codes.map(c => s"s_$c = 0").mkString(" AND ")
    val chain = codes.zipWithIndex.map { case (c, i) =>
      val later = codes.drop(i + 1)
      val cond =
        if (later.isEmpty) "TRUE"
        else later.map(o => s"s_$c >= s_$o").mkString(" AND ")
      s"WHEN $cond THEN '$c'"
    }.mkString("\n      ")
    s"""m AS (SELECT doc_id, source, text,
       |    md5($canon) AS fp,
       |    len(regexp_extract_all(text, '[^ \\t\\n\\r]+')) AS n_tokens,
       |    round(CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE) / CAST(length(text) AS DOUBLE), 6) AS alpha_ratio,
       |    round(CAST(length(regexp_replace(text, '[^.,;:!?''"()-]', '', 'g')) AS DOUBLE) / CAST(length(text) AS DOUBLE), 6) AS punct_ratio,
       |    len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))
       |      + len(regexp_extract_all(text, '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b'))
       |      + len(regexp_extract_all(text, '\\b\\d{3}-\\d{2}-\\d{4}\\b')) AS n_pii,
       |    $scoreExprs
       |  FROM documents),
       |r AS (SELECT *,
       |    row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS dup_rank,
       |    CASE WHEN $allZero THEN 'und'
       |      $chain
       |      ELSE 'und' END AS pred_lang,
       |    (n_tokens >= 5 AND alpha_ratio >= 0.5 AND punct_ratio <= 0.2) AS quality_ok
       |  FROM m),
       |d AS (SELECT doc_id, source, n_tokens, pred_lang,
       |    (dup_rank > 1) AS is_dup, quality_ok, (n_pii = 0) AS pii_ok,
       |    CASE WHEN dup_rank > 1 THEN 'dup'
       |      WHEN pred_lang = 'und' THEN 'lang'
       |      WHEN NOT quality_ok THEN 'quality'
       |      WHEN n_pii != 0 THEN 'pii'
       |      ELSE 'keep' END AS decision
       |  FROM r)""".stripMargin
  }

  val q46Oracle: String =
    s"""WITH $filterDecisionCtes
       |SELECT doc_id, pred_lang, is_dup, quality_ok, pii_ok, decision
       |FROM d ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------------ q47
  /** Repetition metrics (Gopher-style): duplicate-line ratio and
    * top-token fraction per doc, with one planted repetitive row (id
    * −101, identical literal in the oracle's UNION) so the signals are
    * provably exercised on a clean corpus. */
  def q47Repetition(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val planted = Seq((-101L,
      "spam spam spam spam line\nspam spam spam spam line\nunique tail"))
      .toDF("doc_id", "text")
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      .unionByName(planted)
    docs
      .select(col("doc_id"),
        size(split(col("text"), "\n")).cast("long").as("n_lines"),
        TextAnalysis.dupLineRatio(col("text")).as("dup_line_ratio"))
      .join(
        TextAnalysis.topTokenFrac(docs, "doc_id", "text")
          .withColumnRenamed("id", "doc_id"),
        Seq("doc_id"), "left")
      .withColumn("top_token_frac", coalesce(col("top_token_frac"), lit(0.0)))
      .orderBy(col("doc_id"))
  }

  val q47Oracle: String =
    """WITH u AS (SELECT doc_id, text FROM documents
      |  UNION ALL SELECT -101,
      |    'spam spam spam spam line' || chr(10) || 'spam spam spam spam line' || chr(10) || 'unique tail'),
      |l AS (SELECT doc_id,
      |    CAST(len(string_split(text, chr(10))) AS BIGINT) AS n_lines,
      |    round(1.0 - CAST(len(list_distinct(string_split(text, chr(10)))) AS DOUBLE)
      |      / CAST(len(string_split(text, chr(10))) AS DOUBLE), 6) AS dup_line_ratio
      |  FROM u),
      |tok AS (SELECT doc_id, t, count(*) AS c
      |  FROM (SELECT doc_id,
      |      unnest(regexp_extract_all(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), '[^ ]+')) AS t
      |    FROM u)
      |  GROUP BY doc_id, t),
      |tf AS (SELECT doc_id,
      |    round(CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE), 6) AS top_token_frac
      |  FROM tok GROUP BY doc_id)
      |SELECT l.doc_id, l.n_lines, l.dup_line_ratio,
      |  coalesce(tf.top_token_frac, 0.0) AS top_token_frac
      |FROM l LEFT JOIN tf ON l.doc_id = tf.doc_id
      |ORDER BY l.doc_id""".stripMargin

  // ------------------------------------------------------------------ q51
  /** Cross-media shared-frame near-dup ([[Multimodal.sharedFramePairs]]):
    * frame-hash inverted index over sampled payload frames. Exact for
    * the sampling parameters but not SQL-expressible here (no BLOB
    * windowing in the oracle engine) → rows + a planted identical media
    * pair (identical payloads share every frame, so the (−2, −1) pair
    * must surface) + measured recall: truth = the exact UNSAMPLED
    * (stride 1) shared-frame partners of the probe block
    * ([[Multimodal.probeSharedFrameTruth]] — probe frames against the
    * corpus index, linear cost), so `measured_recall` quantifies
    * exactly what the stride-2 sampling loses. Floor from observed
    * recall at sf0.001/0.01/0.1 with margin. */
  def q51MultimodalFrameDedup(s: SparkSession, dir: String): DataFrame = {
    val corpus = docsSpread(s, dir).select(col("doc_id"), col("text"))
      .unionByName(plantedDocs(s))
    val recs = Multimodal.asMediaRecords(corpus, "doc_id", "text", "textbytes")
    val truth = Multimodal.probeSharedFrameTruth(recs,
        col("media_id") < RecallProbeIds, frameBytes = 64, minShared = 1)
      .select(col("id_a"), col("id_b"))
    withPlantedAndRecall(
        Multimodal.sharedFramePairs(recs, stride = 2, frameBytes = 64,
          minShared = 1),
        plantedPairCond,
        truth, Seq("id_a", "id_b"), floor = 0.9)
      .orderBy(col("id_a"), col("id_b"))
  }

  // ------------------------------------------------------------------ q45
  /** PII scrub over the corpus plus one planted PII-bearing row (id
    * −100, identical literal in the oracle's UNION) so the redaction
    * paths are provably exercised even on a clean corpus. Counts +
    * md5 of the scrubbed text per doc. */
  def q45PiiScrub(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val planted = Seq((-100L,
      "reach me at john.doe@example.com or admin@test.org, " +
        "server 192.168.1.100, ssn 987-65-4321")).toDF("doc_id", "text")
    Tables.documents(s, dir).select(col("doc_id"), col("text"))
      .unionByName(planted)
      .select(
        col("doc_id"),
        graft.text.Pii.countEmails(col("text")).as("n_emails"),
        graft.text.Pii.countIpv4(col("text")).as("n_ips"),
        graft.text.Pii.countSsns(col("text")).as("n_ssns"),
        md5(graft.text.Pii.scrub(col("text"))).as("scrubbed_fp"))
      .orderBy(col("doc_id"))
  }

  val q45Oracle: String =
    """WITH u AS (SELECT doc_id, text FROM documents
      |  UNION ALL SELECT -100,
      |    'reach me at john.doe@example.com or admin@test.org, server 192.168.1.100, ssn 987-65-4321')
      |SELECT doc_id,
      |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
      |  CAST(len(regexp_extract_all(text, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ips,
      |  CAST(len(regexp_extract_all(text, '\b\d{3}-\d{2}-\d{4}\b')) AS BIGINT) AS n_ssns,
      |  md5(regexp_replace(regexp_replace(regexp_replace(text,
      |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
      |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
      |    '\b\d{3}-\d{2}-\d{4}\b', '<SSN>', 'g')) AS scrubbed_fp
      |FROM u ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------------ q64
  /** Incremental corpus dedup ([[Dedup.dedupAgainstSnapshot]]): an
    * md5-selected ~70% of the corpus plays the existing snapshot, the
    * rest the incoming batch; batch docs survive only with a
    * fingerprint unseen in the snapshot, collapsing batch-internal
    * dups to the min id. */
  def q64IncrementalDedup(s: SparkSession, dir: String): DataFrame = {
    val docs = docsSpread(s, dir)
    val snapHash =
      graft.curate.Curation.hashKey(col("doc_id"), "snap").cast("double")
    val snapshot = docs.where(snapHash < 0.7 * 4294967296.0)
      .select(graft.text.TextAnalysis.fingerprint(col("text")).as("fp"))
      .distinct()
    val incoming = docs.where(snapHash >= 0.7 * 4294967296.0)
    Dedup.dedupAgainstSnapshot(incoming, "doc_id", "text", snapshot)
      .orderBy(col("fp"))
  }

  val q64Oracle: String =
    """WITH f AS (SELECT doc_id,
      |    md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp,
      |    CAST(CAST(('0x' || substring(md5(doc_id::VARCHAR || 'snap'), 1, 8)) AS BIGINT) AS DOUBLE)
      |      < 0.7 * 4294967296.0 AS is_old
      |  FROM documents),
      |new_docs AS (SELECT doc_id, fp FROM f WHERE NOT is_old),
      |old_fps AS (SELECT DISTINCT fp FROM f WHERE is_old)
      |SELECT n.fp, min(n.doc_id) AS keep_id, count(*) AS n_batch
      |FROM new_docs n ANTI JOIN old_fps o ON n.fp = o.fp
      |GROUP BY n.fp ORDER BY n.fp""".stripMargin

  // ------------------------------------------------------------------ q68
  /** Context-window chunking ([[graft.curate.Curation.chunkSpans]]):
    * 32-token chunks with 8-token overlap per document — narrow
    * per-row explode, no shuffle. */
  def q68ChunkSpans(s: SparkSession, dir: String): DataFrame =
    graft.curate.Curation.chunkSpans(
        Tables.documents(s, dir).withColumn("n_tokens",
          TextAnalysis.tokenCount(col("text")).cast("long")),
        "doc_id", "n_tokens", chunkLen = 32, overlap = 8)
      .select(col("doc_id"), col("chunk_id"), col("start_tok"),
        col("end_tok"), col("chunk_tokens"))
      .orderBy(col("doc_id"), col("chunk_id"))

  val q68Oracle: String =
    """WITH t AS (SELECT doc_id,
      |    CAST(len(regexp_extract_all(text, '[^ \t\n\r]+')) AS BIGINT) AS n_tokens
      |  FROM documents),
      |s AS (SELECT doc_id, n_tokens,
      |    unnest(generate_series(0, n_tokens - 1, 24)) AS start_tok
      |  FROM t WHERE n_tokens > 0)
      |SELECT doc_id, start_tok // 24 AS chunk_id, start_tok,
      |  least(start_tok + 32, n_tokens) AS end_tok,
      |  least(start_tok + 32, n_tokens) - start_tok AS chunk_tokens
      |FROM s ORDER BY doc_id, chunk_id""".stripMargin

  // ------------------------------------------------------------------ q63
  /** Exact substring-level dedup ([[Dedup.substringDupGroups]]): every
    * 20-char canonical span shared by >= 2 documents, hashed by the
    * native one-pass Rabin–Karp window kernel. The oracle re-hashes
    * each window independently (O(n·k)); the kernel's slide is
    * value-identical at O(n). */
  def q63SubstringDup(s: SparkSession, dir: String): DataFrame =
    Dedup.substringDupGroups(docsSpread(s, dir), "doc_id", "text", k = 20)
      .orderBy(col("wh"))

  val q63Oracle: String =
    """WITH c AS (SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS ct
      |  FROM documents),
      |h AS (SELECT doc_id, list_distinct(list_transform(
      |    generate_series(1, greatest(length(ct) - 19, 0)),
      |    i -> list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(
      |           generate_series(CAST(i AS INT), CAST(i + 19 AS INT)),
      |           j -> CAST(ascii(substr(ct, CAST(j AS INT), 1)) AS BIGINT))),
      |         (acc, x) -> (acc * 257 + x) % 2147483647))) AS whs
      |  FROM c),
      |u AS (SELECT doc_id, unnest(whs) AS wh FROM h)
      |SELECT wh, min(doc_id) AS keep_id, count(*) AS n_docs
      |FROM u GROUP BY wh HAVING count(*) >= 2 ORDER BY wh""".stripMargin

  // ------------------------------------------------------------------ q71
  /** Vocabulary induction ([[graft.text.WordGrams.vocabulary]]):
    * corpus-wide token occurrence + document frequencies with a
    * min-count floor — the tokenizer-building first step. */
  def q71Vocabulary(s: SparkSession, dir: String): DataFrame =
    graft.text.WordGrams.vocabulary(docsSpread(s, dir), "doc_id", "text",
        minCount = 20)
      .orderBy(desc("n_occurrences"), col("token"))

  val q71Oracle: String =
    """WITH toks AS (SELECT doc_id,
      |    unnest(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')) AS token
      |  FROM documents)
      |SELECT token, count(*) AS n_occurrences,
      |  count(DISTINCT doc_id) AS n_docs
      |FROM toks WHERE len(token) > 0 GROUP BY token
      |HAVING count(*) >= 20
      |ORDER BY n_occurrences DESC, token""".stripMargin

  // ------------------------------------------------------------------ q55
  /** Exact corpus heavy hitters ([[graft.text.HeavyHitters]]): every
    * token with frequency ≥ total/400, exact counts and integer-bp
    * shares, found WITHOUT shuffling the vocabulary — per-partition
    * Misra–Gries candidates (provable superset, bounded driver
    * metadata) then an exact broadcast-filtered count. Result is
    * partitioning-independent, so the plain groupBy DuckDB oracle
    * hash-matches. */
  def q55HeavyHitters(s: SparkSession, dir: String): DataFrame =
    graft.text.HeavyHitters.heavyTokens(docsSpread(s, dir), "text", k = 400)

  val q55Oracle: String =
    """WITH toks AS (SELECT unnest(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')) AS token
      |  FROM documents),
      |t AS (SELECT token FROM toks WHERE len(token) > 0),
      |tot AS (SELECT count(*) AS n FROM t)
      |SELECT token, count(*) AS n_occurrences,
      |  CAST((10000 * count(*)) // max(n) AS BIGINT) AS share_bp
      |FROM t, tot GROUP BY token, tot.n HAVING count(*) * 400 >= tot.n
      |ORDER BY n_occurrences DESC, token""".stripMargin

  // ------------------------------------------------------------------ q72
  /** Deterministic train/val/test split
    * ([[graft.curate.Curation.assignSplit]], 80/10/10 by id hash) with
    * a per-(split, source) rollup — stable under repartitioning,
    * engine swaps and corpus growth. */
  def q72SplitAssign(s: SparkSession, dir: String): DataFrame =
    graft.curate.Curation.assignSplit(
        Tables.documents(s, dir).withColumn("n_tokens",
          TextAnalysis.tokenCount(col("text")).cast("long")),
        "doc_id",
        Seq(("train", 0.8), ("val", 0.1), ("test", 0.1)))
      .groupBy(col("split"), col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
      .orderBy(col("split"), col("source"))

  val q72Oracle: String =
    """WITH d AS (SELECT source,
      |    CAST(len(regexp_extract_all(text, '[^ \t\n\r]+')) AS BIGINT) AS n_tokens,
      |    CAST(CAST(('0x' || substring(md5(doc_id::VARCHAR || 'graft-split'), 1, 8)) AS BIGINT) AS DOUBLE)
      |      / 4294967296.0 AS frac
      |  FROM documents)
      |SELECT CASE WHEN frac < 0.8 THEN 'train'
      |            WHEN frac < 0.9 THEN 'val' ELSE 'test' END AS split,
      |  source, count(*) AS n_docs,
      |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens
      |FROM d GROUP BY 1, 2 ORDER BY split, source""".stripMargin

  // ------------------------------------------------------------------ q84
  /** Deterministic fixed-size stratified sample
    * ([[graft.curate.Curation.sampleFixedK]]): exactly min(k, |stratum|)
    * docs per source, the k smallest by (md5, id) — the "n eval docs
    * per domain" primitive. Two-phase top-k inside (per-bucket rank
    * then a ≤256·k-row global rank), value-identical to the oracle's
    * single per-stratum window. */
  def q84FixedKSample(s: SparkSession, dir: String): DataFrame =
    graft.curate.Curation.sampleFixedK(
        Tables.documents(s, dir), "doc_id", "source", k = 25)
      .select(col("doc_id"), col("source"), col("sample_rank"))
      .orderBy(col("doc_id"))

  val q84Oracle: String =
    """WITH r AS (SELECT doc_id, source,
      |    row_number() OVER (PARTITION BY source
      |      ORDER BY md5(doc_id::VARCHAR || 'graft'), doc_id) AS sample_rank
      |  FROM documents)
      |SELECT doc_id, source, sample_rank
      |FROM r WHERE sample_rank <= 25 ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------------ q88
  /** Weighted fixed-size sample ([[graft.curate.Curation
    * .sampleWeightedK]]): 20 docs per source, token-count-weighted
    * priority draw — long documents win proportionally more often, the
    * "sample by contribution, not by row" curation primitive. Priority
    * arithmetic is exact-rounded IEEE only, so the draw hash-matches
    * the oracle. */
  def q88WeightedSample(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .withColumn("n_tokens",
        TextAnalysis.tokenCount(col("text")).cast("long"))
    graft.curate.Curation.sampleWeightedK(
        docs, "doc_id", "source", "n_tokens", k = 20)
      .select(col("doc_id"), col("source"), col("n_tokens"),
        col("sample_rank"))
      .orderBy(col("doc_id"))
  }

  val q88Oracle: String =
    """WITH t AS (SELECT doc_id, source,
      |    CAST(len(regexp_extract_all(text, '[^ \t\n\r]+')) AS BIGINT) AS n_tokens,
      |    (CAST(CAST(('0x' || substring(md5(doc_id::VARCHAR || 'graft'), 1, 8)) AS BIGINT) + 1 AS DOUBLE)
      |      / 4294967296.0) AS u
      |  FROM documents),
      |r AS (SELECT doc_id, source, n_tokens,
      |    row_number() OVER (PARTITION BY source
      |      ORDER BY (CAST(n_tokens AS DOUBLE) / u) DESC, doc_id) AS sample_rank
      |  FROM t WHERE n_tokens > 0)
      |SELECT doc_id, source, n_tokens, sample_rank
      |FROM r WHERE sample_rank <= 20 ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------------ q97
  /** Domain-mixture rebalancing under a token budget
    * ([[graft.curate.Curation.mixtureSample]]): target weights 0.5 /
    * 0.25 / 0.125 / 0.125 over four sources with a 4000-token budget —
    * each stratum subsamples at `min(1, budget·w / avail)` toward the
    * target mix, by-value md5 Bernoulli, one tiny stats aggregate plus
    * one narrow filter. At the sf0.01 gate src0 is UNDERSUPPLIED
    * (target 2000 > avail), exercising the rate-1 cap branch (deficit
    * reported by `mixtureRates`, never silently redistributed). */
  def q97MixtureRebalance(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .withColumn("n_tokens",
        TextAnalysis.tokenCount(col("text")).cast("long"))
    graft.curate.Curation.mixtureSample(
        docs, "doc_id", "source", "n_tokens",
        targets = Map("src0" -> 0.5, "src1" -> 0.25,
          "src2" -> 0.125, "src3" -> 0.125),
        tokenBudget = 4000L)
      .select(col("doc_id"), col("source"), col("n_tokens"),
        round(col("sample_rate"), 6).as("sample_rate"))
      .orderBy(col("doc_id"))
  }

  val q97Oracle: String =
    """WITH t AS (SELECT doc_id, source,
      |    CAST(len(regexp_extract_all(text, '[^ \t\n\r]+')) AS BIGINT) AS n_tokens,
      |    CAST(CAST(('0x' || substring(md5(doc_id::VARCHAR || 'graft'), 1, 8)) AS BIGINT) AS DOUBLE) AS hk
      |  FROM documents WHERE source IN ('src0', 'src1', 'src2', 'src3')),
      |a AS (SELECT source, sum(n_tokens) AS avail FROM t GROUP BY source),
      |r AS (SELECT t.doc_id, t.source, t.n_tokens, t.hk,
      |    least(1.0, (4000.0 * CASE t.source WHEN 'src0' THEN 0.5
      |      WHEN 'src1' THEN 0.25 ELSE 0.125 END) / CAST(a.avail AS DOUBLE)) AS rate
      |  FROM t JOIN a ON t.source = a.source)
      |SELECT doc_id, source, n_tokens, round(rate, 6) AS sample_rate
      |FROM r WHERE hk < rate * 4294967296.0
      |ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------------ q98
  /** Cross-corpus boilerplate line removal
    * ([[Dedup.stripCommonLines]]): the CCNet/RefinedWeb cleaning stage
    * — a trim-normalized non-empty line found in ≥ 4 distinct docs is
    * navigation/footer boilerplate and is struck everywhere, the
    * document reassembled in original line order. The synthetic corpus
    * is single-line, so eight planted multi-line docs (−200..−193,
    * q45's planted pattern) carry two shared boilerplate lines and one
    * unique line each: the oracle proves the shared lines vanish from
    * ALL of them, the unique lines and the whole untouched corpus
    * survive byte-exactly (md5 of the reassembled text). */
  def q98LineDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val planted = (0 until 8).map { i =>
      (-200L + i,
        "cookie notice: we value your privacy\n" +
          s"unique finding number $i\n" +
          "subscribe to our newsletter")
    }.toDF("doc_id", "text")
    val corpus = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      .unionByName(planted)
    Dedup.stripCommonLines(corpus, "doc_id", "text", minDocs = 4L)
      .select(col("doc_id"), col("n_kept"), col("n_dropped"),
        md5(col("clean_text")).as("clean_fp"))
      .orderBy(col("doc_id"))
  }

  val q98Oracle: String =
    """WITH u AS (SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT -200 + i, 'cookie notice: we value your privacy' || chr(10)
      |      || 'unique finding number ' || i::VARCHAR || chr(10)
      |      || 'subscribe to our newsletter'
      |    FROM generate_series(0, 7) AS g(i)),
      |l0 AS (SELECT doc_id,
      |    unnest(string_split(text, chr(10))) AS line,
      |    unnest(range(1, len(string_split(text, chr(10))) + 1)) AS i
      |  FROM u),
      |l AS (SELECT doc_id, i, line, trim(line) AS norm FROM l0),
      |b AS (SELECT norm FROM l WHERE norm <> ''
      |  GROUP BY norm HAVING count(DISTINCT doc_id) >= 4),
      |f AS (SELECT l.doc_id, l.i, l.line, b.norm IS NOT NULL AS is_b
      |  FROM l LEFT JOIN b ON l.norm = b.norm)
      |SELECT doc_id,
      |  CAST(sum(CASE WHEN NOT is_b THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      |  CAST(sum(CASE WHEN is_b THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
      |  md5(coalesce(string_agg(CASE WHEN NOT is_b THEN line END,
      |    chr(10) ORDER BY i), '')) AS clean_fp
      |FROM f GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------------ q87
  /** Sketch-tier cardinality profile
    * ([[graft.etl.Profiler.cardinalityProfile]]): distinct text
    * fingerprints per source via HyperLogLog++ next to the exact audit
    * count. The sketch value is engine-specific (no oracle); instead
    * `approx_ok` bounds the sketch against the exact column in-query —
    * false anywhere means HLL++ left its declared 3·rsd envelope. At
    * 100 TB the exact tier switches off (`withExact = false`) and only
    * constant-size registers shuffle. */
  def q87SketchProfile(s: SparkSession, dir: String): DataFrame =
    graft.etl.Profiler.cardinalityProfile(
        Tables.documents(s, dir)
          .select(col("source"), md5(col("text")).as("fp")),
        "source", "fp", rsd = 0.05)
      .withColumn("rel_err", round(col("rel_err"), 6))
      .orderBy(col("source"))

  // ------------------------------------------------------------------ q73
  /** TF-IDF keyword extraction: per-document top-3 tokens by
    * tf · ln(N/df) — term counts and document frequencies are two
    * aggregations over the exploded token table (both keyed on the
    * token side, map-side combinable), the corpus size N rides a
    * 1-row broadcast, and the per-doc top-k is a window over the
    * scored (doc, token) rows. Scores round to 6 decimals so the
    * cross-engine ln() ulp cannot flip the hash. */
  def q73TfidfKeywords(s: SparkSession, dir: String): DataFrame = {
    val docs = docsSpread(s, dir)
    val toks = docs.select(col("doc_id"),
        explode(graft.text.WordGrams.tokens(col("text"))).as("token"))
      .where(length(col("token")) > 0)
    val tf = toks.groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("token").asc)
    tf.join(dfreq, "token").crossJoin(broadcast(n))
      .withColumn("score",
        round(col("tf") * log(col("n_docs") / col("df")), 6))
      .withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= 3)
      .select(col("doc_id"), col("rnk"), col("token"), col("score"))
      .orderBy(col("doc_id"), col("rnk"))
  }

  val q73Oracle: String =
    """WITH d AS (SELECT doc_id,
      |    unnest(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')) AS token
      |  FROM documents),
      |tf AS (SELECT doc_id, token, count(*) AS tf FROM d
      |       WHERE len(token) > 0 GROUP BY doc_id, token),
      |dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
      |n AS (SELECT count(*) AS n_docs FROM documents),
      |scored AS (SELECT tf.doc_id, tf.token,
      |    round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 6) AS score
      |  FROM tf JOIN dfreq df USING (token) CROSS JOIN n),
      |ranked AS (SELECT doc_id, token, score,
      |    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, token ASC) AS rnk
      |  FROM scored)
      |SELECT doc_id, rnk, token, score FROM ranked
      |WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin

  // ------------------------------------------------------------------ q62
  /** Adaptive per-source length cutoffs
    * ([[graft.curate.Curation.quantileCutoff]]): each source's own
    * token-count p25/p90 band becomes its keep filter — the
    * per-domain percentile filtering pattern, with exact interpolated
    * quantiles and the band's keep count per source. */
  def q62QuantileCutoff(s: SparkSession, dir: String): DataFrame =
    graft.curate.Curation.quantileCutoff(
        Tables.documents(s, dir).withColumn("n_tokens",
          TextAnalysis.tokenCount(col("text")).cast("double")),
        "source", "n_tokens", loP = 0.25, midP = 0.5, hiP = 0.9)
      .select(col("source"), col("p_lo").as("p25"), col("p_mid").as("p50"),
        col("p_hi").as("p90"), col("n_rows").as("n_docs"), col("n_kept"))
      .orderBy(col("source"))

  val q62Oracle: String =
    """WITH t AS (SELECT source,
      |    CAST(len(regexp_extract_all(text, '[^ \t\n\r]+')) AS DOUBLE) AS n_tokens
      |  FROM documents),
      |c AS (SELECT source,
      |    round(quantile_cont(n_tokens, 0.25), 6) AS p25,
      |    round(quantile_cont(n_tokens, 0.5), 6) AS p50,
      |    round(quantile_cont(n_tokens, 0.9), 6) AS p90,
      |    count(*) AS n_docs
      |  FROM t GROUP BY source)
      |SELECT c.source, p25, p50, p90, n_docs,
      |  CAST(sum(CASE WHEN t.n_tokens >= p25 AND t.n_tokens <= p90
      |                THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
      |FROM t JOIN c ON t.source = c.source
      |GROUP BY c.source, p25, p50, p90, n_docs
      |ORDER BY c.source""".stripMargin

  // ------------------------------------------------------------------ q48
  /** Benchmark decontamination ([[graft.text.WordGrams.decontaminate]]):
    * a deterministic md5-selected ~12% of the corpus plays the held-out
    * eval set; every remaining training doc is flagged with the number
    * of distinct word 5-grams it shares with ANY eval doc — the overlap
    * audit every LLM training pipeline runs before release. */
  private val EvalRate = 0.12
  private val evalHash =
    graft.curate.Curation.hashKey(col("doc_id"), "eval").cast("double")

  def q48Decontaminate(s: SparkSession, dir: String): DataFrame = {
    val docs = docsSpread(s, dir)
    val eval_ = docs.where(evalHash < EvalRate * 4294967296.0)
    val train = docs.where(evalHash >= EvalRate * 4294967296.0)
    graft.text.WordGrams.decontaminate(train, eval_, "doc_id", "text", n = 5)
      .orderBy(col("doc_id"))
  }

  private val gramCtes: String =
    """d AS (SELECT doc_id,
      |    string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS t,
      |    CAST(CAST(('0x' || substring(md5(doc_id::VARCHAR || 'eval'), 1, 8)) AS BIGINT) AS DOUBLE)
      |      < 0.12 * 4294967296.0 AS is_eval
      |  FROM documents)""".stripMargin

  val q48Oracle: String =
    s"""WITH $gramCtes,
       |g AS (SELECT doc_id, is_eval, t, unnest(generate_series(1, len(t) - 4)) AS i FROM d),
       |grams AS (SELECT DISTINCT doc_id, is_eval, array_to_string(t[i:i+4], ' ') AS gram FROM g),
       |eg AS (SELECT DISTINCT gram FROM grams WHERE is_eval),
       |hits AS (SELECT tg.doc_id, count(*) AS n_shared
       |         FROM grams tg JOIN eg USING (gram) WHERE NOT tg.is_eval
       |         GROUP BY tg.doc_id)
       |SELECT d.doc_id,
       |  CAST(coalesce(h.n_shared, 0) AS BIGINT) AS n_shared,
       |  coalesce(h.n_shared, 0) > 0 AS contaminated
       |FROM d LEFT JOIN hits h USING (doc_id)
       |WHERE NOT d.is_eval ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------------ q49
  /** Corpus-frequency gram mining ([[graft.text.WordGrams.commonGrams]]):
    * word 3-grams recurring in >= 5 distinct documents with their
    * document frequency — the input a boilerplate/common-gram filter
    * consumes. */
  def q49CommonGrams(s: SparkSession, dir: String): DataFrame =
    graft.text.WordGrams.commonGrams(docsSpread(s, dir), "doc_id", "text",
        n = 3, minDocs = 5)
      .orderBy(desc("doc_freq"), col("gram"))

  val q49Oracle: String =
    s"""WITH $gramCtes,
       |g AS (SELECT doc_id, t, unnest(generate_series(1, len(t) - 2)) AS i FROM d),
       |grams AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS gram FROM g)
       |SELECT gram, count(*) AS doc_freq FROM grams GROUP BY gram
       |HAVING count(*) >= 5 ORDER BY doc_freq DESC, gram""".stripMargin

  // ------------------------------------------------------------------ q50
  /** Container-sniffed metadata over a MIXED media corpus
    * ([[Multimodal.extractMeta]]): per doc_id the payload is a
    * spec-conformant PNG header, RIFF/WAVE header, ISO-BMFF box tree,
    * or raw text bytes — the magic-byte dispatch must route each to its
    * REAL parser (q81/q82/q91's kernels) and quarantine the text rows
    * in the explicit `unknown` branch. The `~` prefix on the text
    * branch keeps the oracle deterministic: corpus text could
    * legitimately begin with an ASCII container magic (`BM`, `GIF8`,
    * `RIFF`), which would dispatch differently than a fixed oracle
    * CASE predicts. All payloads are built on-cluster with
    * doc_id-derived parameters, so the oracle re-derives every parsed
    * field arithmetically. */
  def q50MultimodalMeta(s: SparkSession, dir: String): DataFrame = {
    import graft.expressions.{Mp4Header, PngHeader, WavHeader}
    val spark = s
    import spark.implicits._
    val m = pmod(col("doc_id"), lit(4))
    val payload = when(m === 0, PngHeader.pngHeader(
        (lit(100) + pmod(col("doc_id"), lit(1920))).cast("int"),
        (lit(100) + pmod(col("doc_id") * 7, lit(1080))).cast("int")))
      .when(m === 1, WavHeader.wavHeader(
        lit(16000).cast("int"), (length(col("text")) * 100).cast("int")))
      .when(m === 2, Mp4Header.mp4Header(
        lit(600).cast("int"), (length(col("text")) * 30).cast("int"),
        (pmod(col("doc_id"), lit(2)) + 1).cast("int")))
      .otherwise(encode(concat(lit("~"), col("text")), "UTF-8"))
    val recs = Tables.documents(s, dir)
      .select(col("doc_id").cast("long").as("media_id"),
        lit("mixed").as("kind"), payload.as("payload"))
      .as[MediaRecord]
    Multimodal.extractMeta(recs).orderBy(col("media_id"))
  }

  val q50Oracle: String =
    """SELECT doc_id AS media_id, 'mixed' AS kind,
      |  CAST(CASE doc_id % 4 WHEN 0 THEN 33 WHEN 1 THEN 44
      |       WHEN 2 THEN 132 + 8 * (doc_id % 2 + 1)
      |       ELSE octet_length(encode(text)) + 1 END AS BIGINT) AS byte_len,
      |  CASE doc_id % 4 WHEN 0 THEN 'png' WHEN 1 THEN 'wav'
      |       WHEN 2 THEN 'isom' ELSE 'unknown' END AS container,
      |  CAST(CASE WHEN doc_id % 4 = 0 THEN 100 + doc_id % 1920 END AS INTEGER) AS width,
      |  CAST(CASE WHEN doc_id % 4 = 0 THEN 100 + (doc_id * 7) % 1080 END AS INTEGER) AS height,
      |  CAST(CASE WHEN doc_id % 4 = 1 THEN 16000 END AS INTEGER) AS sample_rate,
      |  CAST(CASE WHEN doc_id % 4 = 1 THEN 1 END AS INTEGER) AS channels,
      |  CAST(CASE WHEN doc_id % 4 = 1 THEN 16 END AS INTEGER) AS bits_per_sample,
      |  CAST(CASE WHEN doc_id % 4 = 1 THEN length(text) * 100 END AS BIGINT) AS n_samples,
      |  CAST(CASE WHEN doc_id % 4 = 2 THEN 600 END AS INTEGER) AS timescale,
      |  CAST(CASE WHEN doc_id % 4 = 2 THEN length(text) * 30 END AS BIGINT) AS duration_ticks,
      |  CAST(CASE WHEN doc_id % 4 = 2 THEN doc_id % 2 + 1 END AS INTEGER) AS n_tracks
      |FROM documents ORDER BY media_id""".stripMargin

  // ------------------------------------------------------------------ q81
  /** Image-header metadata extraction with REAL byte-level parsing
    * ([[graft.expressions.ImageMeta]] — PNG/GIF/BMP/JPEG dimensions
    * from the payload, no codec library). The sandbox has no image
    * corpus, so payloads are BUILT on-cluster: a spec-conformant PNG
    * header per document whose dimensions derive from doc_id
    * ([[graft.expressions.PngHeader]], real CRC32); parsing them back
    * certifies the build→parse round trip against the arithmetic
    * oracle — unlike q50's declared stub, every byte here is real. */
  def q81ImageMeta(s: SparkSession, dir: String): DataFrame = {
    import graft.expressions.{ImageMeta, PngHeader}
    val payload = PngHeader.pngHeader(
      (lit(100) + pmod(col("doc_id"), lit(1920))).cast("int"),
      (lit(100) + pmod(col("doc_id") * 7, lit(1080))).cast("int"))
    Tables.documents(s, dir)
      .select(col("doc_id"), payload.as("payload"))
      .withColumn("meta", ImageMeta.imageMeta(col("payload")))
      .select(col("doc_id"),
        col("meta.format").as("format"),
        col("meta.width").as("width"),
        col("meta.height").as("height"),
        length(col("payload")).as("byte_len"))
      .orderBy(col("doc_id"))
  }

  val q81Oracle: String =
    """SELECT doc_id, 'png' AS format,
      |  CAST(100 + doc_id % 1920 AS INTEGER) AS width,
      |  CAST(100 + (doc_id * 7) % 1080 AS INTEGER) AS height,
      |  CAST(33 AS INTEGER) AS byte_len
      |FROM documents ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------------ q82
  /** Audio-container metadata ([[graft.expressions.AudioMeta]]): WAV
    * headers built on-cluster per document (8/16/44.1 kHz rotation,
    * sample count from doc length), parsed back with the RIFF chunk
    * walker, rolled up to per-rate duration totals — the audio
    * dataset-curation shape (duration budgeting per sampling rate),
    * certified by an arithmetic oracle like q81. */
  def q82AudioMeta(s: SparkSession, dir: String): DataFrame = {
    import graft.expressions.{AudioMeta, WavHeader}
    val rate = when(pmod(col("doc_id"), lit(3)) === 0, 8000)
      .when(pmod(col("doc_id"), lit(3)) === 1, 16000)
      .otherwise(44100).cast("int")
    val nSamples = (length(col("text")) * 100).cast("int")
    val meta = AudioMeta.audioMeta(WavHeader.wavHeader(rate, nSamples))
    Tables.documents(s, dir)
      .select(col("doc_id"), meta.as("m"))
      .select(col("m.sample_rate").as("sample_rate"),
        col("m.channels").as("channels"),
        col("m.bits_per_sample").as("bits_per_sample"),
        col("m.n_samples").as("n_samples"))
      .groupBy(col("sample_rate"), col("channels"), col("bits_per_sample"))
      .agg(count(lit(1)).as("n_clips"),
        sum(col("n_samples")).as("total_samples"))
      // Tie-safe seconds: the sf1 scale gate caught a half-tie here —
      // 495356300/16000 = 30959.76875 EXACTLY, and double `round(_, 4)`
      // resolves the tie differently across engines (Spark HALF_UPs the
      // shortest decimal repr; DuckDB rounds the binary double, which
      // sits below the tie). Integer half-up over the exact rational —
      // floor((20000·samples + rate) / (2·rate)) — is representation-
      // free and agrees everywhere; the final /10000.0 maps the same
      // integer to the same double in any IEEE engine.
      .withColumn("total_seconds",
        expr("(total_samples * 20000 + sample_rate) DIV (2 * sample_rate)")
          / lit(10000.0))
      .orderBy(col("sample_rate"))
  }

  val q82Oracle: String =
    """WITH m AS (SELECT doc_id,
      |    CASE WHEN doc_id % 3 = 0 THEN 8000
      |         WHEN doc_id % 3 = 1 THEN 16000 ELSE 44100 END AS sample_rate,
      |    CAST(length(text) * 100 AS BIGINT) AS n_samples
      |  FROM documents)
      |SELECT sample_rate, 1 AS channels, 16 AS bits_per_sample,
      |  count(*) AS n_clips,
      |  CAST(sum(n_samples) AS BIGINT) AS total_samples,
      |  ((CAST(sum(n_samples) AS BIGINT) * 20000 + sample_rate)
      |    // (2 * sample_rate)) / 10000.0 AS total_seconds
      |FROM m GROUP BY sample_rate ORDER BY sample_rate""".stripMargin

  // ------------------------------------------------------------------ q91
  /** Video-container metadata ([[graft.expressions.VideoMeta]]):
    * on-cluster-built ISO-BMFF payloads (ftyp + moov{mvhd, trak…})
    * parsed back by the native box-tree walker — build→parse round
    * trip, like q81 (PNG) and q82 (WAV). The rollup is the
    * video-curation budgeting shape: clips and total seconds per
    * (timescale, track count); the oracle re-derives the arithmetic
    * the payload round-trips. */
  def q91VideoMeta(s: SparkSession, dir: String): DataFrame = {
    import graft.expressions.{Mp4Header, VideoMeta}
    val timescale = when(pmod(col("doc_id"), lit(3)) === 0, 600)
      .when(pmod(col("doc_id"), lit(3)) === 1, 1000)
      .otherwise(90000).cast("int")
    val ticks = (length(col("text")) * 30).cast("int")
    val tracks = (pmod(col("doc_id"), lit(2)) + 1).cast("int")
    val meta = VideoMeta.videoMeta(
      Mp4Header.mp4Header(timescale, ticks, tracks))
    Tables.documents(s, dir)
      .select(col("doc_id"), meta.as("m"))
      .select(col("m.brand").as("brand"),
        col("m.timescale").as("timescale"),
        col("m.duration_ticks").as("duration_ticks"),
        col("m.n_tracks").as("n_tracks"))
      .groupBy(col("brand"), col("timescale"), col("n_tracks"))
      .agg(count(lit(1)).as("n_videos"),
        sum(col("duration_ticks")).as("total_ticks"))
      // Tie-safe seconds — same integer half-up as q82 (the sf1 gate
      // caught the double-round tie there; this is the same shape).
      .withColumn("total_seconds",
        expr("(total_ticks * 20000 + timescale) DIV (2 * timescale)")
          / lit(10000.0))
      .orderBy(col("timescale"), col("n_tracks"))
  }

  val q91Oracle: String =
    """WITH m AS (SELECT doc_id,
      |    CASE WHEN doc_id % 3 = 0 THEN 600
      |         WHEN doc_id % 3 = 1 THEN 1000 ELSE 90000 END AS timescale,
      |    CAST(length(text) * 30 AS BIGINT) AS duration_ticks,
      |    CAST(doc_id % 2 + 1 AS INTEGER) AS n_tracks
      |  FROM documents)
      |SELECT 'isom' AS brand, timescale, n_tracks, count(*) AS n_videos,
      |  CAST(sum(duration_ticks) AS BIGINT) AS total_ticks,
      |  ((CAST(sum(duration_ticks) AS BIGINT) * 20000 + timescale)
      |    // (2 * timescale)) / 10000.0 AS total_seconds
      |FROM m GROUP BY timescale, n_tracks ORDER BY timescale, n_tracks""".stripMargin

  // ------------------------------------------------------------------ q83
  /** Bloom-prefiltered incremental dedup
    * ([[Dedup.bloomDedupAgainstSnapshot]]): same semantics as q64 —
    * an md5-selected ~60 % of the corpus plays the snapshot, the rest
    * the batch — but the anti-join is gated by a snapshot Bloom filter
    * so only maybe-dup rows shuffle. Exactness is the oracle's claim:
    * false positives re-confirm through the real anti-join, so the
    * bloom path must hash-match the plain anti-join formulation.
    * The 2²⁰-key hint sits above `LocalTierMinKeys`, so auto-selection
    * dispatches the EXECUTOR-LOCAL range tier (round 8 — the measured
    * fastest at every size and the only one whose filter volume scales
    * past a single plan/driver budget), and the gate proves THAT tier
    * exact, not just the single-filter one. */
  def q83BloomDedup(s: SparkSession, dir: String): DataFrame = {
    val docs = docsSpread(s, dir)
    val snapHash =
      graft.curate.Curation.hashKey(col("doc_id"), "bloom").cast("double")
    val snapshot = docs.where(snapHash < 0.6 * 4294967296.0)
      .select(graft.text.TextAnalysis.fingerprint(col("text")).as("fp"))
      .distinct()
    val incoming = docs.where(snapHash >= 0.6 * 4294967296.0)
    // expectedItems: callers pass the known snapshot cardinality so
    // sizing never costs an extra counting pass (generous overestimates
    // only widen the filters, cheaply)
    Dedup.bloomDedupAgainstSnapshot(incoming, "doc_id", "text", snapshot,
        expectedItems = 1L << 20)
      .orderBy(col("fp"))
  }

  val q83Oracle: String =
    """WITH f AS (SELECT doc_id,
      |    md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp,
      |    CAST(CAST(('0x' || substring(md5(doc_id::VARCHAR || 'bloom'), 1, 8)) AS BIGINT) AS DOUBLE)
      |      < 0.6 * 4294967296.0 AS is_old
      |  FROM documents),
      |new_docs AS (SELECT doc_id, fp FROM f WHERE NOT is_old),
      |old_fps AS (SELECT DISTINCT fp FROM f WHERE is_old)
      |SELECT n.fp, min(n.doc_id) AS keep_id, count(*) AS n_batch
      |FROM new_docs n ANTI JOIN old_fps o ON n.fp = o.fp
      |GROUP BY n.fp ORDER BY n.fp""".stripMargin

  // ------------------------------------------------------------------ q113
  /** BM25 "more like this" keyword retrieval
    * ([[graft.retrieval.Bm25.moreLikeThis]]): each probe doc (id < 12)
    * queries the corpus with its 3 rarest tokens; top-5 other docs by
    * Okapi BM25 (Lucene idf, k1 = 1.2, b = 0.75) — the sparse/lexical
    * retrieval tier next to the q30 dense tier. All per-document
    * arithmetic is BIGINT (idf rounded ONCE to micro-nats on the
    * vocabulary table, tf-normalization as exact integer division), so
    * the ranking is engine-exact. */
  def q113Bm25Retrieval(s: SparkSession, dir: String): DataFrame =
    graft.retrieval.Bm25.moreLikeThis(
        docsSpread(s, dir), "doc_id", "text",
        probeFilter = _ < 12, nTerms = 3, k = 5)
      .orderBy(col("query_id"), col("rnk"))

  private val bm25Ctes: String =
    """toks AS (SELECT doc_id,
      |    unnest(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')) AS token
      |  FROM documents),
      |tf AS (SELECT doc_id, token, count(*) AS tf FROM toks
      |       WHERE len(token) > 0 GROUP BY doc_id, token),
      |dl AS (SELECT doc_id, CAST(len(list_filter(
      |      string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' '),
      |      x -> len(x) > 0)) AS BIGINT) AS dl
      |  FROM documents),
      |st AS (SELECT count(*) AS n_docs,
      |    CAST(least((100 * sum(dl)) // count(*), 4000000) AS BIGINT) AS ac FROM dl),
      |idf AS (SELECT token, df, st.ac,
      |    CAST(round(1e6 * ln(1 + (st.n_docs - df + 0.5) / (df + 0.5))) AS BIGINT) AS idf_micro
      |  FROM (SELECT token, count(*) AS df FROM tf GROUP BY token), st)""".stripMargin

  private def bm25RankSql(maxProbe: Int, nTerms: Int, depth: Int): String =
    s"""qt AS (SELECT query_id, token, idf_micro, ac FROM (
       |    SELECT tf.doc_id AS query_id, tf.token, idf.idf_micro, idf.ac,
       |      row_number() OVER (PARTITION BY tf.doc_id
       |        ORDER BY idf.df ASC, tf.token ASC) AS tr
       |    FROM tf JOIN idf USING (token) WHERE tf.doc_id < $maxProbe)
       |  WHERE tr <= $nTerms),
       |sc AS (SELECT qt.query_id, tf.doc_id,
       |    CAST(sum((qt.idf_micro * ((1000000 * 22 * least(tf.tf, 100000) * qt.ac)
       |        // (10 * least(tf.tf, 100000) * qt.ac + 3 * qt.ac + 900 * dl.dl))) // 1000000)
       |      AS BIGINT) AS bm25_micro
       |  FROM tf JOIN qt USING (token) JOIN dl ON tf.doc_id = dl.doc_id
       |  WHERE tf.doc_id != qt.query_id
       |  GROUP BY qt.query_id, tf.doc_id),
       |bm AS (SELECT query_id, doc_id, bm25_micro,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY bm25_micro DESC, doc_id ASC) AS rnk
       |  FROM sc QUALIFY rnk <= $depth)""".stripMargin

  val q113Oracle: String =
    s"""WITH $bm25Ctes,
       |${bm25RankSql(maxProbe = 12, nTerms = 3, depth = 5)}
       |SELECT query_id, rnk, doc_id, bm25_micro FROM bm
       |ORDER BY query_id, rnk""".stripMargin

  // ------------------------------------------------------------------ q114
  /** Hybrid retrieval by reciprocal-rank fusion
    * ([[graft.retrieval.Fusion.rrf]]): the q113 BM25 lexical ranking and
    * the q30 dense cosine ranking (same probe ids < 8, both at depth
    * 20, doc/vec id spaces joined by the shared id convention) fused
    * with RRF c = 60 to a top-10 — the standard two-tower retrieval
    * merge, integer-exact (1e6 div (60 + rank) contributions). */
  def q114RrfFusion(s: SparkSession, dir: String): DataFrame = {
    val lexical = graft.retrieval.Bm25.moreLikeThis(
        docsSpread(s, dir), "doc_id", "text",
        probeFilter = _ < 8, nTerms = 3, k = 20)
      .withColumnRenamed("doc_id", "cand_id")
    val e = embSpread(s, dir)
    val dense = Ann.bruteForceTopK(
        e.where(col("vec_id") < 8), e, "vec_id", "embedding", k = 20)
      .select(col("query_id"), col("neighbor_id").as("cand_id"),
        col("rank").as("rnk"))
    graft.retrieval.Fusion.rrf(Seq(lexical, dense), c = 60, k = 10)
      .orderBy(col("query_id"), col("rnk"))
  }

  val q114Oracle: String =
    s"""WITH $bm25Ctes,
       |${bm25RankSql(maxProbe = 8, nTerms = 3, depth = 20)},
       |w AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
       |    list_inner_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])) AS self_dot
       |  FROM embeddings),
       |cs AS (SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
       |    row_number() OVER (PARTITION BY q.vec_id
       |      ORDER BY list_inner_product(q.v, c.v) / sqrt(q.self_dot * c.self_dot) DESC,
       |               c.vec_id ASC) AS rnk
       |  FROM w q JOIN w c ON q.vec_id < 8 AND q.vec_id != c.vec_id
       |  QUALIFY rnk <= 20),
       |u AS (SELECT query_id, doc_id AS cand_id, rnk FROM bm
       |      UNION ALL SELECT query_id, cand_id, rnk FROM cs),
       |fused AS (SELECT query_id, cand_id,
       |    CAST(sum(1000000 // (60 + rnk)) AS BIGINT) AS rrf_micro,
       |    count(*) AS n_rankers
       |  FROM u GROUP BY query_id, cand_id)
       |SELECT query_id, rnk, cand_id, rrf_micro, n_rankers FROM (
       |  SELECT query_id, cand_id, rrf_micro, n_rankers,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY rrf_micro DESC, cand_id ASC) AS rnk
       |  FROM fused) WHERE rnk <= 10
       |ORDER BY query_id, rnk""".stripMargin

  // ------------------------------------------------------------------ q115
  /** Unicode script-mix profile ([[graft.text.ScriptMix.rollup]]):
    * per-(source, dominant-script) codepoint-class counts plus the
    * Latin↔Cyrillic adjacency flag (the confusable-spoof / mojibake
    * signature language ID misses). The generated corpus is ASCII, so
    * the query plants deterministic multilingual noise the q103 way —
    * Cyrillic confusables (e→е) on doc_id % 7 = 3, a CJK suffix on
    * % 11 = 5, Greek alphas (a→α) on % 13 = 8 — before profiling; all
    * metrics are class-removal regex codepoint counts, hash-exact. */
  def q115ScriptMix(s: SparkSession, dir: String): DataFrame = {
    val planted = docsSpread(s, dir)
      .withColumn("p",
        when(col("doc_id") % 7 === 3,
          regexp_replace(col("text"), "e", "е")).otherwise(col("text")))
      .withColumn("p",
        when(col("doc_id") % 11 === 5,
          concat(col("p"), lit(" 模型訓練資料"))).otherwise(col("p")))
      .withColumn("p",
        when(col("doc_id") % 13 === 8,
          regexp_replace(col("p"), "a", "α")).otherwise(col("p")))
    graft.text.ScriptMix.rollup(planted, "doc_id", "source", "p")
      .orderBy(col("source"), col("script"))
  }

  val q115Oracle: String =
    """WITH d AS (SELECT doc_id, source,
      |    CASE WHEN doc_id % 13 = 8 THEN replace(p2, 'a', 'α') ELSE p2 END AS p
      |  FROM (SELECT doc_id, source,
      |      CASE WHEN doc_id % 11 = 5 THEN p1 || ' 模型訓練資料' ELSE p1 END AS p2
      |    FROM (SELECT doc_id, source,
      |        CASE WHEN doc_id % 7 = 3 THEN replace(text, 'e', 'е') ELSE text END AS p1
      |      FROM documents))),
      |m AS (SELECT doc_id, source,
      |    length(p) - length(regexp_replace(p, '[A-Za-z]', '', 'g')) AS latin_cp,
      |    length(p) - length(regexp_replace(p, '[Ѐ-ӿ]', '', 'g')) AS cyr_cp,
      |    length(p) - length(regexp_replace(p, '[Ͱ-Ͽ]', '', 'g')) AS greek_cp,
      |    length(p) - length(regexp_replace(p, '[一-鿿]', '', 'g')) AS cjk_cp,
      |    length(p) - length(regexp_replace(p, '[0-9]', '', 'g')) AS digit_cp,
      |    length(p) AS n_cp,
      |    regexp_matches(p, '[A-Za-z][Ѐ-ӿ]|[Ѐ-ӿ][A-Za-z]') AS mixed
      |  FROM d),
      |c AS (SELECT source, latin_cp, cyr_cp, greek_cp, cjk_cp, digit_cp, mixed,
      |    n_cp - latin_cp - cyr_cp - greek_cp - cjk_cp - digit_cp AS other_cp,
      |    CASE WHEN latin_cp >= cyr_cp AND latin_cp >= greek_cp
      |              AND latin_cp >= cjk_cp AND latin_cp > 0 THEN 'latin'
      |         WHEN cyr_cp >= greek_cp AND cyr_cp >= cjk_cp
      |              AND cyr_cp > 0 THEN 'cyrillic'
      |         WHEN greek_cp >= cjk_cp AND greek_cp > 0 THEN 'greek'
      |         WHEN cjk_cp > 0 THEN 'cjk' ELSE 'none' END AS script
      |  FROM m)
      |SELECT source, script, count(*) AS n_docs,
      |  CAST(sum(CASE WHEN mixed THEN 1 ELSE 0 END) AS BIGINT) AS n_mixed,
      |  CAST(sum(latin_cp) AS BIGINT) AS latin_cp,
      |  CAST(sum(cyr_cp) AS BIGINT) AS cyr_cp,
      |  CAST(sum(greek_cp) AS BIGINT) AS greek_cp,
      |  CAST(sum(cjk_cp) AS BIGINT) AS cjk_cp,
      |  CAST(sum(digit_cp) AS BIGINT) AS digit_cp,
      |  CAST(sum(other_cp) AS BIGINT) AS other_cp
      |FROM c GROUP BY source, script ORDER BY source, script""".stripMargin

  // ------------------------------------------------------------------ q117
  /** KMV-sketch cross-source overlap ([[graft.sketch.Kmv]]): the SCALE
    * TIER of q38 — per-source bottom-256 sketches over the distinct
    * word-8-gram hashes, pairwise Jaccard / union / intersection
    * estimates computed on the |sources| × 256 metadata table alone.
    * Unlike the HLL tier (q87) the KMV sketch is fully deterministic
    * (md5 bottom-k + integer rationals), so the ESTIMATES themselves
    * are hash-exact against a DuckDB oracle computing the identical
    * sketch; KmvSpec separately bounds them against q38's exact
    * answers. */
  def q117OverlapSketch(s: SparkSession, dir: String): DataFrame = {
    val grams = graft.text.WordGrams.grams(
        docsSpread(s, dir), "doc_id", "text", n = 8)
      .join(Tables.documents(s, dir).select(col("doc_id"), col("source")),
        Seq("doc_id"))
    val sk = graft.sketch.Kmv.minK(grams, "source", "gram", k = 256)
    graft.sketch.Kmv.pairwiseOverlap(sk, k = 256)
      .orderBy(col("src_a"), col("src_b"))
  }

  val q117Oracle: String =
    """WITH d AS (SELECT doc_id, source,
      |    string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS t
      |  FROM documents),
      |g AS (SELECT source, t, unnest(generate_series(1, len(t) - 7)) AS i FROM d),
      |hs AS (SELECT DISTINCT source,
      |    CAST(('0x' || substring(md5(array_to_string(t[i:i+7], ' ') || 'kmv'), 1, 15)) AS BIGINT) AS h
      |  FROM g),
      |sk AS (SELECT source, h FROM (
      |    SELECT source, h, row_number() OVER (PARTITION BY source ORDER BY h) AS r
      |    FROM hs) WHERE r <= 256),
      |px AS (SELECT a.source AS src_a, b.source AS src_b
      |  FROM (SELECT DISTINCT source FROM sk) a
      |  JOIN (SELECT DISTINCT source FROM sk) b ON a.source < b.source),
      |u AS (SELECT src_a, src_b, h, count(*) AS n_sides FROM (
      |    SELECT px.src_a, px.src_b, sk.h FROM px JOIN sk ON sk.source = px.src_a
      |    UNION ALL
      |    SELECT px.src_a, px.src_b, sk.h FROM px JOIN sk ON sk.source = px.src_b)
      |  GROUP BY src_a, src_b, h),
      |agg AS (SELECT src_a, src_b,
      |    list(struct_pack(h := h, in_both := n_sides = 2) ORDER BY h) AS hs
      |  FROM u GROUP BY src_a, src_b),
      |e AS (SELECT src_a, src_b,
      |    CAST(least(len(hs), 256) AS BIGINT) AS k_used,
      |    CAST(len(list_filter(hs[1:256], x -> x.in_both)) AS BIGINT) AS n_both,
      |    hs[least(len(hs), 256)].h AS theta,
      |    CASE WHEN len(hs) >= 256
      |      THEN CAST(floor(255.0 * 1152921504606846976.0
      |             / CAST(hs[256].h AS DOUBLE)) AS BIGINT)
      |      ELSE CAST(len(hs) AS BIGINT) END AS union_est
      |  FROM agg)
      |SELECT src_a, src_b, k_used, n_both, theta, union_est,
      |  CAST((1000000 * n_both) // k_used AS BIGINT) AS jaccard_est_ppm,
      |  CAST((n_both * union_est) // k_used AS BIGINT) AS inter_est
      |FROM e ORDER BY src_a, src_b""".stripMargin

  // ------------------------------------------------------------------ q120
  /** Classifier calibration curve ([[graft.curate.Classifier
    * .calibration]]): the q100 NB model's winner-vs-runner-up margin
    * banded at 0.2 nats, with per-band accuracy — the audit a
    * score-thresholded quality filter needs before its threshold means
    * anything. Integer micro-nat margins over the round-once model
    * cells, so the whole curve is hash-exact. */
  def q120NbCalibration(s: SparkSession, dir: String): DataFrame =
    // train + calibrate over the same corpus share one tokenize +
    // bucket-hash pass (calibrationSelf) — output-identical to the
    // former trainModel + calibration pair
    graft.curate.Classifier.calibrationSelf(
        docsSpread(s, dir), "doc_id", "text", "source")
      .orderBy(col("band"))

  val q120Oracle: String =
    s"""WITH $nbCtes,
       |ranked AS (SELECT doc_id, actual, cls, score,
       |    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, cls ASC) AS rn
       |  FROM perclass),
       |md AS (SELECT r1.actual, r1.cls AS predicted,
       |    r1.score - r2.score AS margin
       |  FROM ranked r1 JOIN ranked r2
       |    ON r1.doc_id = r2.doc_id AND r1.rn = 1 AND r2.rn = 2),
       |b AS (SELECT CAST(least(margin // 200000, 9) AS BIGINT) AS band,
       |    (predicted = actual) AS correct, margin FROM md)
       |SELECT band, count(*) AS n_docs,
       |  CAST(sum(CASE WHEN correct THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
       |  CAST((1000000 * sum(CASE WHEN correct THEN 1 ELSE 0 END)) // count(*)
       |    AS BIGINT) AS accuracy_ppm,
       |  CAST(sum(margin) // count(*) AS BIGINT) AS mean_margin_micro
       |FROM b GROUP BY band ORDER BY band""".stripMargin

  // ------------------------------------------------------------------ q119
  /** Approximate k-NN graph over the WHOLE corpus
    * ([[Ann.knnGraph]]): every embedding's top-5 cosine neighbors from
    * symmetric capped LSH buckets — the edge set graph-based dedup /
    * clustering walks. Approximate by design (no oracle): the planted
    * identical pair must be each other's rank-1 neighbor, and recall@5
    * is measured for the probe block (ids < 8) against inline
    * brute-force truth. */
  def q119KnnGraph(s: SparkSession, dir: String): DataFrame = {
    val e = embSpread(s, dir)
    val dim = e.select(size(col("embedding")).as("d")).head().getInt(0)
    val corpus = e.select(col("vec_id"), col("embedding"))
      .unionByName(plantedVecs(s, dim))
    withPlantedAndRecall(
        Ann.knnGraph(corpus, "vec_id", "embedding", dim = dim,
          k = 5, numTables = 8, maxBucketSize = 2000)
          .withColumnRenamed("rank", "rnk"),
        plantedTopKCond,
        Ann.bruteForceTopK(corpus.where(col("vec_id") < 8), corpus,
          "vec_id", "embedding", k = 5)
          .select(col("query_id"), col("neighbor_id")),
        Seq("query_id", "neighbor_id"), floor = 0.4)
      .orderBy(col("query_id"), col("rnk"))
  }

  // ------------------------------------------------------------------ q118
  /** Within-document line dedup ([[Dedup.dedupLinesWithinDoc]]): strike
    * every repeat of a trimmed line INSIDE its own document (blank
    * lines and original order preserved) — the intra-doc
    * self-repetition cleanup, next to q98's cross-corpus strike. Docs
    * with planted 3× repeated lines prove the op bites; clean docs
    * pass through with n_dropped = 0 and an unchanged fingerprint. */
  def q118LineSelfDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val planted = (0 until 6).map { i =>
      (-300L + i,
        s"unique heading $i\nrepeated promo line\nbody text $i\n" +
          "repeated promo line\n\nrepeated promo line")
    }.toDF("doc_id", "text")
    val corpus = docsSpread(s, dir).select(col("doc_id"), col("text"))
      .unionByName(planted)
    Dedup.dedupLinesWithinDoc(corpus, "doc_id", "text")
      .select(col("doc_id"), col("n_kept"), col("n_dropped"),
        md5(col("clean_text")).as("clean_fp"))
      .orderBy(col("doc_id"))
  }

  val q118Oracle: String =
    """WITH u AS (SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT -300 + i,
      |      'unique heading ' || i::VARCHAR || chr(10) || 'repeated promo line'
      |      || chr(10) || 'body text ' || i::VARCHAR || chr(10)
      |      || 'repeated promo line' || chr(10) || chr(10) || 'repeated promo line'
      |    FROM generate_series(0, 5) AS g(i)),
      |l0 AS (SELECT doc_id,
      |    unnest(string_split(coalesce(text, ''), chr(10))) AS line,
      |    unnest(range(1, len(string_split(coalesce(text, ''), chr(10))) + 1)) AS i
      |  FROM u),
      |l AS (SELECT doc_id, i, line, trim(line) AS norm,
      |    min(i) OVER (PARTITION BY doc_id, trim(line)) AS first_i
      |  FROM l0),
      |f AS (SELECT doc_id, i, line,
      |    (norm = '' OR i = first_i) AS keep FROM l)
      |SELECT doc_id,
      |  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      |  CAST(sum(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT) AS n_dropped,
      |  md5(coalesce(string_agg(CASE WHEN keep THEN line END,
      |    chr(10) ORDER BY i), '')) AS clean_fp
      |FROM f GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------------ q116
  /** Semantic diversity-cap sampling (the DC2/SemDeDup-adjacent
    * "cluster-cap" curation step): the q36 auditable k-means assigns
    * every embedding to a topic cluster, then at most 40 vectors per
    * cluster survive in deterministic hash order — over-represented
    * semantic regions are capped instead of near-dup-pruned. The
    * assignment is materialized ONCE (lazy checkpoint) and feeds both
    * the cluster-size report and the two-phase per-cluster top-k;
    * everything downstream of the corpus scan is engine-exact, so the
    * oracle walks the same k-means rounds plus the same capped window. */
  def q116DiversityCap(s: SparkSession, dir: String): DataFrame = {
    val asg = graft.util.Blocks.lazyCheckpoint(
      graft.sim.IntKMeans.cluster(embSpread(s, dir), "vec_id", "embedding",
          k = 8, iters = 2)
        .select(col("id").as("vec_id"), col("cluster")))
    val sizes = broadcast(asg.groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_in_cluster")))
    graft.curate.Curation.sampleFixedK(asg, "vec_id", "cluster",
        k = 40, salt = "divcap")
      .join(sizes, "cluster")
      .select(col("cluster"), col("vec_id"), col("sample_rank"),
        col("n_in_cluster"))
      .orderBy(col("cluster"), col("sample_rank"))
  }

  val q116Oracle: String =
    s"""WITH $kmeansCtes,
       |asg AS (SELECT vec_id, CAST(cl AS INTEGER) AS cluster FROM s3
       |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2, cl) = 1),
       |sz AS (SELECT cluster, count(*) AS n_in_cluster FROM asg GROUP BY cluster),
       |r AS (SELECT vec_id, cluster,
       |    row_number() OVER (PARTITION BY cluster
       |      ORDER BY md5(vec_id::VARCHAR || 'divcap'), vec_id) AS sample_rank
       |  FROM asg)
       |SELECT r.cluster, r.vec_id, r.sample_rank, sz.n_in_cluster
       |FROM r JOIN sz USING (cluster) WHERE sample_rank <= 40
       |ORDER BY cluster, sample_rank""".stripMargin

  // ------------------------------------------------------------------ q121
  /** PMI collocation mining ([[graft.text.WordGrams.collocations]]):
    * adjacent word pairs occurring >= 5 times ranked by pointwise
    * mutual information in integer micro-nats — the phrase /
    * multi-word-expression signal a tokenizer-vocab or phrase-table
    * build consumes. Engine-exact: counts are integers, the PMI ratio
    * is all-double left-to-right arithmetic rounded once (the q113
    * idf convention). */
  def q121PmiCollocations(s: SparkSession, dir: String): DataFrame =
    graft.text.WordGrams.collocations(docsSpread(s, dir), "doc_id", "text",
        minPairCount = 5)
      .orderBy(desc("pmi_micro"), col("w1"), col("w2"))

  val q121Oracle: String =
    """WITH d AS (SELECT doc_id,
      |    string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS t
      |  FROM documents),
      |tok AS (SELECT doc_id, unnest(t) AS tok FROM d),
      |tok2 AS (SELECT tok FROM tok WHERE tok <> ''),
      |g AS (SELECT doc_id, t, unnest(generate_series(1, len(t) - 1)) AS i FROM d),
      |pr AS (SELECT t[i] AS w1, t[i + 1] AS w2 FROM g
      |  WHERE t[i] <> '' AND t[i + 1] <> ''),
      |pc AS (SELECT w1, w2, count(*) AS n_pair FROM pr GROUP BY 1, 2
      |  HAVING count(*) >= 5),
      |un AS (SELECT tok, count(*) AS n FROM tok2 GROUP BY 1),
      |tt AS (SELECT count(*) AS t_tok FROM tok2),
      |tp AS (SELECT count(*) AS t_pair FROM pr)
      |SELECT w1, w2, n_pair, u1.n AS n_w1, u2.n AS n_w2,
      |  CAST(round(1e6 * ln(CAST(n_pair AS DOUBLE) * CAST(t_tok AS DOUBLE)
      |      * CAST(t_tok AS DOUBLE)
      |      / (CAST(t_pair AS DOUBLE) * CAST(u1.n AS DOUBLE)
      |        * CAST(u2.n AS DOUBLE)))) AS BIGINT) AS pmi_micro
      |FROM pc JOIN un u1 ON pc.w1 = u1.tok JOIN un u2 ON pc.w2 = u2.tok, tt, tp
      |ORDER BY pmi_micro DESC, w1, w2""".stripMargin

  // ------------------------------------------------------------------ q125
  /** BM25 hard-negative mining ([[graft.retrieval.Bm25.hardNegatives]]):
    * per probe, the top-1 BM25 retrieval as positive and ranks 4–8 as
    * hard negatives — the lexical counterpart of q123's embedding
    * triples, fully deterministic (integer micro-nat scores) and so
    * hash-gateable end to end. */
  def q125Bm25HardNegatives(s: SparkSession, dir: String): DataFrame =
    graft.retrieval.Bm25.hardNegatives(
        docsSpread(s, dir), "doc_id", "text",
        probeFilter = _ < 12, nTerms = 3, negFrom = 4, negTo = 8)
      .orderBy(col("query_id"), col("neg_rank"))

  val q125Oracle: String =
    s"""WITH $bm25Ctes,
       |${bm25RankSql(maxProbe = 12, nTerms = 3, depth = 8)}
       |SELECT p.query_id, p.doc_id AS pos_id,
       |  p.bm25_micro AS pos_bm25_micro, n.rnk AS neg_rank,
       |  n.doc_id AS neg_id, n.bm25_micro AS neg_bm25_micro
       |FROM bm p JOIN bm n ON p.query_id = n.query_id
       |  AND p.rnk = 1 AND n.rnk BETWEEN 4 AND 8
       |ORDER BY p.query_id, neg_rank""".stripMargin

  // ------------------------------------------------------------------ q124
  /** Bounded-memory deterministic quantile profile
    * ([[graft.curate.Curation.sampleQuantileProfile]]): per-source
    * p10/p50/p90 of doc length over a fixed-256 md5 bottom-k sample +
    * the exact source count — the hash-gateable scale tier between
    * exact `percentile` (O(stratum) memory) and `approx_percentile`
    * (bounded but engine-varying). */
  def q124SampleQuantiles(s: SparkSession, dir: String): DataFrame =
    graft.curate.Curation.sampleQuantileProfile(
        Tables.documents(s, dir), "doc_id", "source", "n_chars",
        k = 256, loP = 0.1, midP = 0.5, hiP = 0.9, salt = "sqp")
      .orderBy(col("source"))

  val q124Oracle: String =
    """WITH s AS (SELECT source, n_chars,
      |    row_number() OVER (PARTITION BY source
      |      ORDER BY md5(doc_id::VARCHAR || 'sqp'), doc_id) AS r
      |  FROM documents),
      |c AS (SELECT source, count(*) AS n_rows FROM documents GROUP BY 1),
      |q AS (SELECT source, count(*) AS n_sampled,
      |    round(quantile_cont(n_chars, 0.1), 6) AS p_lo,
      |    round(quantile_cont(n_chars, 0.5), 6) AS p_mid,
      |    round(quantile_cont(n_chars, 0.9), 6) AS p_hi
      |  FROM s WHERE r <= 256 GROUP BY 1)
      |SELECT c.source, n_rows, n_sampled, p_lo, p_mid, p_hi
      |FROM c JOIN q USING (source) ORDER BY source""".stripMargin

  // ------------------------------------------------------------------ q123
  /** Contrastive triple mining ([[Ann.contrastiveTriples]]): per
    * anchor embedding, one in-band positive (cos ∈ [0.8, 0.999] —
    * similar but not a duplicate) and the hardest negative (best
    * candidate below 0.5) from the knnGraph edge set — the
    * (anchor, positive, hard-negative) training rows a DPR/SimCSE-
    * style embedding trainer consumes. Approximate by design (no
    * oracle): a planted geometric triple (anchor −2, a cos-0.98
    * rotation −1, a cos-0.2 rotation −3) must mine (−2, −1) as its
    * positive, and recall of the mined positives is measured for the
    * probe block against exact in-band brute-force truth. */
  // ------------------------------------------------------------------ q127
  /** Deterministic distributed logistic regression
    * ([[graft.curate.Classifier.logisticRegression]]): an is-English
    * classifier over hashed binary unigram features, 2 full-batch
    * gradient rounds with integer micro-nat residuals — iterative ML
    * whose trained weights hash-match a DuckDB re-derivation of the
    * same rounds (double gradient sums would be aggregation-order-
    * dependent; per-doc single rounding + BIGINT sums are not). */
  def q127LogregLangid(s: SparkSession, dir: String): DataFrame =
    graft.curate.Classifier.logisticRegression(
        docsSpreadCpu(s, dir), "doc_id", "text", col("lang") === "en",
        buckets = 256, rounds = 2, lrPpm = 1000000L)
      .orderBy(col("b"))

  val q127Oracle: String =
    """WITH toks AS (SELECT doc_id,
      |    unnest(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')) AS tok
      |  FROM documents),
      |feat AS (SELECT DISTINCT doc_id,
      |    CAST(CAST(('0x' || substring(md5(tok), 1, 8)) AS BIGINT) % 256 AS BIGINT) AS b
      |  FROM toks WHERE tok <> ''),
      |lab AS (SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
      |  FROM documents WHERE doc_id IN (SELECT doc_id FROM feat)),
      |n AS (SELECT count(*) AS n FROM lab),
      |r1 AS (SELECT doc_id, CAST(1000000 * y - 500000 AS BIGINT) AS r FROM lab),
      |g1 AS (SELECT b, CAST(sum(r) AS BIGINT) AS g FROM r1
      |  JOIN feat USING (doc_id) GROUP BY b),
      |g10 AS (SELECT CAST(sum(r) AS BIGINT) AS g FROM r1),
      |spine AS (SELECT unnest(generate_series(0, 255)) AS b),
      |w1 AS (SELECT s.b,
      |    CAST((1000000 * COALESCE(g1.g, 0)) // (1000000 * n.n) AS BIGINT) AS w
      |  FROM spine s LEFT JOIN g1 ON s.b = g1.b, n),
      |w10 AS (SELECT CAST((1000000 * g) // (1000000 * n.n) AS BIGINT) AS w
      |  FROM g10, n),
      |sw2 AS (SELECT feat.doc_id, CAST(sum(w1.w) AS BIGINT) AS sw
      |  FROM feat JOIN w1 ON feat.b = w1.b GROUP BY feat.doc_id),
      |r2 AS (SELECT lab.doc_id, CAST(round(1000000 * (lab.y
      |    - 1 / (1 + exp(-((w10.w + COALESCE(sw2.sw, 0)) / 1000000.0)))))
      |    AS BIGINT) AS r
      |  FROM lab LEFT JOIN sw2 USING (doc_id), w10),
      |g2 AS (SELECT b, CAST(sum(r) AS BIGINT) AS g FROM r2
      |  JOIN feat USING (doc_id) GROUP BY b),
      |g20 AS (SELECT CAST(sum(r) AS BIGINT) AS g FROM r2),
      |w2 AS (SELECT s.b, CAST(w1.w
      |    + (1000000 * COALESCE(g2.g, 0)) // (1000000 * n.n) AS BIGINT) AS w_micro
      |  FROM spine s JOIN w1 ON s.b = w1.b LEFT JOIN g2 ON s.b = g2.b, n),
      |w20 AS (SELECT CAST(w10.w + (1000000 * g20.g) // (1000000 * n.n)
      |    AS BIGINT) AS w_micro FROM w10, g20, n)
      |SELECT CAST(-1 AS BIGINT) AS b, w_micro FROM w20
      |UNION ALL SELECT b, w_micro FROM w2
      |ORDER BY b""".stripMargin

  // ------------------------------------------------------------------ q128
  /** The q127 filter APPLIED ([[graft.curate.Classifier.logisticScore]]):
    * every document scored by the trained is-English weights —
    * integer score, once-rounded p_ppm, keep verdict decided on the
    * INTEGER score — the serving half of the train→filter pair. */
  def q128LogregFilter(s: SparkSession, dir: String): DataFrame =
    // train + serve over the SAME corpus share one hashed-feature pass
    // (logisticTrainScore) — output-identical to the former
    // logisticRegression + logisticScore pair
    graft.curate.Classifier.logisticTrainScore(
        docsSpreadCpu(s, dir), "doc_id", "text", col("lang") === "en",
        buckets = 256, rounds = 2, lrPpm = 1000000L)
      .orderBy(col("doc_id"))

  val q128Oracle: String = q127Oracle.replace(
    """SELECT CAST(-1 AS BIGINT) AS b, w_micro FROM w20
      |UNION ALL SELECT b, w_micro FROM w2
      |ORDER BY b""".stripMargin,
    """, sw3 AS (SELECT feat.doc_id, CAST(sum(w2.w_micro) AS BIGINT) AS sw
      |  FROM feat JOIN w2 ON feat.b = w2.b GROUP BY feat.doc_id)
      |SELECT d.doc_id,
      |  CAST(w20.w_micro + COALESCE(sw3.sw, 0) AS BIGINT) AS s_micro,
      |  CAST(round(1000000 * (1 / (1 + exp(-((w20.w_micro + COALESCE(sw3.sw, 0))
      |    / 1000000.0))))) AS BIGINT) AS p_ppm,
      |  (w20.w_micro + COALESCE(sw3.sw, 0)) >= 0 AS keep
      |FROM documents d LEFT JOIN sw3 USING (doc_id), w20
      |ORDER BY d.doc_id""".stripMargin)

  // ------------------------------------------------------------------ q129
  /** The END-TO-END training-data pipeline as ONE hash-gated query:
    * LR quality filter (q127's trained weights, integer keep verdict)
    * → exact text dedup (min doc_id per md5) → per-source token budget
    * (1 500 tokens each, deterministic hash order) → the q109 shard
    * manifest over the survivors. Every stage is an already-verified
    * library operator; the point of the composition is that the WHOLE
    * pipeline — including the trained model inside it — stays
    * engine-deterministic, so one DuckDB re-derivation hash-checks the
    * final manifest a training run would consume. The data lineage is
    * fully declarative — the only driver-side transfers are the LR
    * pattern's model-sized ones (per-round 256-value gradients, the
    * 1-row bias read), bounded by construction. Corpus note: on the
    * perturbed chained corpora the ABSOLUTE keep verdict legitimately
    * keeps nothing (both engines derive the same empty manifest — the
    * 10× hash gate is green); q130 is the production-style composition
    * with a relative cutoff that never degenerates. */
  def q129PipelineManifest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    // one shared hashed-feature pass for train + serve (see q128)
    val kept = graft.curate.Classifier.logisticTrainScore(
        docsSpreadCpu(s, dir), "doc_id", "text", col("lang") === "en",
        buckets = 256, rounds = 2, lrPpm = 1000000L)
      .where(col("keep")).select(col("doc_id"))
    val corpus = docs.join(kept, "doc_id")
    val keepIds = corpus.groupBy(md5(col("text")).as("_fp"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    val deduped = corpus.join(keepIds, "doc_id")
      .withColumn("n_tokens",
        TextAnalysis.tokenCount(col("text")).cast("long"))
    val selected = graft.curate.Curation.tokenBudget(
      deduped, "doc_id", "source", "n_tokens", budget = 1500L)
    graft.curate.Curation.shardManifest(
        selected, "doc_id", "text", "n_tokens", shards = 8, epoch = 1)
      .orderBy(col("shard"))
  }

  val q129Oracle: String = q127Oracle.replace(
    """SELECT CAST(-1 AS BIGINT) AS b, w_micro FROM w20
      |UNION ALL SELECT b, w_micro FROM w2
      |ORDER BY b""".stripMargin,
    """, sw3 AS (SELECT feat.doc_id, CAST(sum(w2.w_micro) AS BIGINT) AS sw
      |  FROM feat JOIN w2 ON feat.b = w2.b GROUP BY feat.doc_id),
      |kept AS (SELECT d.doc_id, d.source, d.text
      |  FROM documents d LEFT JOIN sw3 USING (doc_id), w20
      |  WHERE w20.w_micro + COALESCE(sw3.sw, 0) >= 0),
      |dd AS (SELECT min(doc_id) AS doc_id FROM kept GROUP BY md5(text)),
      |ded AS (SELECT k.doc_id, k.source, k.text,
      |    CAST(len(regexp_extract_all(k.text, '[^ \t\n\r]+')) AS BIGINT) AS n_tokens,
      |    md5(k.doc_id::VARCHAR || 'graft') AS hk
      |  FROM kept k JOIN dd USING (doc_id)),
      |run AS (SELECT doc_id, source, text, n_tokens,
      |    sum(n_tokens) OVER (PARTITION BY source ORDER BY hk, doc_id) AS running
      |  FROM ded),
      |sel AS (SELECT doc_id, text, n_tokens,
      |    CAST(CAST(('0x' || substring(md5(doc_id::VARCHAR || 'graft-epoch-1'), 1, 8)) AS BIGINT) % 8 AS INTEGER) AS shard,
      |    CAST(('0x' || substring(md5(doc_id::VARCHAR || ':' || md5(text)), 1, 15)) AS BIGINT) AS fp
      |  FROM run WHERE running <= 1500)
      |SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
      |  bit_xor(fp) AS content_fp,
      |  min(doc_id) AS min_id, max(doc_id) AS max_id
      |FROM sel GROUP BY shard ORDER BY shard""".stripMargin)

  // ------------------------------------------------------------------ q130
  /** The FULL pretraining-curation pipeline composed end-to-end —
    * q129's chain with the two stages a production pipeline adds:
    *
    *   Gopher rules (q110) → PII scrub (q45) → RELATIVE LR quality
    *   cutoff (q127's model + q124's deterministic sample median —
    *   keep the top half by p_ppm; q128's absolute sign verdict is
    *   honest model behavior but keeps NOTHING on the perturbed
    *   chained corpora, emptying everything downstream) → MinHash
    *   cluster-collapse near-dedup + canonical keep (q54/q99) →
    *   exact dedup (q20) → uniform token budget (q28) → shard
    *   manifest (q109)
    *
    * Every stage is an already-verified library operator; the
    * composition's deterministic stages are hash-gated END-TO-END by
    * the q129 oracle (the absolute-verdict chain minus near-dedup),
    * and the near-dup stage — approximate by design (MinHash banding
    * is not SQL-expressible) — is covered by a PLANTED near-dup
    * family: four long English variants of one document (pairwise
    * char-3-gram J ≈ 0.9) injected at the COLLAPSE stage's input — it
    * audits that stage, so it must reach it at every scale (its
    * absolute quality score is corpus-dependent; the filters' behavior
    * on real rows is covered by q110/q45/q127/q128's own gates) — and
    * must collapse to exactly ONE canonical survivor; `planted_ok`
    * rides every output row (PlantedPairSpec asserts it). No oracle
    * → the driver records rows-only; the audit column and a spec
    * assertion carry the affirmative signal.
    *
    * Scale shape: inherits each stage's verified plan — narrow
    * filter/scrub projections, the broadcast-model LR pass, the
    * sub-linear cluster-first collapse (16.2 s at 100× in BENCH_NOTES),
    * the two-phase budget prefix-sum, and the shard rollup. The only
    * materialization is the near-dedup input (read by the collapse,
    * the canonical-keep score, and the survivor assembly). */
  def q130CurationPipeline(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val familyBase = "the quick brown fox jumps over the lazy dog and " +
      "that is the sentence every keyboard test has to offer because it " +
      "contains most letters of the alphabet while still reading like " +
      "plain english prose with common words that any quality filter " +
      "should be happy to keep around for training data purposes"
    val planted = (0 until 4).map { i =>
      (-410L - i, "planted", s"$familyBase variant tail number $i")
    }.toDF("doc_id", "source", "text")
    val base = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), col("lang"), col("text"))
    // 1+2. Gopher rules (q110 thresholds) + PII scrub. annotate spreads
    // the one-task corpus scan itself and returns a checkpointed
    // verdict, so the `.where(gopher_ok)` below reads a stored boolean
    // on every core (see GopherRules.annotate for the pushdown trap).
    // The scrub is materialized here too, because three consumers
    // (LR train, LR score, the keep join) read it. Scrub-before-filter
    // is output-identical (dropped rows are dropped either way; the
    // verdict is computed on the UNscrubbed text).
    val annotatedScrubbed = graft.util.Blocks.lazyCheckpoint(
      graft.text.GopherRules.annotate(base, "text",
          graft.text.GopherRules.Thresholds(minWords = 5, minStopWords = 1))
        .select(col("doc_id"), col("source"), col("lang"),
          graft.text.Pii.scrub(col("text")).as("text"), col("gopher_ok")))
    val scrubbedLang = annotatedScrubbed.where(col("gopher_ok"))
      .select(col("doc_id"), col("source"), col("lang"), col("text"))
    val scrubbed = scrubbedLang
      .select(col("doc_id"), col("source"), col("text"))
    // 3. LR quality filter, RELATIVE form: keep the top half by
    // integer quality score — the DataComp/FineWeb-style "keep the
    // best X%" cutoff a production pipeline uses instead of the raw
    // sign verdict (q128's absolute keep is honest model behavior but
    // degenerates to keep-nothing on the perturbed chained corpora,
    // emptying everything downstream). The cutoff is the p50 of the
    // q124-style deterministic md5-bottom-256 sample of p_ppm —
    // bounded memory, engine-exact, never degenerate. The model TRAINS
    // on the same scrubbed stream it scores (train-input =
    // serve-input; training on the raw corpus would shift feature
    // distributions past the scrub rewrite).
    // one shared hashed-feature pass for train + serve (see q128);
    // scrubbedLang and scrubbed carry the same rows and text, so
    // scoring from the training frame is row-identical
    val scored = graft.curate.Classifier.logisticTrainScore(
      scrubbedLang, "doc_id", "text", col("lang") === "en",
      buckets = 256, rounds = 2, lrPpm = 1000000L)
    val cutoff = graft.curate.Curation.sampleQuantileProfile(
        scored.withColumn("_g", lit("all")), "doc_id", "_g", "p_ppm",
        k = 256, loP = 0.5, midP = 0.5, hiP = 0.5, salt = "q130cut")
      .select(col("p_mid"))
    val keepIds = scored.crossJoin(broadcast(cutoff))
      .where(col("p_ppm") >= col("p_mid")).select(col("doc_id"))
    // the planted near-dup family enters HERE — after the filters,
    // before near-dedup: it audits the COLLAPSE stage, so it must
    // reach that stage at every scale (its absolute quality score is
    // corpus-dependent; the filters' behavior on real rows is already
    // covered by q110/q45/q127/q128's own gates)
    val filtered = graft.util.Blocks.lazyCheckpoint(
      scrubbed.join(keepIds, "doc_id").unionByName(planted))
    // 4. near-dedup: q54's cluster-first collapse in WORD-3-gram
    // space (char 3-grams weld this small-vocab corpus into one giant
    // component — word shingles keep the clusters to genuine
    // near-dups), q99's canonical keep (longest canonical text, ties
    // to the smallest id); unclustered docs pass through
    val labels = Dedup.nearDupCollapseFromShingles(
      filtered.select(col("doc_id").as("id"),
        Dedup.wordShingles(col("text"), 3).as("sh")),
      numPerm = 32, bands = 8, threshold = 0.5)
    val canonical = Dedup.keepCanonical(
        labels.withColumnRenamed("id", "doc_id"),
        filtered.select(col("doc_id"),
          length(TextAnalysis.canonical(col("text"))).cast("long")
            .as("clen")),
        "doc_id", "clen")
      .select(col("keep_id").as("doc_id"))
    val nearDeduped = graft.util.Blocks.lazyCheckpoint(
      filtered.join(labels.select(col("id").as("doc_id")),
          Seq("doc_id"), "left_anti")
        .unionByName(filtered.join(canonical, "doc_id")))
    // planted audit: the four-variant family must collapse to ONE
    val audit = nearDeduped.agg(
      (count(when(col("doc_id").between(-413L, -410L), 1)) === 1)
        .as("planted_ok"))
    // 5–7. exact dedup → uniform token budget → shard manifest
    val exactKeep = nearDeduped
      .groupBy(md5(col("text")).as("_fp"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    val deduped = nearDeduped.join(exactKeep, "doc_id")
      .withColumn("n_tokens",
        TextAnalysis.tokenCount(col("text")).cast("long"))
    val selected = graft.curate.Curation.tokenBudget(
      deduped, "doc_id", "source", "n_tokens", budget = 1500L)
    graft.curate.Curation.shardManifest(
        selected, "doc_id", "text", "n_tokens", shards = 8, epoch = 1)
      .crossJoin(broadcast(audit))
      .orderBy(col("shard"))
  }

  // ------------------------------------------------------------------ q131
  /** Asymmetric CONTAINMENT dedup ([[Dedup.containmentJoinPrefix]]):
    * ordered (contained, container) pairs at word-3-gram containment
    * |A∩B|/|A| ≥ 0.8 within a language block — the boilerplate-wrapped
    * copy signal symmetric Jaccard (q23) structurally misses (a short
    * article pasted inside a long template has J ≈ |A|/|B| but
    * containment ≈ 1). Runs the LOSSLESS prefix-filtered tier — the
    * scale shape (contained-side prefix tokens probe short posting
    * lists; candidates ids-only) — whose output is value-identical to
    * the all-pairs scan, so the DuckDB oracle is the plain quadratic
    * formulation. Planted: a core paragraph (−421) wrapped in site
    * boilerplate (−420) must surface as contained. */
  def q131ContainmentDup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val wrapper = "every page of this site carries the same header " +
      "navigation footer and legal boilerplate text around the content"
    val core = "the actual article body discusses shuffle partitioning " +
      "and broadcast joins in considerable depth with measurements"
    val planted = Seq(
      (-420L, "en", s"$wrapper $core $wrapper"),
      (-421L, "en", core)).toDF("doc_id", "lang", "text")
    val docs = docsSpread(s, dir)
      .select(col("doc_id"), col("lang"), col("text"))
      .unionByName(planted)
    val sh = docs
      .select(col("doc_id").as("id"), col("lang").as("blk"),
        Dedup.wordShingles(col("text"), 3).as("sh"))
    Dedup.containmentJoinPrefix(sh, threshold = 0.8)
      .orderBy(col("contained_id"), col("container_id"))
  }

  val q131Oracle: String =
    """WITH u AS (SELECT doc_id, lang, text FROM documents
      |  UNION ALL SELECT -420, 'en',
      |    'every page of this site carries the same header navigation footer and legal boilerplate text around the content the actual article body discusses shuffle partitioning and broadcast joins in considerable depth with measurements every page of this site carries the same header navigation footer and legal boilerplate text around the content'
      |  UNION ALL SELECT -421, 'en',
      |    'the actual article body discusses shuffle partitioning and broadcast joins in considerable depth with measurements'),
      |c AS (SELECT doc_id, lang,
      |    string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS t
      |  FROM u),
      |s AS (SELECT doc_id, lang,
      |    list_distinct(list_transform(generate_series(1, len(t) - 2),
      |      i -> array_to_string(t[i:i+2], ' '))) AS sh
      |  FROM c)
      |SELECT a.doc_id AS contained_id, b.doc_id AS container_id,
      |  CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS n_shared,
      |  round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      |    / greatest(len(a.sh), 1), 6) AS containment
      |FROM s a JOIN s b ON a.lang = b.lang AND a.doc_id != b.doc_id
      |WHERE len(a.sh) > 0
      |  AND round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      |    / greatest(len(a.sh), 1), 6) >= 0.8
      |ORDER BY contained_id, container_id""".stripMargin

  // ------------------------------------------------------------------ q132
  /** Leakage-SAFE train/val/test split
    * ([[graft.curate.Curation.leakageSafeSplit]]): near-dup clusters
    * (the q23 char-3-gram J ≥ 0.5 space contracted by q26's connected
    * components) are assigned to splits ATOMICALLY via the
    * engine-portable md5 fraction of the CLUSTER id — the PREVENTION
    * counterpart of q39's leakage audit (q39 detects near-dups
    * straddling a split; this makes straddling impossible by
    * construction). The planted identical pair (−2/−1) lands in one
    * cluster and therefore one split — implied by the hash-exact
    * oracle, which re-derives the clusters with the q26 recursive CTE
    * and the same split CASE. Exact tier at gate scale; at corpus
    * scale the caller feeds [[Dedup.nearDupCollapseFromShingles]]'s
    * cluster-first labels instead — the split logic is
    * label-source-agnostic. */
  def q132LeakageSafeSplit(s: SparkSession, dir: String): DataFrame = {
    val docs = docsSpread(s, dir)
      .select(col("doc_id"), col("lang"), col("text"))
      .unionByName(plantedDocs(s).select(col("doc_id"),
        lit("en").as("lang"), col("text")))
    // cluster consumer → forest tier (identical components; see q26)
    val pairs = Dedup.jaccardForestPairs(
      docs.select(col("doc_id").as("id"), col("lang").as("blk"),
          TextAnalysis.canonical(col("text")).as("ct"))
        .select(col("id"), col("blk"),
          Dedup.charShinglesFrom(col("ct"), 3).as("sh")),
      threshold = 0.5)
    val labels = Dedup.connectedComponents(
      pairs.select(col("id_a"), col("id_b")))
    graft.curate.Curation.leakageSafeSplit(docs.select(col("doc_id")), "doc_id",
        labels.select(col("id"), col("comp")),
        Seq(("train", 0.8), ("val", 0.1), ("test", 0.1)))
      .select(col("doc_id"), col("cluster_id"), col("split"))
      .orderBy(col("doc_id"))
  }

  val q132Oracle: String =
    """WITH RECURSIVE u AS (SELECT doc_id, lang, text FROM documents
      |  UNION ALL SELECT -2, 'en', 'graft planted sentinel document alpha beta gamma delta epsilon zeta eta theta iota kappa lambda'
      |  UNION ALL SELECT -1, 'en', 'graft planted sentinel document alpha beta gamma delta epsilon zeta eta theta iota kappa lambda'),
      |c AS (SELECT doc_id, lang,
      |    trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS ctext
      |  FROM u),
      |s AS (SELECT doc_id, lang,
      |    list_distinct(list_transform(
      |      generate_series(1, greatest(length(ctext) - 2, 1)),
      |      i -> substr(ctext, i, 3))) AS sh
      |  FROM c),
      |p AS (SELECT l.doc_id AS a, r.doc_id AS b
      |  FROM s l JOIN s r ON l.lang = r.lang AND l.doc_id < r.doc_id
      |  WHERE round(CAST(len(list_intersect(l.sh, r.sh)) AS DOUBLE)
      |    / CAST(len(l.sh) + len(r.sh) - len(list_intersect(l.sh, r.sh)) AS DOUBLE), 6) >= 0.5),
      |bi(lhs, rhs) AS (SELECT a, b FROM p UNION SELECT b, a FROM p),
      |r(src, reach) AS (
      |  SELECT lhs, lhs FROM bi
      |  UNION
      |  SELECT r.src, b.rhs FROM r JOIN bi b ON r.reach = b.lhs),
      |comp AS (SELECT src AS doc_id, min(reach) AS cluster_id
      |  FROM r GROUP BY src),
      |k AS (SELECT d.doc_id,
      |    coalesce(comp.cluster_id, d.doc_id) AS cluster_id
      |  FROM u d LEFT JOIN comp USING (doc_id)),
      |f AS (SELECT doc_id, cluster_id,
      |    CAST(CAST(('0x' || substring(md5(cluster_id::VARCHAR || 'graft-split'), 1, 8)) AS BIGINT) AS DOUBLE)
      |      / 4294967296.0 AS frac
      |  FROM k)
      |SELECT doc_id, cluster_id,
      |  CASE WHEN frac < 0.8 THEN 'train'
      |       WHEN frac < 0.9 THEN 'val' ELSE 'test' END AS split
      |FROM f ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------------ q126
  /** SemDeDup-style semantic cluster walk over the kNN graph: q119's
    * edge set thresholded at cos ≥ 0.9, contracted by
    * [[Dedup.connectedComponents]] (labels converge to the cluster's
    * MIN id), one row per clustered vector with its label and the
    * canonical-keep verdict (`is_kept` = the min-id member). The
    * graph-based variant next to q85's centroid blocking and q54's
    * MinHash text collapse — cluster-first, so nothing ever pays for
    * the quadratic pair list. Consumes the SHARED persisted edge
    * snapshot ([[sharedSimilarityEdges]] / [[graft.sim.KnnEdgeStore]])
    * at rank ≤ 8 — the edge build is paid once per corpus, not per
    * consumer. Approximate (no oracle): the planted
    * cos-0.98 pair must share a cluster, and recovery of the 32
    * planted (probe, cos-0.95 copy) pairs is the measured recall. */
  def q126SemanticClusters(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val out = Ann.clustersFromEdges(
      sharedSimilarityEdges(s, dir), simThreshold = 0.9, maxRank = 8)
    val truth = (0L until 32L).map(i => (i, -100L - i))
      .toDF("vec_id", "cluster_id")
    withPlantedAndRecall(out,
        col("vec_id") === -1L && col("cluster_id") === -2L,
        truth, Seq("vec_id", "cluster_id"), floor = 0.5)
      .orderBy(col("cluster_id"), col("vec_id"))
  }

  /** ONE persisted edge snapshot per sf dir, shared by every kNN-graph
    * consumer in the suite (q123 triples, q126 cluster walk) — the
    * [[graft.sim.KnnEdgeStore]] materialize-once tier: at 100× the
    * ~35 s edge build was previously paid independently by each
    * consumer. Built at the LARGEST k any consumer needs (32; q126
    * consumes the rank ≤ 8 subgraph, which is exactly the 8-NN graph
    * by the deterministic rank order). JVM-scoped memoization: the
    * snapshot lands in a fresh temp directory per process, so a stale
    * store can never leak across corpora or sessions. */
  private val edgeStores =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def sharedSimilarityEdges(
      s: SparkSession, dir: String): DataFrame = {
    val store = edgeStores.computeIfAbsent(dir, _ => {
      val path = java.nio.file.Files
        .createTempDirectory("graft-knn-edges-").toString
      val (corpus, dim) = plantedSimilarityCorpus(s, dir)
      graft.sim.KnnEdgeStore.buildVersion(corpus, "vec_id", "embedding",
        dim, k = 32, store = path, version = 1L, numTables = 8)
      path
    })
    graft.sim.KnnEdgeStore.readLatest(s, store)
  }

  /** Shared corpus assembly for q123/q126: the embeddings plus a
    * deterministic planted triple (anchor −2, a cos-0.98 rotation −1,
    * a cos-0.2 rotation −3) and a cos-0.95 rotated copy of every probe
    * vector (ids −100−i) — the corpus embeddings are near-random (max
    * natural cos ≈ 0.5), so in-band similar pairs must be PLANTED for
    * either query to have anything real to find. The pool is built
    * DISTRIBUTED with higher-order array functions — 32 rows of
    * interpreted work, never the corpus. Returns (corpus, dim). */
  private def plantedSimilarityCorpus(
      s: SparkSession, dir: String): (DataFrame, Int) = {
    import s.implicits._
    val e = embSpread(s, dir)
    val dim = e.select(size(col("embedding")).as("d")).head().getInt(0)
    val v = (0 until dim).map(j => ((j * 31 + 7) % 13 - 6).toDouble)
    val w0 = (0 until dim).map(j => ((j * 17 + 3) % 11 - 5).toDouble)
    val vn = math.sqrt(v.map(x => x * x).sum)
    val vh = v.map(_ / vn)
    val proj = w0.zip(vh).map { case (w, a) => w * a }.sum
    val wr = w0.zip(vh).map { case (w, a) => w - proj * a }
    val wn = math.sqrt(wr.map(x => x * x).sum)
    val wh = wr.map(_ / wn)
    def mix(a: Double, b: Double): Seq[Float] =
      vh.zip(wh).map { case (x, y) => (a * x + b * y).toFloat }
    val planted = Seq(
      (-2L, vh.map(_.toFloat)),
      (-1L, mix(0.98, math.sqrt(1 - 0.98 * 0.98))),
      (-3L, mix(0.2, math.sqrt(1 - 0.04)))).toDF("vec_id", "embedding")
    val pool = e.where(col("vec_id") < 32)
      .select((lit(-100L) - col("vec_id")).as("vec_id"),
        col("embedding").as("v"))
      .withColumn("w", array(wh.map(lit(_)): _*))
      .withColumn("vn", sqrt(expr(
        "aggregate(zip_with(v, v, (x, y) -> CAST(x AS DOUBLE) * y), 0D, (s, x) -> s + x)")))
      .withColumn("vh", expr("transform(v, x -> x / vn)"))
      .withColumn("pj", expr(
        "aggregate(zip_with(w, vh, (x, y) -> x * y), 0D, (s, x) -> s + x)"))
      .withColumn("wp", expr("zip_with(w, vh, (x, y) -> x - pj * y)"))
      .withColumn("wn", sqrt(expr(
        "aggregate(zip_with(wp, wp, (x, y) -> x * y), 0D, (s, x) -> s + x)")))
      .select(col("vec_id"), expr(
        "transform(zip_with(vh, wp, (a, b) -> 0.95 * a + 0.3122499 * b / wn), x -> CAST(x AS FLOAT))")
        .as("embedding"))
    (e.select(col("vec_id"), col("embedding"))
      .unionByName(planted).unionByName(pool), dim)
  }

  def q123ContrastiveTriples(s: SparkSession, dir: String): DataFrame = {
    val (corpus, dim) = plantedSimilarityCorpus(s, dir)
    val mined = Ann.triplesFromEdges(sharedSimilarityEdges(s, dir),
      posLo = 0.8, posHi = 0.999, negHi = 0.5)
    val truth = Ann.bruteForceTopK(
        corpus.where(col("vec_id").between(0, 31)), corpus,
        "vec_id", "embedding", k = 200)
      .where(col("cos_sim").between(0.8, 0.999))
      .groupBy(col("query_id").as("anchor_id"))
      .agg(max(struct(col("cos_sim").as("c"),
        (-col("neighbor_id")).as("negid"))).as("m"))
      .select(col("anchor_id"), (-col("m.negid")).as("pos_id"))
    withPlantedAndRecall(mined,
        col("anchor_id") === -2L && col("pos_id") === -1L,
        truth, Seq("anchor_id", "pos_id"), floor = 0.5)
      .orderBy(col("anchor_id"))
  }

  // ------------------------------------------------------------------ q122
  /** Zipf rank-frequency audit ([[graft.text.Zipf.zipfFit]]): per
    * source, the integer-OLS log-log slope of the token-frequency head
    * (top 1000 ranks) in ppm — natural prose fits s ≈ −1e6 ppm; a
    * source that drifts far off is template spam or non-prose. Milli-
    * nat points + pure integer least squares keep it hash-exact. */
  def q122ZipfFit(s: SparkSession, dir: String): DataFrame =
    graft.text.Zipf.zipfFit(docsSpread(s, dir), "source", "text",
        topRanks = 1000)
      .orderBy(col("source"))

  val q122Oracle: String =
    """WITH tok AS (SELECT source,
      |    unnest(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')) AS tok
      |  FROM documents),
      |tf AS (SELECT source, tok, count(*) AS freq FROM tok
      |  WHERE tok <> '' GROUP BY 1, 2),
      |r AS (SELECT source, freq,
      |    row_number() OVER (PARTITION BY source ORDER BY freq DESC, tok) AS rnk
      |  FROM tf QUALIFY rnk <= 1000),
      |p AS (SELECT source,
      |    CAST(round(1e3 * ln(CAST(rnk AS DOUBLE))) AS BIGINT) AS x,
      |    CAST(round(1e3 * ln(CAST(freq AS DOUBLE))) AS BIGINT) AS y
      |  FROM r),
      |s AS (SELECT source, count(*) AS n_ranks,
      |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
      |    CAST(sum(x * x) AS BIGINT) AS sxx, CAST(sum(x * y) AS BIGINT) AS sxy
      |  FROM p GROUP BY 1 HAVING count(*) >= 2),
      |f AS (SELECT source, n_ranks, sy,
      |    1000 * (n_ranks * sxy - sx * sy) AS num,
      |    (n_ranks * sxx - sx * sx) // 1000 AS den
      |  FROM s)
      |SELECT source, n_ranks,
      |  CAST((num - (((num % den) + den) % den)) // den AS BIGINT) AS slope_ppm,
      |  CAST(sy // n_ranks AS BIGINT) AS mean_log_freq_milli
      |FROM f ORDER BY source""".stripMargin

  // ------------------------------------------------------------------ q133
  /** Onion-style first-occurrence novelty
    * ([[graft.text.WordGrams.noveltyProfile]]): per document, the
    * share of its distinct word 3-grams whose corpus-wide FIRST
    * occurrence (min doc id — arrival order) is this document. Late
    * re-crawls of boilerplate score near 0, genuinely new text near 1
    * — the incremental-dedup signal as a per-doc SCORE. Integer-ppm
    * ratio of positives → hash-exact oracle. */
  def q133NoveltyOnion(s: SparkSession, dir: String): DataFrame =
    graft.text.WordGrams.noveltyProfile(docsSpread(s, dir), "doc_id", "text",
        n = 3, keepFloorPpm = 500000L)
      .orderBy(col("doc_id"))

  val q133Oracle: String =
    """WITH d AS (SELECT doc_id,
      |    string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS t
      |  FROM documents),
      |g AS (SELECT doc_id, t, unnest(generate_series(1, len(t) - 2)) AS i FROM d),
      |gr AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS gram FROM g),
      |f AS (SELECT gram, min(doc_id) AS first_id FROM gr GROUP BY gram),
      |nov AS (SELECT gr.doc_id, count(*) AS n_grams,
      |    count(*) FILTER (f.first_id = gr.doc_id) AS n_novel
      |  FROM gr JOIN f USING (gram) GROUP BY gr.doc_id)
      |SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
      |  CAST(n_novel AS BIGINT) AS n_novel,
      |  CAST((1000000 * n_novel) // n_grams AS BIGINT) AS novelty_ppm,
      |  (1000000 * n_novel) // n_grams >= 500000 AS kept
      |FROM nov ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------------ q134
  /** Token-entropy repetitiveness filter
    * ([[graft.text.TokenEntropy.entropyProfile]]): per-doc Shannon
    * entropy of the doc's own token distribution in integer micro-nats
    * (H = ln n − (1/n)·Σ c·ln c, each ln rounded once pre-sum — the
    * q34/q35 convention) plus the type-token ratio; `kept` = entropy ≥
    * ln 16 ≈ 2.7726 nats. The distribution-shape quality signal next
    * to q41's ratio heuristics and q47's n-gram repetition shares. */
  def q134TokenEntropy(s: SparkSession, dir: String): DataFrame =
    graft.text.TokenEntropy.entropyProfile(docsSpread(s, dir),
        "doc_id", "text", keepFloorMicroNats = 2772589L)
      .orderBy(col("doc_id"))

  val q134Oracle: String =
    """WITH toks AS (SELECT doc_id,
      |    unnest(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')) AS tok
      |  FROM documents),
      |c AS (SELECT doc_id, tok, count(*) AS c FROM toks
      |  WHERE len(tok) > 0 GROUP BY doc_id, tok),
      |n AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
      |    CAST(count(*) AS BIGINT) AS n_types,
      |    CAST(sum(c * CAST(round(1e6 * ln(c)) AS BIGINT)) AS BIGINT) AS s
      |  FROM c GROUP BY doc_id)
      |SELECT doc_id, n_tokens, n_types,
      |  CAST(round(1e6 * ln(n_tokens)) AS BIGINT) - s // n_tokens AS entropy_micro,
      |  CAST((1000000 * n_types) // n_tokens AS BIGINT) AS ttr_ppm,
      |  (CAST(round(1e6 * ln(n_tokens)) AS BIGINT) - s // n_tokens) >= 2772589 AS kept
      |FROM n ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------------ q135
  /** Integer PageRank over the near-dup similarity graph
    * ([[graft.graph.PageRank]]): q23's lang-blocked char-3-gram
    * Jaccard ≥ 0.5 pairs as undirected edges, 2 propagation rounds at
    * damping 0.85 — the canonical-document/centrality score a curation
    * pipeline uses to rank duplicate neighborhoods. All-integer
    * (micro-unit ranks, floored sends), so the SCORES are hash-exact,
    * not just the ordering. Gate scale rides the exact pair tier
    * (quadratic oracle — sf0.01 only, like q131/q132); at corpus scale
    * the caller feeds the persisted kNN edge store or q54's spanning
    * edges — the module is edge-source-agnostic by signature. */
  def q135GraphPagerank(s: SparkSession, dir: String): DataFrame = {
    val docs = docsSpread(s, dir)
      .select(col("doc_id"), col("lang"), col("text"))
    val pairs = Dedup.jaccardJoin(
      docs.select(col("doc_id").as("id"), col("lang").as("blk"),
          TextAnalysis.canonical(col("text")).as("ct"))
        .select(col("id"), col("blk"),
          Dedup.charShinglesFrom(col("ct"), 3).as("sh")),
      threshold = 0.5)
    // edgesWithinNodes: the pair list is derived from exactly this
    // docs frame, so the skeleton clamp would scan 1.19 M pairs twice
    // to drop nothing
    graft.graph.PageRank.pageRank(docs.select(col("doc_id")), "doc_id",
        pairs.select(col("id_a"), col("id_b")), iters = 2, dampPpm = 850000L,
        edgesWithinNodes = true)
      .orderBy(col("doc_id"))
  }

  val q135Oracle: String =
    """WITH c AS (SELECT doc_id, lang,
      |    trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS ctext
      |  FROM documents),
      |sh AS (SELECT doc_id, lang,
      |    list_distinct(list_transform(
      |      generate_series(1, greatest(length(ctext) - 2, 1)),
      |      i -> substr(ctext, i, 3))) AS sh
      |  FROM c),
      |p AS (SELECT l.doc_id AS a, r.doc_id AS b
      |  FROM sh l JOIN sh r ON l.lang = r.lang AND l.doc_id < r.doc_id
      |  WHERE round(CAST(len(list_intersect(l.sh, r.sh)) AS DOUBLE)
      |    / CAST(len(l.sh) + len(r.sh) - len(list_intersect(l.sh, r.sh)) AS DOUBLE), 6) >= 0.5),
      |bi AS (SELECT a AS src, b AS dst FROM p UNION ALL SELECT b, a FROM p),
      |deg AS (SELECT src, count(*) AS d FROM bi GROUP BY src),
      |c1 AS (SELECT bi.dst AS node, CAST(sum(1000000 // deg.d) AS BIGINT) AS inflow
      |  FROM bi JOIN deg ON bi.src = deg.src GROUP BY bi.dst),
      |r1 AS (SELECT d.doc_id AS node,
      |    150000 + (850000 * coalesce(c1.inflow, 0)) // 1000000 AS r
      |  FROM documents d LEFT JOIN c1 ON d.doc_id = c1.node),
      |c2 AS (SELECT bi.dst AS node, CAST(sum(r1.r // deg.d) AS BIGINT) AS inflow
      |  FROM bi JOIN deg ON bi.src = deg.src JOIN r1 ON bi.src = r1.node
      |  GROUP BY bi.dst),
      |r2 AS (SELECT d.doc_id AS node,
      |    150000 + (850000 * coalesce(c2.inflow, 0)) // 1000000 AS r
      |  FROM documents d LEFT JOIN c2 ON d.doc_id = c2.node)
      |SELECT r2.node AS doc_id,
      |  CAST(coalesce(deg.d, 0) AS BIGINT) AS degree,
      |  CAST(r2.r AS BIGINT) AS pr_micro
      |FROM r2 LEFT JOIN deg ON r2.node = deg.src
      |ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------------ q136
  /** Cluster-balanced proportional sampling
    * ([[graft.curate.Curation.proportionalSample]] over
    * [[graft.sim.IntKMeans]] assignments): a global budget of 200
    * vectors split across q36's 8 learned topic clusters in proportion
    * to cluster size, each cluster's quota drawn in deterministic md5
    * order — the SemDeDup-style "keep a proportional, diverse slice of
    * every semantic region" selection (q116 CAPS clusters at a fixed
    * per-cluster max; this ALLOCATES a global budget proportionally).
    * K-means assignment, quotas and the md5 draw are all integer/
    * hash-deterministic → hash-exact oracle walking the identical
    * three assignment rounds. */
  def q136ClusterBalancedSample(s: SparkSession, dir: String): DataFrame = {
    val assigned = graft.sim.IntKMeans.cluster(embSpread(s, dir),
        "vec_id", "embedding", k = 8, iters = 2)
      .withColumnRenamed("id", "vec_id")
    graft.curate.Curation.proportionalSample(
        assigned.select(col("vec_id"), col("cluster")),
        "vec_id", "cluster", totalK = 200)
      .select(col("vec_id"), col("cluster"), col("sample_rank"),
        col("n_quota"))
      .orderBy(col("cluster"), col("sample_rank"))
  }

  val q136Oracle: String =
    s"""WITH $kmeansCtes,
       |a AS (SELECT vec_id, CAST(cl AS INTEGER) AS cluster FROM s3
       |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2, cl) = 1),
       |sz AS (SELECT cluster, count(*) AS n FROM a GROUP BY cluster),
       |tot AS (SELECT sum(n) AS t FROM sz),
       |qt AS (SELECT cluster, CAST(greatest(1, (200 * n) // t) AS BIGINT) AS n_quota
       |  FROM sz, tot),
       |rk AS (SELECT a.vec_id, a.cluster,
       |    row_number() OVER (PARTITION BY a.cluster
       |      ORDER BY md5(a.vec_id::VARCHAR || 'graft'), a.vec_id) AS sample_rank
       |  FROM a)
       |SELECT rk.vec_id, rk.cluster, rk.sample_rank, qt.n_quota
       |FROM rk JOIN qt ON rk.cluster = qt.cluster
       |WHERE rk.sample_rank <= qt.n_quota
       |ORDER BY rk.cluster, rk.sample_rank""".stripMargin

  // ------------------------------------------------------------------ q138
  /** URL/domain-level curation ([[graft.curate.DomainCuration]]):
    * registrable-domain extraction (PSL-approximation: last-2 labels,
    * last-3 on listed multi-part suffixes), a blocklist anti-join and
    * a deterministic per-domain cap of 5 docs (q84's md5-order
    * two-phase top-k) — the RefinedWeb-style stage between crawl and
    * text filtering. The documents table carries no URL, so the query
    * SYNTHESIZES one per doc (deterministic arithmetic on doc_id:
    * www/blog/apex subdomain by id mod 3, 97 sites, four TLDs
    * including a multi-part one) — both engines compute the identical
    * string, so the gate exercises extraction, not the synthesizer.
    * Hash-exact oracle. */
  def q138DomainCap(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val url = concat(lit("https://"),
      when(col("doc_id") % 3 === 0, lit("www."))
        .when(col("doc_id") % 3 === 1, lit("blog."))
        .otherwise(lit("")),
      lit("site"), (col("doc_id") % 97).cast("string"), lit("."),
      element_at(
        array(lit("com"), lit("org"), lit("net"), lit("co.uk")),
        ((col("doc_id") % 97) % 4 + 1).cast("int")),
      lit("/p/"), col("doc_id").cast("string"))
    val docs = docsSpread(s, dir)
      .select(col("doc_id"), url.as("url"))
    val blocklist = Seq("site13.com", "site7.co.uk", "site40.net")
      .toDF("domain")
    graft.curate.DomainCuration.curate(docs, "doc_id", "url",
        blocklist, cap = 5)
      .select(col("domain"), col("doc_id"), col("url"), col("sample_rank"))
      .orderBy(col("domain"), col("sample_rank"))
  }

  val q138Oracle: String =
    """WITH u AS (SELECT doc_id,
      |    'https://' ||
      |    CASE WHEN doc_id % 3 = 0 THEN 'www.'
      |         WHEN doc_id % 3 = 1 THEN 'blog.' ELSE '' END ||
      |    'site' || (doc_id % 97) || '.' ||
      |    CASE (doc_id % 97) % 4 WHEN 0 THEN 'com' WHEN 1 THEN 'org'
      |         WHEN 2 THEN 'net' ELSE 'co.uk' END ||
      |    '/p/' || doc_id AS url
      |  FROM documents),
      |h AS (SELECT doc_id, url,
      |    string_split(lower(regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)', 1)), '.') AS hp
      |  FROM u),
      |d AS (SELECT doc_id, url,
      |    CASE WHEN len(hp) >= 3 AND (hp[-2] || '.' || hp[-1]) IN
      |        ('co.uk','org.uk','ac.uk','gov.uk','com.au','net.au','org.au',
      |         'co.jp','ne.jp','or.jp','co.in','co.nz','co.za','co.kr',
      |         'com.br','com.mx','com.sg','com.cn','com.tr')
      |      THEN hp[-3] || '.' || hp[-2] || '.' || hp[-1]
      |      WHEN len(hp) >= 2 THEN hp[-2] || '.' || hp[-1]
      |      ELSE array_to_string(hp, '.') END AS domain
      |  FROM h),
      |kept AS (SELECT * FROM d
      |  WHERE domain NOT IN ('site13.com', 'site7.co.uk', 'site40.net')),
      |rk AS (SELECT domain, doc_id, url,
      |    row_number() OVER (PARTITION BY domain
      |      ORDER BY md5(doc_id::VARCHAR || 'graft'), doc_id) AS sample_rank
      |  FROM kept)
      |SELECT domain, doc_id, url, CAST(sample_rank AS INTEGER) AS sample_rank
      |FROM rk WHERE sample_rank <= 5
      |ORDER BY domain, sample_rank""".stripMargin

  // ------------------------------------------------------------------ q139
  /** Longest shared canonical span per document pair
    * ([[Dedup.longestSharedSpan]]): q63's fixed-20-char window
    * collisions upgraded to exact span LENGTHS via the diagonal
    * run-length identity — a shared span of length L is exactly a run
    * of L−19 consecutive matched window positions on one diagonal, so
    * one hash equi-join + gaps-and-islands replaces any per-length
    * re-scan. Windows hotter than 50 docs are dropped before pairing
    * (declared winnowing); the oracle replicates hash, cap and run
    * logic — hash-exact (sf0.01 gate; the pair join is q63-family
    * quadratic in DuckDB beyond). */
  def q139LongestSpan(s: SparkSession, dir: String): DataFrame =
    Dedup.longestSharedSpan(docsSpread(s, dir), "doc_id", "text", k = 20)
      .orderBy(col("id_a"), col("id_b"))

  val q139Oracle: String =
    """WITH c AS (SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS ct
      |  FROM documents),
      |p AS (SELECT doc_id, ct,
      |    unnest(generate_series(1, greatest(length(ct) - 19, 0))) AS i
      |  FROM c),
      |w AS (SELECT doc_id, i - 1 AS pos, list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(
      |      generate_series(CAST(i AS INT), CAST(i + 19 AS INT)),
      |      j -> CAST(ascii(substr(ct, CAST(j AS INT), 1)) AS BIGINT))),
      |    (acc, x) -> (acc * 257 + x) % 2147483647) AS wh
      |  FROM p),
      |el AS (SELECT wh FROM w GROUP BY wh
      |  HAVING count(DISTINCT doc_id) BETWEEN 2 AND 50),
      |w2 AS (SELECT w.* FROM w JOIN el USING (wh)),
      |m AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.pos AS pos_a,
      |    b.pos - a.pos AS d
      |  FROM w2 a JOIN w2 b ON a.wh = b.wh AND a.doc_id < b.doc_id),
      |r AS (SELECT id_a, id_b, d, pos_a,
      |    pos_a - row_number() OVER (PARTITION BY id_a, id_b, d ORDER BY pos_a) AS isl
      |  FROM m),
      |runs AS (SELECT id_a, id_b, d, isl, count(*) AS run
      |  FROM r GROUP BY 1, 2, 3, 4)
      |SELECT id_a, id_b, CAST(19 + max(run) AS BIGINT) AS span_len,
      |  CAST(count(*) AS BIGINT) AS n_runs, CAST(sum(run) AS BIGINT) AS n_anchors
      |FROM runs GROUP BY id_a, id_b ORDER BY id_a, id_b""".stripMargin

  // ------------------------------------------------------------------ q137
  /** Unigram-LM (SentencePiece-style) tokenizer vocabulary
    * ([[graft.text.UnigramLm.train]]): 2 EM rounds of Viterbi
    * segmentation + zero-count pruning + micro-nat re-scoring over the
    * corpus word-frequency table, vocabulary cut to the top 64 pieces
    * (plus all single characters). Every stage is integer/once-rounded
    * deterministic, so the oracle — the identical EM unrolled as
    * generated CTEs (dp steps, backtrack walk, counts, re-score) — is
    * hash-exact: the q108 gating precedent applied to the EM trainer. */
  def q137UnigramLm(s: SparkSession, dir: String): DataFrame =
    graft.text.UnigramLm.train(docsSpread(s, dir), "doc_id", "text")
      .orderBy(col("rank"))

  // ------------------------------------------------------------------ q143
  /** Winnowed substring-duplicate groups ([[Dedup.winnowedDupGroups]]):
    * q63's shared-window report over the WINNOWED fingerprint index —
    * the rightmost-min of every 8-hash window is selected, so the
    * index carries ~2/9 of the hashes while any shared span ≥ 27
    * chars (w + k − 1) is still GUARANTEED to collide — the 100 TB
    * configuration of substring dedup (q63's `sampleMod` catch is
    * only in expectation). Selection is one integer-encoded window
    * min, engine-portable — hash-exact oracle. */
  // ------------------------------------------------------------------ q144
  /** Winnowed longest-shared-span report
    * ([[Dedup.winnowedSharedSpan]]): q139's pair-level span report
    * anchored on the winnowed fingerprint index instead of the full
    * window stream — the equi-join input shrinks to ~2/9 while any
    * shared span ≥ w + k − 1 = 27 chars is still guaranteed
    * discovered; reported lengths are declared LOWER BOUNDS (anchor
    * run extent + k; the true span can extend < w windows past each
    * end). The corpus-scale configuration of the q139 report — and
    * still hash-exact: the winnow selection, anchor join and
    * gaps-and-islands are all engine-portable integer forms. */
  def q144WinnowSpan(s: SparkSession, dir: String): DataFrame =
    Dedup.winnowedSharedSpan(docsSpread(s, dir), "doc_id", "text",
        k = 20, w = 8)
      .orderBy(col("id_a"), col("id_b"))

  val q144Oracle: String =
    """WITH c AS (SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS ct
      |  FROM documents),
      |p AS (SELECT doc_id, ct,
      |    unnest(generate_series(1, greatest(length(ct) - 19, 0))) AS i
      |  FROM c),
      |w AS (SELECT doc_id, i - 1 AS pos, list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(
      |      generate_series(CAST(i AS INT), CAST(i + 19 AS INT)),
      |      j -> CAST(ascii(substr(ct, CAST(j AS INT), 1)) AS BIGINT))),
      |    (acc, x) -> (acc * 257 + x) % 2147483647) AS wh
      |  FROM p),
      |kf AS (SELECT doc_id, pos,
      |    min(wh * 1048576 + (1048575 - pos)) OVER (PARTITION BY doc_id
      |      ORDER BY pos ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS key,
      |    row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS rn
      |  FROM w),
      |sel AS (SELECT DISTINCT doc_id, key // 1048576 AS wh,
      |    1048575 - (key % 1048576) AS apos
      |  FROM kf WHERE rn >= 8),
      |elig AS (SELECT wh FROM sel GROUP BY wh
      |  HAVING count(DISTINCT doc_id) BETWEEN 2 AND 50),
      |a2 AS (SELECT sel.doc_id, sel.wh, sel.apos FROM sel JOIN elig USING (wh)),
      |m AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.apos AS pos_a,
      |    b.apos - a.apos AS d
      |  FROM a2 a JOIN a2 b ON a.wh = b.wh AND a.doc_id < b.doc_id),
      |g AS (SELECT id_a, id_b, d, pos_a,
      |    CASE WHEN pos_a - lag(pos_a) OVER (PARTITION BY id_a, id_b, d
      |      ORDER BY pos_a) <= 8 THEN 0 ELSE 1 END AS gap
      |  FROM m),
      |isle AS (SELECT id_a, id_b, d, pos_a,
      |    sum(gap) OVER (PARTITION BY id_a, id_b, d ORDER BY pos_a
      |      ROWS UNBOUNDED PRECEDING) AS isl
      |  FROM g),
      |runs AS (SELECT id_a, id_b, d, isl,
      |    max(pos_a) - min(pos_a) + 20 AS lb, count(*) AS n
      |  FROM isle GROUP BY 1, 2, 3, 4)
      |SELECT id_a, id_b, CAST(max(lb) AS BIGINT) AS span_lb,
      |  CAST(count(*) AS BIGINT) AS n_runs,
      |  CAST(sum(n) AS BIGINT) AS n_anchors
      |FROM runs GROUP BY 1, 2 ORDER BY id_a, id_b""".stripMargin

  // ------------------------------------------------------------------ q146
  /** Length-aware best-fit-decreasing packing
    * ([[graft.curate.Curation.packBinsBfd]]): every doc lands WHOLE in
    * one 512-token bin — length-descending order, fullest-fitting bin,
    * ties to the lowest bin id — with a padding-waste ppm per bin, the
    * packing-efficiency story q52's arrival-order cut-every-512 packer
    * doesn't tell (q52 wastes no tokens but splits documents; this
    * keeps documents whole and minimizes the padding that splitting
    * avoided). Deterministic blocked BFD (exact fold inside rank
    * blocks of 256 docs; two-phase rank, one aggregate() HOF per
    * block, no single-task funnel) — hash-exact oracle replicating
    * the fold as a recursive CTE. */
  def q146PackBfd(s: SparkSession, dir: String): DataFrame = {
    val docs = docsSpread(s, dir)
      .withColumn("n_tokens",
        TextAnalysis.tokenCount(col("text")).cast("long"))
    graft.curate.Curation.packBinsBfd(docs, "doc_id", "source",
        "n_tokens", ctxLen = 512L, blockDocs = 256)
      .withColumn("waste_ppm",
        expr("(512 - bin_load) * 1000000L div 512"))
      .orderBy(col("doc_id"))
  }

  val q146Oracle: String =
    """WITH RECURSIVE t AS (SELECT doc_id, source,
      |    CAST(least(len(regexp_extract_all(text, '[^ \t\n\r]+')), 512) AS BIGINT) AS n,
      |    md5(doc_id::VARCHAR || 'graft-bfd') AS hk
      |  FROM documents),
      |r AS (SELECT doc_id, source, n,
      |    row_number() OVER (PARTITION BY source ORDER BY n DESC, hk, doc_id) - 1 AS rk
      |  FROM t),
      |b AS (SELECT doc_id, source, n, rk // 256 AS blk, rk % 256 AS slot FROM r),
      |s(source, blk, slot, ids, ns, loads, bins, offs) AS (
      |  SELECT source, blk, CAST(-1 AS BIGINT),
      |      CAST([] AS BIGINT[]), CAST([] AS BIGINT[]), CAST([] AS BIGINT[]),
      |      CAST([] AS BIGINT[]), CAST([] AS BIGINT[])
      |    FROM (SELECT DISTINCT source, blk FROM b)
      |  UNION ALL
      |  SELECT s.source, s.blk, s.slot + 1,
      |    list_append(s.ids, b.doc_id),
      |    list_append(s.ns, b.n),
      |    CASE WHEN len(list_filter(s.loads, l -> l + b.n <= 512)) = 0
      |      THEN list_append(s.loads, b.n)
      |      ELSE list_transform(s.loads, (l, i) -> CASE WHEN i = list_position(s.loads,
      |        list_aggregate(list_filter(s.loads, l2 -> l2 + b.n <= 512), 'max'))
      |        THEN l + b.n ELSE l END) END,
      |    list_append(s.bins, CAST(CASE WHEN len(list_filter(s.loads, l -> l + b.n <= 512)) = 0
      |      THEN len(s.loads)
      |      ELSE list_position(s.loads, list_aggregate(list_filter(s.loads, l2 -> l2 + b.n <= 512), 'max')) - 1 END AS BIGINT)),
      |    list_append(s.offs, CAST(CASE WHEN len(list_filter(s.loads, l -> l + b.n <= 512)) = 0
      |      THEN 0
      |      ELSE list_aggregate(list_filter(s.loads, l2 -> l2 + b.n <= 512), 'max') END AS BIGINT))
      |  FROM s JOIN b ON b.source = s.source AND b.blk = s.blk AND b.slot = s.slot + 1),
      |fin AS (SELECT source, blk, ids, ns, loads, bins, offs FROM s
      |  QUALIFY row_number() OVER (PARTITION BY source, blk ORDER BY slot DESC) = 1),
      |a AS (SELECT source, blk, loads,
      |    unnest(ids) AS doc_id, unnest(ns) AS n_eff,
      |    unnest(bins) AS bin, unnest(offs) AS bin_offset
      |  FROM fin)
      |SELECT doc_id, source, CAST(n_eff AS BIGINT) AS n_eff,
      |  CAST(blk AS BIGINT) AS block, CAST(bin AS BIGINT) AS bin,
      |  CAST(bin_offset AS BIGINT) AS bin_offset,
      |  CAST(loads[CAST(bin + 1 AS INT)] AS BIGINT) AS bin_load,
      |  CAST((512 - loads[CAST(bin + 1 AS INT)]) * 1000000 // 512 AS BIGINT) AS waste_ppm
      |FROM a ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------------ q150
  /** VIDEO perceptual near-dup by frame voting — the triad's video
    * leg, and the perceptual upgrade of q51's exact frame hashes:
    * each video is 8 sampled frames built as full-pixel PNGs (frame
    * structure keyed by (video seed, frame index) — family members
    * share structure, carry member-specific sparse pixel noise),
    * every frame dHashed, frame pairs found by the lossless hamming
    * bander at distance ≤ 3 on the SAME frame index, and a video
    * pair reported when ≥ 6 of 8 frames match — the scene-level
    * robustness exact hashing (q51) structurally lacks. Encoded
    * frame ids keep the bander's single-column contract
    * ((vid+2)·16 + frame, non-negative for the planted ids); the
    * vote shuffles on the video pair, bounded by family size. No SQL
    * oracle; the planted identical pair must report with ALL 8 frames
    * (gated: `planted_ok` requires n_frames = 8, not mere presence),
    * and measured FAMILY recall — probe videos × corpus, exact
    * same-index hamming ≤ 3 voted at ≥ 6/8, the perceptual case the
    * planted identical pair alone doesn't exercise — must be 1.0
    * (the bander is pigeonhole-lossless per frame, so every true
    * frame match survives to the vote). */
  def q150VideoFrameDedup(s: SparkSession, dir: String): DataFrame = {
    import graft.expressions.{DHash, PngImage}
    import graft.util.Blocks
    import s.implicits._
    val F = 8
    val base = docsSpreadCpu(s, dir)
      .select(col("doc_id"),
        (expr("doc_id div 4") % 1000000000L).as("vseed"),
        (pmod(col("doc_id"), lit(4)) + 1L).as("nbase"))
      .unionByName(Seq((PlantA, 888000888L, 3L), (PlantB, 888000888L, 3L))
        .toDF("doc_id", "vseed", "nbase"))
    val frames = base
      .withColumn("f", explode(sequence(lit(0L), lit(F - 1L))))
      .select(
        ((col("doc_id") + 2L) * 16L + col("f")).as("id"),
        col("f"),
        (((col("vseed") * 8L + col("f")) % 1000000000L) * lit(4294967296L)
          + col("nbase") * 16L + col("f")).cast("long").as("seeds"))
    val sigCp = Blocks.checkpoint(frames.select(col("id"), col("f"),
      // 72x64: dHash grid cells align exactly with the 8-px pixel
      // blocks -> comparison bits are fair coins (a 48x40 first cut
      // put 5-px cells inside 8-px blocks, zeroing half the bits --
      // low-entropy hashes made band buckets hot and the frame join
      // quadratic: 50 s at 10x vs 4.8 s aligned)
      DHash.dhash(PngImage.pngImage(lit(72), lit(64), col("seeds")))
        .as("sig")))
    // family-recall truth: probe-video frames × same-index corpus
    // frames at EXACT hamming ≤ 3, voted to video pairs at ≥ 6/8.
    // The probe join is quarter-banded — hamming ≤ 3 across 64 bits
    // PIGEONHOLE-implies one of the four 16-bit quarters matches
    // exactly, so requiring quarter equality in the join key is
    // LOSSLESS while turning the 60-probes-per-frame-index hash-join
    // fan (≈ 240M emitted rows at 100×, measured +22 s) into a
    // stream of actual quarter collisions; bit_count then verifies
    // exactly. The encoded-id floor 32 excludes the planted videos
    // (frame ids 0..31); dropDuplicates collapses multi-quarter and
    // both-endpoints-probe double emissions (one frame pair per
    // (pair, f) by construction — one frame per index per video).
    val quarters = (0 until 4).map { q =>
      struct(lit(q).as("q"),
        shiftright(col("sig"), q * 16).bitwiseAND(0xFFFFL).as("chunk"))
    }
    val probes = sigCp.df
      .where(col("id") >= 32L && col("id") < lit((RecallProbeIds + 2L) * 16L))
      .select(col("id").as("pid"), col("f").as("pf"), col("sig").as("psig"),
        explode(array(quarters: _*)).as("pq"))
    val truth = broadcast(probes)
      .join(sigCp.df.select(col("id").as("cid"), col("f").as("cf"),
          col("sig").as("csig"), explode(array(quarters: _*)).as("cq")),
        col("pf") === col("cf") && col("pq") === col("cq") &&
          col("pid") =!= col("cid"))
      .where(bit_count(col("psig").bitwiseXOR(col("csig"))) <= 3)
      .select(
        least(expr("pid div 16"), expr("cid div 16")).as("ea"),
        greatest(expr("pid div 16"), expr("cid div 16")).as("eb"),
        col("pf").as("f"))
      .dropDuplicates("ea", "eb", "f")
      .groupBy(col("ea"), col("eb"))
      .agg(count(lit(1)).as("tn"))
      .where(col("tn") >= 6L)
      .select((col("ea") - 2L).as("id_a"), (col("eb") - 2L).as("id_b"))
    // eager checkpoints BEFORE the upstream releases — a lazy wrapper
    // would try to recompute through the freed sig blocks
    val (votesCp, truthCp) = Blocks.withTracked { track =>
      // block on the frame index: only same-index frames can vote, and
      // at 4M+ frames the unblocked 16-bit band space saturates (see
      // simHashDedupFromSigs' blockCol note)
      val framePairs = Dedup.simHashDedupFromSigs(
        sigCp.df.select(col("id"), col("sig"), col("f")), maxHamming = 3,
        maybePersist = track, blockCol = Some("f"))
      val votes = framePairs
        .select((expr("id_a div 16") - 2L).as("id_a"),
          (expr("id_b div 16") - 2L).as("id_b"))
        .groupBy(col("id_a"), col("id_b"))
        .agg(count(lit(1)).cast("long").as("n_frames"))
        .where(col("n_frames") >= 6L)
      (Blocks.checkpoint(votes), Blocks.checkpoint(truth))
    }
    sigCp.release()
    // planted gate pins the DOCUMENTED claim: identical payloads hash
    // identically per frame, so the pair must arrive with n_frames = 8
    // — presence alone (≥ 6 via the vote filter) is a weaker assertion
    plantedAndRecallFrom(votesCp.df,
        plantedPairCond && col("n_frames") === 8L,
        truthCp.df, Seq("id_a", "id_b"), floor = 1.0)
      .orderBy(col("id_a"), col("id_b"))
  }

  // ------------------------------------------------------------------ q149
  /** Content-level AUDIO perceptual near-dup: 64-bit energy-delta
    * fingerprint ([[graft.expressions.AudioFp]] — mono 16-bit PCM
    * decoded by the RIFF walk, 65 exact integer frame energies,
    * adjacent-frame comparisons) over complete on-cluster-built WAV
    * payloads ([[graft.expressions.WavTone]] — blocky seed-derived
    * loudness envelope + per-member sparse sample noise), paired by
    * the lossless hamming bander. Completes the perceptual triad
    * (q145 image, this audio) over the stage q82's container metadata
    * structurally misses. No SQL oracle; planted identical pair +
    * blocking-recall floor 1.0 (q145's gate shape). */
  def q149AudioFingerprint(s: SparkSession, dir: String): DataFrame = {
    import graft.expressions.{AudioFp, WavTone}
    import graft.util.Blocks
    val corpus = seededCorpus(s, dir,
      plantedSeeds = 555000555L * 4294967296L + 2L)
    val sigCp = Blocks.checkpoint(corpus.select(col("doc_id").as("id"),
      AudioFp.audioFp(WavTone.wavTone(lit(16000), lit(6400), col("seeds")))
        .as("sig")))
    hammingPairsGated(sigCp)
  }

  // ------------------------------------------------------------------ q148
  /** BFD packed-bin assembly — the q90-to-q52 relationship for q146:
    * materialize each best-fit bin's documents concatenated in
    * placement order (bin_offset asc, ties doc_id — zero-token docs
    * can share an offset), emitted as md5 so the artifact stays
    * metadata-sized, plus the per-bin fill/waste report. Group key =
    * (stratum, block, bin) — per-group state bounded by the context
    * length; deterministic aggregation order via
    * sort_array(collect_list(struct)) — hash-exact. */
  def q148BfdAssembly(s: SparkSession, dir: String): DataFrame = {
    val docs = docsSpread(s, dir)
      .withColumn("n_tokens",
        TextAnalysis.tokenCount(col("text")).cast("long"))
    val packed = graft.curate.Curation.packBinsBfd(docs, "doc_id",
      "source", "n_tokens", ctxLen = 512L, blockDocs = 256)
    packed
      .join(docs.select(col("doc_id"), col("text")), "doc_id")
      .groupBy(col("source"), col("block"), col("bin"))
      .agg(
        count(lit(1)).as("n_docs"),
        max(col("bin_load")).as("bin_load"),
        md5(array_join(
          transform(
            array_sort(collect_list(
              struct(col("bin_offset"), col("doc_id"), col("text")))),
            x => x.getField("text")),
          "")).as("bin_md5"))
      .withColumn("waste_ppm",
        expr("(512 - bin_load) * 1000000L div 512"))
      .orderBy(col("source"), col("block"), col("bin"))
  }

  val q148Oracle: String =
    """WITH RECURSIVE t AS (SELECT doc_id, source, text,
      |    CAST(least(len(regexp_extract_all(text, '[^ \t\n\r]+')), 512) AS BIGINT) AS n,
      |    md5(doc_id::VARCHAR || 'graft-bfd') AS hk
      |  FROM documents),
      |r AS (SELECT doc_id, source, n,
      |    row_number() OVER (PARTITION BY source ORDER BY n DESC, hk, doc_id) - 1 AS rk
      |  FROM t),
      |b AS (SELECT doc_id, source, n, rk // 256 AS blk, rk % 256 AS slot FROM r),
      |s(source, blk, slot, ids, loads, bins, offs) AS (
      |  SELECT source, blk, CAST(-1 AS BIGINT),
      |      CAST([] AS BIGINT[]), CAST([] AS BIGINT[]),
      |      CAST([] AS BIGINT[]), CAST([] AS BIGINT[])
      |    FROM (SELECT DISTINCT source, blk FROM b)
      |  UNION ALL
      |  SELECT s.source, s.blk, s.slot + 1,
      |    list_append(s.ids, b.doc_id),
      |    CASE WHEN len(list_filter(s.loads, l -> l + b.n <= 512)) = 0
      |      THEN list_append(s.loads, b.n)
      |      ELSE list_transform(s.loads, (l, i) -> CASE WHEN i = list_position(s.loads,
      |        list_aggregate(list_filter(s.loads, l2 -> l2 + b.n <= 512), 'max'))
      |        THEN l + b.n ELSE l END) END,
      |    list_append(s.bins, CAST(CASE WHEN len(list_filter(s.loads, l -> l + b.n <= 512)) = 0
      |      THEN len(s.loads)
      |      ELSE list_position(s.loads, list_aggregate(list_filter(s.loads, l2 -> l2 + b.n <= 512), 'max')) - 1 END AS BIGINT)),
      |    list_append(s.offs, CAST(CASE WHEN len(list_filter(s.loads, l -> l + b.n <= 512)) = 0
      |      THEN 0
      |      ELSE list_aggregate(list_filter(s.loads, l2 -> l2 + b.n <= 512), 'max') END AS BIGINT))
      |  FROM s JOIN b ON b.source = s.source AND b.blk = s.blk AND b.slot = s.slot + 1),
      |fin AS (SELECT source, blk, ids, loads, bins, offs FROM s
      |  QUALIFY row_number() OVER (PARTITION BY source, blk ORDER BY slot DESC) = 1),
      |a AS (SELECT source, blk, loads,
      |    unnest(ids) AS doc_id, unnest(bins) AS bin, unnest(offs) AS bin_offset
      |  FROM fin),
      |a2 AS (SELECT a.source, a.blk, a.bin,
      |    CAST(a.loads[CAST(a.bin + 1 AS INT)] AS BIGINT) AS bin_load,
      |    a.bin_offset, a.doc_id, t.text
      |  FROM a JOIN t ON a.doc_id = t.doc_id)
      |SELECT source, CAST(blk AS BIGINT) AS block, CAST(bin AS BIGINT) AS bin,
      |  count(*) AS n_docs, bin_load,
      |  md5(string_agg(text, '' ORDER BY bin_offset, doc_id)) AS bin_md5,
      |  CAST((512 - bin_load) * 1000000 // 512 AS BIGINT) AS waste_ppm
      |FROM a2 GROUP BY source, blk, bin, bin_load
      |ORDER BY source, block, bin""".stripMargin

  // ------------------------------------------------------------------ q145
  /** Content-level image perceptual near-dup: 64-bit dHash
    * ([[graft.expressions.DHash]] — PNG IDAT inflated with the JDK
    * Inflater, all five scanline filters, integer-luma 9×8 area
    * averaging) over complete on-cluster-built PNG payloads
    * ([[graft.expressions.PngImage]]), paired by the SimHash
    * hamming-band bander (16-bit quarters, pigeonhole-LOSSLESS at
    * hamming ≤ 3). Families of 4 docs share a structural seed with
    * per-member sparse pixel noise — perceptual near-dups whose true
    * pair set stays LINEAR in the corpus (fixed family size). The
    * stage q81 (container metadata) and q51 (exact frame hashes)
    * structurally miss: content similarity of decoded pixels. No SQL
    * oracle (pixel decode isn't SQL-expressible); planted identical
    * pair + blocking-recall floor 1.0 (lossless pigeonhole, q22's
    * gate shape). */
  def q145ImageDhash(s: SparkSession, dir: String): DataFrame = {
    import graft.expressions.{DHash, PngImage}
    import graft.util.Blocks
    val corpus = seededCorpus(s, dir,
      plantedSeeds = 777000777L * 4294967296L + 3L)
    val sigCp = Blocks.checkpoint(corpus.select(col("doc_id").as("id"),
      DHash.dhash(PngImage.pngImage(lit(72), lit(64), col("seeds")))
        .as("sig")))
    hammingPairsGated(sigCp)
  }

  // ------------------------------------------------------------------ q151
  /** GIF + cross-CONTAINER perceptual near-dup — the crawl case q145's
    * all-PNG corpus doesn't exercise: the same image re-encoded in a
    * different container must still match. Even doc_ids build their
    * payload as PNG, odd as GIF ([[graft.expressions.GifImage]] —
    * complete GIF89a, self-contained variable-width LZW; the parity
    * spec pins that same-seed GIF and PNG decode to identical pixels
    * and identical dHashes), so every 4-doc family holds BOTH formats
    * and near-dup pairs routinely span them. The planted identical
    * pair is itself cross-format (−2 → PNG, −1 → GIF): container-
    * invariance is gated, not asserted. Same bander and gate shape as
    * q145 (pigeonhole-lossless at hamming ≤ 3, floor 1.0). */
  def q151GifDhash(s: SparkSession, dir: String): DataFrame = {
    import graft.expressions.{DHash, GifImage, PngImage}
    import graft.util.Blocks
    val corpus = seededCorpus(s, dir,
      plantedSeeds = 666000666L * 4294967296L + 3L)
    // container by id parity: codegen's CaseWhen builds only the
    // branch taken per row, so each row pays one encoder
    val payload = when(pmod(col("doc_id"), lit(2)) === 0,
        PngImage.pngImage(lit(72), lit(64), col("seeds")))
      .otherwise(GifImage.gifImage(lit(72), lit(64), col("seeds")))
    val sigCp = Blocks.checkpoint(corpus.select(col("doc_id").as("id"),
      DHash.dhash(payload).as("sig")))
    hammingPairsGated(sigCp)
  }

  // ------------------------------------------------------------------ q152
  /** JPEG + three-container perceptual near-dup — the full crawl mix:
    * each doc's payload container cycles PNG → GIF → JPEG by id
    * ([[graft.expressions.JpegImage]] — the JDK's own ImageIO encoder
    * at pinned quality; [[graft.expressions.JpegLuma]] — a hand-
    * written baseline Huffman + dequant + libjpeg-islow-IDCT luma
    * decoder, spec-certified PIXEL-exact against ImageIO on grayscale
    * and within 3 dHash bits on color 4:2:0), so family near-dups
    * routinely span a LOSSY/lossless container boundary (measured
    * JPEG-vs-PNG drift of the pixel model: 0–2 dHash bits, pinned by
    * the spec). The planted pair is two identical JPEG payloads —
    * identical bytes hash identically, keeping the guarantee honest
    * across the lossy codec (a cross-lossy planted pair would rest on
    * measured drift, not construction). Same bander and gate shape as
    * q145/q151 (pigeonhole-lossless at hamming ≤ 3, floor 1.0). */
  def q152JpegDhash(s: SparkSession, dir: String): DataFrame = {
    import graft.expressions.{DHash, GifImage, JpegImage, PngImage}
    import graft.util.Blocks
    val corpus = seededCorpus(s, dir,
      plantedSeeds = 444000444L * 4294967296L + 3L)
    // container cycles by id; the planted ids (< 0) pin to JPEG so the
    // guaranteed pair never crosses the lossy boundary. CaseWhen
    // codegen builds only the branch taken per row.
    val payload = when(col("doc_id") < 0L,
        JpegImage.jpegImage(lit(72), lit(64), col("seeds")))
      .when(pmod(col("doc_id"), lit(3)) === 0,
        PngImage.pngImage(lit(72), lit(64), col("seeds")))
      .when(pmod(col("doc_id"), lit(3)) === 1,
        GifImage.gifImage(lit(72), lit(64), col("seeds")))
      .otherwise(JpegImage.jpegImage(lit(72), lit(64), col("seeds")))
    val sigCp = Blocks.checkpoint(corpus.select(col("doc_id").as("id"),
      DHash.dhash(payload).as("sig")))
    hammingPairsGated(sigCp)
  }

  // ------------------------------------------------------------------ q147
  /** Image near-dup COLLAPSE — the action layer over q145's pair
    * report (the q26/q99-to-q23 relationship, for images): dHash
    * pairs at hamming ≤ 3 → connected components → canonical keep per
    * cluster, the kept member being the most DETAILED image (largest
    * encoded payload: a bigger IDAT is higher pixel entropy under the
    * fixed 72×64 geometry), ties to the smallest id. Pairs stay
    * linear at scale (fixed 4-doc families); CC is the star-contract
    * tier q26 uses; the keep is one partial-aggregable min_by. No SQL
    * oracle (pixel decode); planted identical pair must land in ONE
    * cluster. */
  def q147ImageCollapse(s: SparkSession, dir: String): DataFrame = {
    import graft.expressions.{DHash, PngImage}
    import graft.util.Blocks
    val corpus = seededCorpus(s, dir,
      plantedSeeds = 777000777L * 4294967296L + 3L)
    val imgCp = Blocks.checkpoint(corpus.select(col("doc_id").as("id"),
      PngImage.pngImage(lit(72), lit(64), col("seeds")).as("payload")))
    val sigCp = Blocks.checkpoint(imgCp.df.select(col("id"),
      DHash.dhash(col("payload")).as("sig")))
    // the CC result is materialized before the tracked pairs are freed
    val comp = Blocks.withTracked { track =>
      Dedup.connectedComponents(
        Dedup.simHashDedupFromSigs(sigCp.df, maxHamming = 3,
          maybePersist = track).select(col("id_a"), col("id_b")))
    }
    sigCp.release()
    val planted = comp.agg(
      (count(when(col("id") === PlantA || col("id") === PlantB, 1)) === 2 &&
        countDistinct(when(col("id") === PlantA || col("id") === PlantB,
          col("comp"))) === 1).as("planted_ok"))
    // imgCp is NOT released here: the keep's `detail` side still reads
    // it lazily — the harness sweep / ContextCleaner reclaims it
    Dedup.keepCanonical(comp,
        imgCp.df.select(col("id"),
          length(col("payload")).cast("long").as("detail")),
        "id", "detail")
      .crossJoin(broadcast(planted))
      .orderBy(col("cluster_id"))
  }

  def q143WinnowDup(s: SparkSession, dir: String): DataFrame =
    Dedup.winnowedDupGroups(docsSpread(s, dir), "doc_id", "text",
        k = 20, w = 8)
      .orderBy(col("wh"))

  val q143Oracle: String =
    """WITH c AS (SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS ct
      |  FROM documents),
      |p AS (SELECT doc_id, ct,
      |    unnest(generate_series(1, greatest(length(ct) - 19, 0))) AS i
      |  FROM c),
      |w AS (SELECT doc_id, i - 1 AS pos, list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(
      |      generate_series(CAST(i AS INT), CAST(i + 19 AS INT)),
      |      j -> CAST(ascii(substr(ct, CAST(j AS INT), 1)) AS BIGINT))),
      |    (acc, x) -> (acc * 257 + x) % 2147483647) AS wh
      |  FROM p),
      |kf AS (SELECT doc_id, pos,
      |    min(wh * 1048576 + (1048575 - pos)) OVER (PARTITION BY doc_id
      |      ORDER BY pos ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS key,
      |    row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS rn
      |  FROM w),
      |sel AS (SELECT DISTINCT doc_id, key // 1048576 AS wh
      |  FROM kf WHERE rn >= 8)
      |SELECT wh, min(doc_id) AS keep_id, CAST(count(*) AS BIGINT) AS n_docs
      |FROM sel GROUP BY wh HAVING count(*) >= 2 ORDER BY wh""".stripMargin

  // ------------------------------------------------------------------ q142
  /** Exact-substring duplicate REMOVAL ([[Dedup.removeSharedSpans]]):
    * rewrite each doc with the intervals cut whose 20-char windows
    * first occurred in a lower-id document — the Lee-et-al dedup
    * ACTION (q141 is the report): exactly one copy of every
    * duplicated span survives corpus-wide, the first-occurrence doc
    * verbatim. Window-hash first-id attribution + per-doc interval
    * union + one HOF cursor rewrite; linear, no pair join —
    * hash-exact oracle including the rewritten text itself. */
  def q142SpanScrub(s: SparkSession, dir: String): DataFrame =
    Dedup.removeSharedSpans(docsSpread(s, dir), "doc_id", "text", k = 20)
      .orderBy(col("doc_id"))

  val q142Oracle: String =
    """WITH c AS (SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS ct
      |  FROM documents),
      |p AS (SELECT doc_id, ct,
      |    unnest(generate_series(1, greatest(length(ct) - 19, 0))) AS i
      |  FROM c),
      |w AS (SELECT doc_id, i - 1 AS pos, list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(
      |      generate_series(CAST(i AS INT), CAST(i + 19 AS INT)),
      |      j -> CAST(ascii(substr(ct, CAST(j AS INT), 1)) AS BIGINT))),
      |    (acc, x) -> (acc * 257 + x) % 2147483647) AS wh
      |  FROM p),
      |fd AS (SELECT wh, min(doc_id) AS first_id FROM w
      |  GROUP BY wh HAVING count(DISTINCT doc_id) >= 2),
      |mp AS (SELECT DISTINCT w.doc_id, w.pos FROM w JOIN fd USING (wh)
      |  WHERE w.doc_id <> fd.first_id),
      |g AS (SELECT doc_id, pos,
      |    CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) < 20
      |      THEN 0 ELSE 1 END AS gap
      |  FROM mp),
      |isle AS (SELECT doc_id, pos,
      |    sum(gap) OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS isl
      |  FROM g),
      |iv AS (SELECT doc_id, isl, min(pos) AS s, max(pos) + 20 AS e
      |  FROM isle GROUP BY 1, 2),
      |seg AS (SELECT doc_id, s, e,
      |    coalesce(lag(e) OVER (PARTITION BY doc_id ORDER BY s), 0) AS pe
      |  FROM iv),
      |frag AS (SELECT seg.doc_id, substring(c.ct, pe + 1, s - pe) AS f, s AS ord
      |    FROM seg JOIN c USING (doc_id)
      |  UNION ALL SELECT mx.doc_id,
      |      substring(c.ct, mx.m + 1, length(c.ct) - mx.m) AS f,
      |      2147483647 AS ord
      |    FROM (SELECT doc_id, max(e) AS m FROM iv GROUP BY doc_id) mx
      |    JOIN c USING (doc_id)),
      |kept AS (SELECT doc_id, string_agg(f, '' ORDER BY ord) AS kt
      |  FROM frag GROUP BY doc_id),
      |rem AS (SELECT doc_id, CAST(sum(e - s) AS BIGINT) AS removed_chars
      |  FROM iv GROUP BY doc_id)
      |SELECT c.doc_id,
      |  coalesce(kept.kt, c.ct) AS kept_text,
      |  CAST(length(c.ct) AS BIGINT) AS total_chars,
      |  CAST(coalesce(rem.removed_chars, 0) AS BIGINT) AS removed_chars,
      |  CAST(CASE WHEN length(c.ct) > 0
      |    THEN (1000000 * coalesce(rem.removed_chars, 0)) // length(c.ct)
      |    ELSE 0 END AS BIGINT) AS removed_ppm
      |FROM c LEFT JOIN kept USING (doc_id) LEFT JOIN rem USING (doc_id)
      |ORDER BY c.doc_id""".stripMargin

  // ------------------------------------------------------------------ q141
  /** Per-document duplicated-span coverage ([[Dedup.spanCoverage]]):
    * the share of each document's canonical characters covered by a
    * 20-char window shared with another document — the Lee-et-al
    * "fraction of the doc that is duplicated text" curation metric,
    * q139's pair report rolled up per doc WITHOUT any pair join
    * (shared = document frequency ≥ 2 on the window hash; coverage =
    * per-doc interval union via gap-threshold gaps-and-islands).
    * Linear at any scale; one row per doc, zeros for clean docs —
    * hash-exact oracle. */
  def q141SpanCoverage(s: SparkSession, dir: String): DataFrame =
    Dedup.spanCoverage(docsSpread(s, dir), "doc_id", "text", k = 20)
      .orderBy(col("doc_id"))

  val q141Oracle: String =
    """WITH c AS (SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS ct
      |  FROM documents),
      |p AS (SELECT doc_id, ct,
      |    unnest(generate_series(1, greatest(length(ct) - 19, 0))) AS i
      |  FROM c),
      |w AS (SELECT doc_id, i - 1 AS pos, list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(
      |      generate_series(CAST(i AS INT), CAST(i + 19 AS INT)),
      |      j -> CAST(ascii(substr(ct, CAST(j AS INT), 1)) AS BIGINT))),
      |    (acc, x) -> (acc * 257 + x) % 2147483647) AS wh
      |  FROM p),
      |sh AS (SELECT wh FROM w GROUP BY wh HAVING count(DISTINCT doc_id) >= 2),
      |mp AS (SELECT DISTINCT doc_id, pos FROM w JOIN sh USING (wh)),
      |g AS (SELECT doc_id, pos,
      |    CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) < 20
      |      THEN 0 ELSE 1 END AS gap
      |  FROM mp),
      |isle AS (SELECT doc_id, pos,
      |    sum(gap) OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS isl
      |  FROM g),
      |runs AS (SELECT doc_id, isl, count(*) AS n,
      |    max(pos) - min(pos) + 20 AS cov
      |  FROM isle GROUP BY 1, 2),
      |agg AS (SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_shared_windows,
      |    CAST(sum(cov) AS BIGINT) AS covered_chars
      |  FROM runs GROUP BY doc_id)
      |SELECT c.doc_id,
      |  CAST(coalesce(agg.n_shared_windows, 0) AS BIGINT) AS n_shared_windows,
      |  CAST(coalesce(agg.covered_chars, 0) AS BIGINT) AS covered_chars,
      |  CAST(length(ct) AS BIGINT) AS total_chars,
      |  CAST(CASE WHEN length(ct) > 0
      |    THEN (1000000 * coalesce(agg.covered_chars, 0)) // length(ct)
      |    ELSE 0 END AS BIGINT) AS dup_ppm
      |FROM c LEFT JOIN agg USING (doc_id) ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------------ q140
  /** Unigram-LM tokenizer ENCODE ([[graft.text.UnigramLm
    * .encodeStats]]): apply q137's trained vocabulary to the corpus
    * via one more vocab-bounded Viterbi pass and report per-doc
    * tokenizer load (token count, character-symbol baseline, piece
    * count, integer-ppm saving) — the q111-to-q108 relationship for
    * the EM trainer. Hash-exact generated oracle (training chain +
    * vocabulary cut + encode dp + doc rollup). */
  def q140UnigramEncode(s: SparkSession, dir: String): DataFrame =
    graft.text.UnigramLm.encodeStats(docsSpread(s, dir), "doc_id", "text")
      .orderBy(col("doc_id"))

  /** Shared q137/q140 oracle machinery, generated: the EM unrolled as
    * CTEs — per-position dp (candidate arms per piece length, winner by
    * (cost asc, length desc)), a backtrack walk over wide position
    * columns, expected counts, prune + Laplace re-score — for `rounds`
    * rounds. Parameters mirror [[graft.text.UnigramLm]] defaults
    * (maxPieceLen 3, maxWordLen 12, vocabSize 64). Every CTE is
    * emitted MATERIALIZED — load-bearing, not a hint: DuckDB inlines
    * plain CTEs at every reference, and the dp chain references each
    * predecessor twice per step, so inlined the scan count grows
    * 2^steps (measured: "too many open files" before any row). */
  private val UMp = 3; private val UMw = 12
  private val URounds = 2; private val UVs = 64

  /** Emit one dp unroll + backtrack over `words` with costs from
    * `scoreCte`; expects `d${tag}_0` to exist; leaves `t${tag}_$UMw`
    * (wide backtrack columns piece1..piece$UMw per word). */
  private def unigramDpCtes(tag: String, scoreCte: String): String = {
    val sb = new StringBuilder
    for (i <- 1 to UMw) {
      val arms = (1 to math.min(UMp, i)).map { l =>
        s"SELECT w, len, $l AS l, dp${i - l} AS dprev FROM d${tag}_${i - 1}"
      }.mkString("\n      UNION ALL ")
      sb ++= s"""c${tag}_$i AS (SELECT w, l, substring(w, $i - l + 1, l) AS p, dprev FROM (
      $arms) WHERE len >= $i),
b${tag}_$i AS (SELECT w, cost, l FROM (
    SELECT c.w, c.dprev + s.nll AS cost, c.l,
      row_number() OVER (PARTITION BY c.w ORDER BY c.dprev + s.nll ASC, c.l DESC) AS rn
    FROM c${tag}_$i c JOIN $scoreCte s USING (p)) WHERE rn = 1),
d${tag}_$i AS (SELECT d.*, b.cost AS dp$i, b.l AS bl$i
  FROM d${tag}_${i - 1} d LEFT JOIN b${tag}_$i b USING (w)),
"""
    }
    val blList = (1 to UMw).map(i => s"bl$i").mkString(", ")
    sb ++= s"""t${tag}_0 AS (SELECT w, wc, len AS pos0, list_value($blList) AS bl FROM d${tag}_$UMw),
"""
    for (j <- 1 to UMw) {
      sb ++= s"""t${tag}_$j AS (SELECT *,
    CASE WHEN pos${j - 1} > 0 THEN substring(w, pos${j - 1} - bl[pos${j - 1}] + 1, bl[pos${j - 1}]) END AS piece$j,
    CASE WHEN pos${j - 1} > 0 THEN pos${j - 1} - bl[pos${j - 1}] ELSE 0 END AS pos$j
  FROM t${tag}_${j - 1}),
"""
    }
    sb.toString
  }

  /** The common training chain: word table, seed costs, `URounds` EM
    * rounds; leaves `sc$URounds` (final piece costs + counts). */
  private def unigramTrainCtes: String = {
    val sb = new StringBuilder
    sb ++= s"""WITH toks AS (SELECT doc_id, list_filter(
    string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' '),
    t -> len(t) > 0) AS l FROM documents),
words AS (SELECT w, CAST(count(*) AS BIGINT) AS wc, len(w) AS len
  FROM (SELECT unnest(l) AS w FROM toks) WHERE len(w) BETWEEN 1 AND $UMw GROUP BY w),
sp1 AS (SELECT w, wc, len, unnest(generate_series(1, len)) AS i FROM words),
sp2 AS (SELECT w, wc, i, unnest(generate_series(1, least($UMp, len - i + 1))) AS l FROM sp1),
seed AS (SELECT substring(w, i, l) AS p, CAST(sum(wc) AS BIGINT) AS cnt FROM sp2 GROUP BY 1),
sc0 AS (SELECT p, cnt, CAST(round(-1e6 * ln((cnt + 1.0) /
  ((SELECT sum(cnt) FROM seed) + (SELECT count(*) FROM seed)))) AS BIGINT) AS nll FROM seed),
d1_0 AS (SELECT w, wc, len, CAST(0 AS BIGINT) AS dp0 FROM words),
"""
    for (r <- 1 to URounds) {
      sb ++= unigramDpCtes(r.toString, s"sc${r - 1}")
      val unions = (1 to UMw).map(j =>
        s"SELECT piece$j AS p, wc FROM t${r}_$UMw WHERE piece$j IS NOT NULL")
        .mkString("\n    UNION ALL ")
      sb ++= s"""u$r AS (SELECT p, CAST(sum(wc) AS BIGINT) AS cnt FROM (
    $unions) GROUP BY p),
pr$r AS (SELECT s.p, coalesce(u.cnt, CAST(0 AS BIGINT)) AS cnt
  FROM sc${r - 1} s LEFT JOIN u$r u USING (p)
  WHERE coalesce(u.cnt, 0) > 0 OR len(s.p) = 1),
sc$r AS (SELECT p, cnt, CAST(round(-1e6 * ln((cnt + 1.0) /
  ((SELECT sum(cnt) FROM pr$r) + (SELECT count(*) FROM pr$r)))) AS BIGINT) AS nll FROM pr$r),
"""
      if (r < URounds)
        sb ++= s"""d${r + 1}_0 AS (SELECT w, wc, len, CAST(0 AS BIGINT) AS dp0 FROM words),
"""
    }
    sb.toString
  }

  val q137Oracle: String =
    (unigramTrainCtes + s"""ranked AS (SELECT p, cnt, nll,
  CAST(row_number() OVER (ORDER BY cnt DESC, p ASC) AS INTEGER) AS rank FROM sc$URounds)
SELECT p AS piece, cnt AS n_exp, nll AS nll_micro, rank FROM ranked
WHERE rank <= $UVs OR len(p) = 1 ORDER BY rank""")
      .replace(" AS (", " AS MATERIALIZED (")

  /** The q140 oracle: the q137 training chain, the vocabulary cut, one
    * MORE dp unroll under the final costs, pieces-per-word, and the
    * per-document rollup (left join so out-of-vocab long words fall
    * back to character segmentation, the trainer's clamp). */
  val q140Oracle: String = {
    val sb = new StringBuilder
    sb ++= unigramTrainCtes
    sb ++= s"""vocab AS (SELECT p, nll FROM (
    SELECT p, cnt, nll, row_number() OVER (ORDER BY cnt DESC, p ASC) AS rank
    FROM sc$URounds) WHERE rank <= $UVs OR len(p) = 1),
de_0 AS (SELECT w, wc, len, CAST(0 AS BIGINT) AS dp0 FROM words),
"""
    sb ++= unigramDpCtes("e", "vocab")
    val unions = (1 to UMw).map(j =>
      s"SELECT w, piece$j AS p FROM te_$UMw WHERE piece$j IS NOT NULL")
      .mkString("\n    UNION ALL ")
    sb ++= s"""npw AS (SELECT w, CAST(count(*) AS BIGINT) AS n_pieces FROM (
    $unions) GROUP BY w),
tokd AS (SELECT doc_id, unnest(l) AS tok FROM toks),
agg AS (SELECT doc_id,
    CAST(count(*) AS BIGINT) AS n_tokens,
    CAST(sum(length(tok)) AS BIGINT) AS n_char_symbols,
    CAST(sum(coalesce(npw.n_pieces, length(tok))) AS BIGINT) AS n_pieces
  FROM tokd LEFT JOIN npw ON tokd.tok = npw.w
  WHERE len(tok) >= 1 GROUP BY doc_id)
SELECT doc_id, n_tokens, n_char_symbols, n_pieces,
  (1000000 * (n_char_symbols - n_pieces)) // n_char_symbols AS saved_ppm
FROM agg ORDER BY doc_id"""
    sb.toString.replace(" AS (", " AS MATERIALIZED (")
  }
}
