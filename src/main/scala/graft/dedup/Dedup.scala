package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.text.TextAnalysis

/** Deduplication operators for LLM training-data pipelines.
  *
  * Every operator is expressed as declarative DataFrame transforms so
  * Catalyst plans the shuffles: exact/fingerprint dedup is one hash
  * aggregation; the near-dup family (MinHash, SimHash) maps each document
  * to a small number of bucket keys and only joins within buckets,
  * turning the O(n²) pair space into per-bucket local work — the shuffle
  * key IS the bucket, so this scales horizontally.
  */
object Dedup {

  /** Exact dedup: keep the smallest id per identical key value; report
    * group size. */
  def exact(df: DataFrame, idCol: String, keyCol: Column): DataFrame =
    df.groupBy(keyCol.as("dup_key"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("group_size"))

  /** Exact substring-level duplicate detection: groups of documents that
    * share ANY length-`k` canonical-text span — the span-dedup shape
    * ("deduplicating training data" exact-substring family), which
    * catches boilerplate and quotation overlap that document-level
    * fingerprints miss.
    *
    * Every length-`k` codepoint window is hashed in ONE pass per
    * document by the native [[graft.expressions.RollingWindows]] kernel
    * (Rabin–Karp slide, codegen'd); windows dedup per document before
    * the explode, and the aggregation shuffles on the window hash — at
    * corpus scale the (doc, hash) stream is the inherent cost of
    * substring dedup, bounded by total characters. `sampleMod > 1`
    * applies the standard winnowing trade: only window hashes
    * ≡ 0 (mod sampleMod) survive, cutting the shuffle by that factor
    * while still catching any shared span of length ≥ k + sampleMod
    * (in expectation).
    *
    * @return (`wh` window hash, `keep_id` min doc id, `n_docs`) for
    *         every window shared by at least `minDocs` documents */
  def substringDupGroups(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
      minDocs: Long = 2L,
      sampleMod: Int = 1): DataFrame = {
    require(sampleMod >= 1, s"sampleMod must be >= 1, got $sampleMod")
    val windows = array_distinct(
      graft.expressions.RollingWindows.rollingWindows(
        TextAnalysis.canonical(col(textCol)), k))
    val exploded = docs
      .select(col(idCol), explode(windows).as("wh"))
    val sampled =
      if (sampleMod == 1) exploded
      else exploded.where(col("wh") % sampleMod === 0)
    sampled
      .groupBy(col("wh"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_docs"))
      .where(col("n_docs") >= minDocs)
  }

  /** Window hashes shared by 2..`cap` DISTINCT documents, without
    * paying the distinct expansion on the whole stream: `count_distinct`
    * plans as four hash-aggregate passes carrying (wh, id)-level rows
    * through the exchange, yet the exact distinct count is only needed
    * to test `<= cap` — and `count(*) <= cap` already IMPLIES it
    * (distinct ≤ total). So one fully partial-aggregable pass computes
    * (min(id), max(id), count(*)) per hash: `min != max` is the ≥ 2
    * screen (the q141/q142 rewrite), `count(*) <= cap` clears the
    * overwhelming majority of shared hashes outright, and only hashes
    * with MORE than `cap` total occurrences — the corpus-boilerplate
    * vocabulary, at most a 1/cap fraction of the window stream and
    * 8 bytes per entry — re-check the exact distinct count over a
    * broadcast-pruned second scan of the (already checkpointed) input.
    * A hash with > cap occurrences but ≤ cap distinct docs (within-doc
    * repetition) lands in the hot branch and is correctly KEPT.
    *
    * @param wpos (id, wh [, ...]) window stream — expected materialized
    *             (the hot branch re-scans it)
    * @return single-column `wh` frame, set-identical to
    *         `group by wh having count(distinct id) between 2 and cap` */
  private def eligibleSharedHashes(wpos: DataFrame, cap: Long): DataFrame = {
    val stats = wpos
      .groupBy(col("wh"))
      .agg(min(col("id")).as("_mn"), max(col("id")).as("_mx"),
        count(lit(1)).as("_cnt"))
      .where(col("_mn") =!= col("_mx"))
    val cheap = stats.where(col("_cnt") <= cap).select(col("wh"))
    val hot = stats.where(col("_cnt") > cap).select(col("wh"))
    val hotOk = wpos.join(broadcast(hot), "wh")
      .groupBy(col("wh"))
      .agg(count_distinct(col("id")).as("_nd"))
      .where(col("_nd") <= cap)
      .select(col("wh"))
    cheap.unionByName(hotOk)
  }

  /** LONGEST shared canonical span per document pair — the
    * exact-substring-dedup reporting shape ("how much do these two
    * documents overlap, and is it one long paste or scattered
    * boilerplate?"), extending [[substringDupGroups]]'s fixed-`k`
    * collision report to span LENGTHS without any per-length re-scan.
    *
    * The trick is positional: a shared span of length L ≥ k produces
    * exactly L−k+1 MATCHED k-window positions on one diagonal
    * (pos_b − pos_a constant), and conversely a maximal run of m
    * consecutive matched positions on a diagonal is a shared span of
    * length k+m−1. So ONE window-hash equi-join at the base length
    * plus a gaps-and-islands run-length pass yields the longest span
    * exactly — no binary search over lengths, no re-hashing.
    *
    * Scale: matched positions are the inherent cost (every shared
    * span's windows must meet SOMEWHERE to be discovered); the
    * `maxDocsPerWindow` cap drops windows hotter than the cap before
    * pairing (declared winnowing: a span whose every window is
    * corpus-boilerplate beyond the cap goes unreported; spans with any
    * sub-cap window segment still surface, possibly split). Windows
    * shared by < 2 docs are pruned before the self-join. The island
    * rank partitions by (id_a, id_b, d) — pair-diagonal cardinality,
    * groups bounded by document length.
    *
    * Hash-collision note: like [[substringDupGroups]] (and its
    * oracle), window identity is the Rabin–Karp hash — a cross-doc
    * collision could fuse two runs; mod 2³¹−1 on gate corpora the
    * probability is negligible, and both engines share the formula so
    * the gate is hash-exact regardless.
    *
    * @return per ordered pair: `id_a < id_b`, `span_len` (longest
    *         shared canonical span, chars), `n_runs` (distinct shared
    *         spans ≥ k), `n_anchors` (total matched window positions)
    */
  def longestSharedSpan(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
      maxDocsPerWindow: Long = 50L): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    val wpos = docs.select(col(idCol).as("id"),
      posexplode(graft.expressions.RollingWindows.rollingWindows(
        TextAnalysis.canonical(col(textCol)), k)).as(Seq("pos", "wh")))
    val wposCp = graft.util.Blocks.checkpoint(wpos)
    val eligible = eligibleSharedHashes(wposCp.df, maxDocsPerWindow)
    val w2 = graft.util.Blocks.checkpoint(wposCp.df.join(eligible, "wh"))
    wposCp.release()
    val m = w2.df.as("a")
      .join(w2.df.as("b"),
        col("a.wh") === col("b.wh") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.pos").as("pos_a"),
        (col("b.pos") - col("a.pos")).as("d"))
    val runs = m
      .withColumn("_isl", col("pos_a") - row_number().over(
        Window.partitionBy(col("id_a"), col("id_b"), col("d"))
          .orderBy(col("pos_a"))))
      .groupBy(col("id_a"), col("id_b"), col("d"), col("_isl"))
      .agg(count(lit(1)).as("_run"))
    val result = runs
      .groupBy(col("id_a"), col("id_b"))
      .agg((lit(k - 1) + max(col("_run"))).cast("long").as("span_len"),
        count(lit(1)).cast("long").as("n_runs"),
        sum(col("_run")).cast("long").as("n_anchors"))
    val out = graft.util.Blocks.checkpoint(result)
    w2.release()
    out.df
  }

  /** Winnowed substring-duplicate groups — [[substringDupGroups]] at
    * ~2/(w+1) the index size with the WINNOWING GUARANTEE (Schleimer
    * et al. 2003, the MOSS scheme): from every full window of `w`
    * consecutive k-gram hashes select the RIGHTMOST MINIMUM, so any
    * two documents sharing a span of length ≥ w + k − 1 are
    * guaranteed to share a selected fingerprint — unlike
    * [[substringDupGroups]]'s `sampleMod` thinning, whose catch is
    * only in expectation.
    *
    * The rightmost-min selection is ONE window pass, engine-portable
    * by integer encoding: minimizing `wh·2²⁰ + (2²⁰−1−pos)` over the
    * w-frame minimizes the hash and breaks ties to the LARGEST
    * position. Window positions are clamped below 2²⁰ — a longer
    * canonical doc is TRUNCATED at 2²⁰ windows (equivalent to cutting
    * the doc at 2²⁰ + k − 1 chars; a 1 MB canonical doc is past every
    * training-data length cap in this suite), which keeps the tiebreak
    * term non-negative instead of silently corrupting the decoded
    * hashes past the boundary. Docs with fewer than `w` full windows
    * contribute no fingerprints (standard winnowing; the guarantee
    * only speaks about spans ≥ w + k − 1).
    *
    * Scale: the selected-fingerprint stream is the winnowed fraction
    * of the window stream; the group aggregation shuffles on the
    * fingerprint hash exactly like [[substringDupGroups]] — this IS
    * the 100 TB configuration of substring dedup (store ~25% of the
    * index at w = 8 and keep a hard guarantee).
    *
    * @return (`wh`, `keep_id`, `n_docs`) for every winnowed
    *         fingerprint selected by ≥ `minDocs` documents */
  def winnowedDupGroups(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
      w: Int,
      minDocs: Long = 2L): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    require(w >= 2, s"w must be >= 2, got $w")
    val wpos = docs.select(col(idCol).as("id"),
      posexplode(graft.expressions.RollingWindows.rollingWindows(
        TextAnalysis.canonical(col(textCol)), k)).as(Seq("pos", "wh")))
      // declared truncation: beyond 2^20 windows the tiebreak term
      // would go negative and decode to wh - 1 (see scaladoc)
      .where(col("pos") < lit(1048576))
    val wDoc = Window.partitionBy(col("id")).orderBy(col("pos"))
    val frame = wDoc.rowsBetween(-(w - 1), Window.currentRow)
    val selected = wpos
      .withColumn("_key",
        min(col("wh") * lit(1048576L) + (lit(1048575L) - col("pos")))
          .over(frame))
      .withColumn("_rn", row_number().over(wDoc))
      .where(col("_rn") >= w) // full windows only
      .select(col("id"), expr("_key div 1048576").as("wh"))
      .distinct()
    selected
      .groupBy(col("wh"))
      .agg(min(col("id")).as("keep_id"), count(lit(1)).as("n_docs"))
      .where(col("n_docs") >= minDocs)
  }

  /** WINNOWED longest-shared-span report — [[longestSharedSpan]]'s
    * scale tier: the pair join is anchored on the ~2/(w+1) winnowed
    * fingerprints of [[winnowedDupGroups]] instead of the full window
    * stream, so the equi-join input (the dominant cost of the pair
    * report at corpus scale) shrinks by the winnowing factor while the
    * Schleimer guarantee still holds: any shared span of length
    * ≥ w + k − 1 selects at least one identical fingerprint at the
    * same in-span offset in both documents, so the pair IS discovered.
    *
    * Span lengths are declared LOWER BOUNDS (winnowing semantic): a
    * run of matched anchors on one diagonal spans from its first to
    * its last anchor plus the window length, but the true shared span
    * can extend up to w − 1 windows past each end (where selection
    * falls on frames straddling the span boundary). Interior anchors
    * of one span sit ≤ w positions apart (every w-frame selects one),
    * so runs merge on gap ≤ w — two distinct spans closer than w
    * positions on the same diagonal may fuse (still a valid lower
    * bound for the longer).
    *
    * `maxDocsPerAnchor` is [[longestSharedSpan]]'s hot-window cap
    * applied to the winnowed stream: fingerprints selected by more
    * documents are corpus boilerplate and are dropped before pairing.
    *
    * @return per ordered pair: `id_a < id_b`, `span_lb` (longest
    *         merged anchor run, chars — a lower bound on the longest
    *         shared span), `n_runs`, `n_anchors` */
  def winnowedSharedSpan(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
      w: Int,
      maxDocsPerAnchor: Long = 50L): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    require(w >= 2, s"w must be >= 2, got $w")
    val wpos = docs.select(col(idCol).as("id"),
      posexplode(graft.expressions.RollingWindows.rollingWindows(
        TextAnalysis.canonical(col(textCol)), k)).as(Seq("pos", "wh")))
      .where(col("pos") < lit(1048576)) // winnow encoding truncation
    val wDoc = Window.partitionBy(col("id")).orderBy(col("pos"))
    val frame = wDoc.rowsBetween(-(w - 1), Window.currentRow)
    val sel = wpos
      .withColumn("_key",
        min(col("wh") * lit(1048576L) + (lit(1048575L) - col("pos")))
          .over(frame))
      .withColumn("_rn", row_number().over(wDoc))
      .where(col("_rn") >= w)
      .select(col("id"), expr("_key div 1048576").as("wh"),
        (lit(1048575L) - expr("_key % 1048576")).as("apos"))
      .distinct()
    val selCp = graft.util.Blocks.checkpoint(sel)
    val eligible = eligibleSharedHashes(selCp.df, maxDocsPerAnchor)
    val a2 = graft.util.Blocks.checkpoint(selCp.df.join(eligible, "wh"))
    selCp.release()
    val m = a2.df.as("a")
      .join(a2.df.as("b"),
        col("a.wh") === col("b.wh") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.apos").as("pos_a"),
        (col("b.apos") - col("a.apos")).as("d"))
    val wPair = Window.partitionBy(col("id_a"), col("id_b"), col("d"))
      .orderBy(col("pos_a"))
    val runs = m
      .withColumn("_gap",
        when(col("pos_a") - lag(col("pos_a"), 1).over(wPair) <= w, 0)
          .otherwise(1))
      .withColumn("_isl", sum(col("_gap")).over(
        wPair.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("id_a"), col("id_b"), col("d"), col("_isl"))
      .agg((max(col("pos_a")) - min(col("pos_a")) + lit(k)).as("_lb"),
        count(lit(1)).as("_n"))
    val result = runs
      .groupBy(col("id_a"), col("id_b"))
      .agg(max(col("_lb")).cast("long").as("span_lb"),
        count(lit(1)).cast("long").as("n_runs"),
        sum(col("_n")).cast("long").as("n_anchors"))
    val out = graft.util.Blocks.checkpoint(result)
    a2.release()
    out.df
  }

  /** Per-document duplicated-span COVERAGE — the Lee-et-al "how much
    * of each document is duplicated text" metric: the number of
    * canonical character positions covered by at least one length-`k`
    * window shared with ANOTHER document, as an exact count and an
    * integer-ppm share of the document. The per-doc aggregate of what
    * [[longestSharedSpan]] reports per pair — and unlike the pair
    * view, it needs NO pair join at all: a window is "shared" iff its
    * hash occurs in ≥ 2 documents, so the plan is window explode →
    * hash-keyed document-frequency → join back → per-doc interval
    * union. Linear at any scale; no cap parameter needed.
    *
    * The interval union is gaps-and-islands with a gap threshold:
    * matched window positions within `k` of each other overlap, so
    * consecutive positions with gap < `k` merge into one covered
    * interval of length (last − first + k). Window partitions key on
    * the document id — per-doc cardinality, groups bounded by doc
    * length.
    *
    * Docs with no shared window report zeros (left join) — the output
    * is one row per input document.
    *
    * @return (`idCol`, `n_shared_windows`, `covered_chars`,
    *         `total_chars`, `dup_ppm`) */
  def spanCoverage(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    val base = docs.select(col(idCol).as("id"),
      TextAnalysis.canonical(col(textCol)).as("ct"))
    val wpos = base.select(col("id"),
      posexplode(graft.expressions.RollingWindows.rollingWindows(
        col("ct"), k)).as(Seq("pos", "wh")))
    val wposCp = graft.util.Blocks.checkpoint(wpos)
    // "occurs in >= 2 docs" as min(id) != max(id), NOT
    // count_distinct(id) >= 2: the distinct aggregate plans as TWO
    // exchanges of the (mostly-unique-hash) window stream — a (wh, id)
    // dedup pass then the count — while min/max is one partially
    // aggregable pass, and only the 2-vs-more cardinality question is
    // asked, never the exact count
    val shared = wposCp.df
      .groupBy(col("wh"))
      .agg(min(col("id")).as("_mn"), max(col("id")).as("_mx"))
      .where(col("_mn") =!= col("_mx"))
      .select(col("wh"))
    val wDoc = Window.partitionBy(col("id")).orderBy(col("pos"))
    // no distinct: (id, pos) is unique in the window stream (posexplode
    // emits each position once) and `shared` is one row per hash, so
    // the join cannot duplicate — a distinct here was one full extra
    // exchange of the matched stream for nothing
    val covered = wposCp.df
      .join(shared, "wh")
      .select(col("id"), col("pos"))
      .withColumn("_gap",
        when(col("pos") - lag(col("pos"), 1).over(wDoc) < k, 0)
          .otherwise(1))
      .withColumn("_isl",
        sum(col("_gap")).over(
          wDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("id"), col("_isl"))
      .agg(count(lit(1)).as("_n"),
        (max(col("pos")) - min(col("pos")) + k).as("_cov"))
      .groupBy(col("id"))
      .agg(sum(col("_n")).as("n_shared_windows"),
        sum(col("_cov")).as("covered_chars"))
    val result = base
      .select(col("id"), length(col("ct")).cast("long").as("total_chars"))
      .join(covered, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("n_shared_windows"), lit(0L)).cast("long")
          .as("n_shared_windows"),
        coalesce(col("covered_chars"), lit(0L)).cast("long")
          .as("covered_chars"),
        col("total_chars"),
        when(col("total_chars") > 0,
          expr("(1000000 * coalesce(covered_chars, CAST(0 AS BIGINT)))" +
            " div total_chars"))
          .otherwise(lit(0L)).as("dup_ppm"))
    val out = graft.util.Blocks.checkpoint(result)
    wposCp.release()
    out.df
  }

  /** Exact-substring duplicate REMOVAL with first-occurrence keep —
    * the ACTION of the Lee-et-al exact-substring-dedup family, where
    * [[spanCoverage]] is the report: rewrite every document with the
    * character intervals cut whose length-`k` windows ALL first
    * occurred in a lower-id document, so exactly one copy of every
    * duplicated span survives in the corpus (the min-id doc keeps its
    * text intact; removing from every copy would delete legitimate
    * text corpus-wide).
    *
    * Semantics: a window position is REMOVABLE iff its hash occurs in
    * ≥ 2 documents and this doc is NOT the corpus-minimum id
    * containing it (q133's first-occurrence attribution, applied to
    * windows). Removable positions union into intervals (gap < `k`
    * merges, as in [[spanCoverage]]); the rewrite concatenates the
    * uncovered segments of the canonical text. Repeats of a window
    * WITHIN its first-occurrence doc are kept there — declared.
    *
    * Scale shape: window explode → (first id, doc frequency) per hash
    * → join back → per-doc interval union (windows keyed on the doc
    * id) → ONE aggregate() higher-order rewrite over the per-doc
    * interval array (bounded by document length; a chained-projection
    * rewrite would hit the CollapseProject 2^n duplication). Linear
    * at any scale, no pair join, no cap parameter.
    *
    * @return (`idCol`, `kept_text`, `total_chars`, `removed_chars`,
    *         `removed_ppm`) — one row per doc; clean docs pass
    *         through with `kept_text` = canonical text and zeros */
  def removeSharedSpans(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    val baseCp = graft.util.Blocks.checkpoint(docs.select(col(idCol).as("id"),
      TextAnalysis.canonical(col(textCol)).as("ct")))
    val wposCp = graft.util.Blocks.checkpoint(baseCp.df.select(col("id"),
      posexplode(graft.expressions.RollingWindows.rollingWindows(
        col("ct"), k)).as(Seq("pos", "wh"))))
    // min(id) carries the first-occurrence keeper and max(id) != min(id)
    // IS the ">= 2 distinct docs" test — one partially-aggregable pass
    // instead of count_distinct's two-exchange distinct aggregate (see
    // [[spanCoverage]])
    val firstDoc = wposCp.df
      .groupBy(col("wh"))
      .agg(min(col("id")).as("_first"), max(col("id")).as("_mx"))
      .where(col("_first") =!= col("_mx"))
      .select(col("wh"), col("_first"))
    val removable = wposCp.df
      .join(firstDoc, "wh")
      .where(col("id") =!= col("_first"))
      .select(col("id"), col("pos"))
    val out = graft.util.Blocks.checkpoint(
      scrubByPositions(baseCp.df, removable, idCol, k, dedupPositions = false))
    wposCp.release(); baseCp.release()
    out.df
  }

  /** The interval-union + rewrite stage of [[removeSharedSpans]],
    * shared with the streaming tier: given the canonical base
    * (`id`, `ct`) and the REMOVABLE window positions (`id`, `pos` —
    * duplicates tolerated), merge positions within `k` into covered
    * intervals and cut them from the text with one aggregate() HOF
    * cursor walk (a chained-projection rewrite would hit the
    * CollapseProject 2^n duplication). One output row per base doc;
    * docs with no removable positions pass through verbatim. */
  private[graft] def scrubByPositions(
      base: DataFrame,
      removable: DataFrame,
      idCol: String,
      k: Int,
      dedupPositions: Boolean = true): DataFrame = {
    val wDoc = Window.partitionBy(col("id")).orderBy(col("pos"))
    // dedupPositions = false skips the (id, pos) distinct — one full
    // exchange of the matched stream — for callers whose removable
    // stream is unique by construction ([[removeSharedSpans]]: (id,
    // pos) is unique in the window stream and firstDoc is one row per
    // hash, so the join cannot duplicate); the streaming tier keeps
    // the dedup (its accumulated stream may repeat positions across
    // batches)
    val positions = removable.select(col("id"), col("pos"))
    val intervals = (if (dedupPositions) positions.distinct() else positions)
      .withColumn("_gap",
        when(col("pos") - lag(col("pos"), 1).over(wDoc) < k, 0)
          .otherwise(1))
      .withColumn("_isl",
        sum(col("_gap")).over(
          wDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("id"), col("_isl"))
      .agg(min(col("pos")).as("s"), (max(col("pos")) + k).as("e"))
      .groupBy(col("id"))
      .agg(sort_array(collect_list(struct(col("s"), col("e")))).as("iv"),
        sum(col("e") - col("s")).cast("long").as("removed_chars"))
    base
      .join(intervals, Seq("id"), "left")
      .select(col("id").as(idCol),
        when(col("iv").isNull, col("ct")).otherwise(
          // cursor walk over the sorted, non-overlapping intervals:
          // emit [cursor, s), jump cursor to e; then the tail
          expr("""concat(
            aggregate(iv,
              named_struct('cur', 0, 'acc', ''),
              (st, v) -> named_struct(
                'cur', v.e,
                'acc', concat(st.acc,
                  substring(ct, st.cur + 1, v.s - st.cur))),
              st -> st.acc),
            substring(ct, element_at(iv, -1).e + 1))"""))
          .as("kept_text"),
        length(col("ct")).cast("long").as("total_chars"),
        coalesce(col("removed_chars"), lit(0L)).as("removed_chars"),
        when(length(col("ct")) > 0,
          expr("(1000000 * coalesce(removed_chars, CAST(0 AS BIGINT)))" +
            " div length(ct)"))
          .otherwise(lit(0L)).as("removed_ppm"))
  }

  /** Incremental corpus dedup: collapse an incoming batch against an
    * EXISTING snapshot's fingerprint set — the daily-ingest shape, where
    * re-fingerprinting the whole corpus per batch is off the table.
    * A batch doc survives iff its canonical fingerprint is absent from
    * the snapshot; batch-internal duplicates collapse to the min id.
    *
    * One anti-join keyed on the fingerprint (the snapshot side is just
    * fingerprints — at 100 TB that column lives bucketed/sorted by fp,
    * making this a co-located join) plus one aggregation on the same
    * key, so the second shuffle reuses the first's partitioning.
    *
    * @param snapshotFps existing corpus fingerprints, column `fp`
    * @return (`fp`, `keep_id`, `n_batch` batch occurrences) per
    *         genuinely-new fingerprint */
  def dedupAgainstSnapshot(
      incoming: DataFrame,
      idCol: String,
      textCol: String,
      snapshotFps: DataFrame): DataFrame =
    incoming
      .withColumn("fp", TextAnalysis.fingerprint(col(textCol)))
      .join(snapshotFps.select(col("fp")), Seq("fp"), "left_anti")
      .groupBy(col("fp"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_batch"))

  /** Bloom-prefiltered incremental dedup — identical results to
    * [[dedupAgainstSnapshot]] (exact, oracle-checkable), but the
    * anti-join only ever sees rows the snapshot's Bloom filter cannot
    * rule out. At 100 TB the plain anti-join shuffles the ENTIRE batch
    * on the fingerprint; with a daily-ingest hit rate of a few percent,
    * the bloom proves ~97 % of rows new at the SCAN (narrow, codegen'd
    * [[graft.expressions.BloomContains]]), so only the maybe-dup sliver
    * shuffles. Spark's runtime row-level filters do this automatically
    * for semi/inner joins but cannot for anti-joins (rows the bloom
    * rejects must be KEPT), hence the explicit two-branch split here.
    *
    * The batch is scanned twice (once per branch) — deliberate: two
    * narrow scans cost far less than one full-batch shuffle, and the
    * branches stay independent stages. False positives re-confirm
    * through the real anti-join, so the bloom only ever REDUCES work,
    * never changes the answer.
    *
    * TWO filter tiers, selected by snapshot size (or forced via
    * `ranges`):
    *  - `ranges == 1`: one corpus-wide filter (`stat.bloomFilter`,
    *    built distributed) ships as a plan constant — fine to ~10⁸
    *    keys (~120 MB at 1 % fpp).
    *  - `ranges > 1`: executor-LOCAL probing ([[probeRangeLocal]]):
    *    the snapshot is hash-partitioned on `pmod(xxhash64(fp), ranges)`
    *    and ONE BOUNDED filter is built per range in a single
    *    distributed pass ([[rangeBloomsRdd]]); the batch co-partitions
    *    on the same range key and each task zips with exactly ITS
    *    range's filter. No plan constant, no broadcast, no task ever
    *    holds more than one range's bits — the 10¹¹-key path. Costs one
    *    narrow (id, fp) shuffle of the batch, which is what buys the
    *    locality.
    * AUTO-selection (`ranges = 0`) is measured, not guessed
    * (BENCH_NOTES "Round 8: snapshot-bloom tier handover"): the local
    * tier beat the plan-constant filters at EVERY measured snapshot
    * size ≥ 2·10⁵ keys (1.9× at 2·10⁵, 6.2× at 4·10⁶, 5.0× at 2·10⁷ —
    * a constant filter pays its bits in every task binary of both
    * probe branches AND re-fingerprints the batch per branch; the
    * local tier shuffles the slim (id, fp) projection once and reuses
    * it), so auto dispatches local above [[LocalTierMinKeys]] with
    * parallelism-wide ranges (each filter still ≤ ~10⁸ keys), and the
    * single tiny plan constant below it. Exactness is identical in
    * both tiers.
    *
    * @param snapshotFps existing corpus fingerprints, column `fp`
    *                    (string or bigint)
    * @param fpp target false-positive rate for the prefilter
    * @param expectedItems snapshot cardinality hint; if <= 0 the
    *                      snapshot is counted — a FULL extra pass over
    *                      it, logged loudly because callers at scale
    *                      should always pass the known cardinality
    * @param ranges number of per-range filters: 0 = auto by size,
    *               1 = the single filter, > 1 = the executor-local tier */
  def bloomDedupAgainstSnapshot(
      incoming: DataFrame,
      idCol: String,
      textCol: String,
      snapshotFps: DataFrame,
      fpp: Double = 0.01,
      expectedItems: Long = -1L,
      ranges: Int = 0): DataFrame = {
    import graft.expressions.BloomContains
    val n =
      if (expectedItems > 0L) expectedItems
      else {
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          "bloomDedupAgainstSnapshot: no expectedItems hint — counting " +
            "the snapshot costs a full extra pass over it; pass the " +
            "known cardinality at scale")
        math.max(snapshotFps.count(), 1L)
      }
    val r =
      if (ranges > 0) ranges
      else if (n < LocalTierMinKeys) 1
      else {
        val byCapacity =
          math.max(1L, (n + MaxKeysPerBloom - 1) / MaxKeysPerBloom).toInt
        val byCores = math.min(
          incoming.sparkSession.sparkContext.defaultParallelism, 64)
        math.max(byCapacity, math.max(byCores, 2))
      }
    val fped = incoming
      .select(col(idCol), TextAnalysis.fingerprint(col(textCol)).as("fp"))
    val probed: DataFrame =
      if (r <= 1)
        fped.withColumn("might_dup",
          BloomContains.contains(col("fp"),
            snapshotFps.stat.bloomFilter(col("fp"), n, fpp)))
      else
        // The local tier pays a batch shuffle + a snapshot fold;
        // materialize its probe table ONCE into an eager checkpoint so
        // the two branch traversals below read blocks instead of
        // re-zipping, and no per-range filter stays persisted past this
        // call. The checkpointed probe table is result lineage the
        // caller/harness owns ([[graft.util.Blocks.release]]).
        graft.util.Blocks.checkpoint(
          probeRangeLocal(fped, snapshotFps, r, math.max(n / r, 1L), fpp)).df
    val provablyNew = probed.where(!col("might_dup")).drop("might_dup")
    val confirmedNew = probed.where(col("might_dup")).drop("might_dup")
      .join(snapshotFps.select(col("fp")), Seq("fp"), "left_anti")
    provablyNew.unionByName(confirmedNew)
      .groupBy(col("fp"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_batch"))
  }

  /** Auto-tier threshold: keys per Bloom filter before
    * [[bloomDedupAgainstSnapshot]] switches to per-range filters
    * (~120 MB of bitset at 1 % fpp). */
  private[graft] val MaxKeysPerBloom = 100L * 1000 * 1000

  /** Snapshot size above which auto-selection dispatches the
    * executor-local tier. Measured (BENCH_NOTES "Round 8: snapshot-bloom
    * tier handover", local[16], 200k-row batch): the local tier already wins at 2·10⁵ snapshot
    * keys (1.66 s vs 3.13 s single-bloom) and the gap only widens
    * (6.2× at 4·10⁶) — below ~10⁵ the filter is a few hundred KB and
    * the extra batch shuffle has nothing to amortize. */
  private[graft] val LocalTierMinKeys = 200L * 1000

  /** One Bloom filter per fingerprint range, built in a SINGLE
    * distributed pass and LEFT DISTRIBUTED: each fingerprint shuffles
    * (8–32 bytes) to its range's partition — the identity
    * HashPartitioner on the pmod key makes partition == range — and
    * each task folds ONLY its own range's filter, so the per-task
    * allocation is bounded by the range size, never the corpus. The
    * returned RDD has exactly `ranges` partitions holding zero or one
    * `(range, filter)` each. Key semantics match
    * [[graft.expressions.BloomContains]]: strings hash by their UTF-8
    * bytes, longs natively. (RDD-level on purpose: per-partition
    * imperative filter construction has no Dataset equivalent.) */
  private[graft] def rangeBloomsRdd(
      snapshotFps: DataFrame,
      ranges: Int,
      perRangeItems: Long,
      fpp: Double): org.apache.spark.rdd.RDD[
        (Int, org.apache.spark.util.sketch.BloomFilter)] = {
    val isString = snapshotFps.schema("fp").dataType ==
      org.apache.spark.sql.types.StringType
    snapshotFps
      .select(col("fp"),
        pmod(xxhash64(col("fp")), lit(ranges.toLong)).cast("int").as("rng"))
      .rdd.map(row => (row.getInt(1), row.get(0)))
      .partitionBy(new org.apache.spark.HashPartitioner(ranges))
      .mapPartitionsWithIndex { (pid, it) =>
        val bf = org.apache.spark.util.sketch.BloomFilter
          .create(math.max(perRangeItems, 1L), fpp)
        var any = false
        it.foreach { case (_, fp) =>
          if (isString) bf.putBinary(fp.asInstanceOf[String]
            .getBytes(java.nio.charset.StandardCharsets.UTF_8))
          else bf.putLong(fp.asInstanceOf[Long])
          any = true
        }
        if (any) Iterator.single(pid -> bf) else Iterator.empty
      }
  }

  /** Executor-local range-bloom probe: annotates `fped` (columns
    * `(id, fp)`) with a `might_dup` boolean WITHOUT any filter ever
    * reaching the driver, the plan, or a foreign executor. Both sides
    * co-partition on `pmod(xxhash64(fp), ranges)` with the identity
    * HashPartitioner (partition == range — the exact scheme
    * [[rangeBloomsRdd]] builds with), then `zipPartitions` hands each
    * task ITS range's filter and ITS range's batch rows and nothing
    * else. At 10¹¹ snapshot keys (~1000 ranges, ~12 GB of filters
    * total) every task still holds ≤ 120 MB — the property a
    * plan-constant filter cannot offer.
    *
    * LAZY, and deliberately does NOT persist the filter RDD:
    * [[bloomDedupAgainstSnapshot]] materializes this probe's output
    * into an eager checkpoint, so the fold over the snapshot and the
    * zip both run exactly ONCE (the two downstream branch traversals
    * read checkpoint blocks) and no per-range filter outlives the call
    * — a persist here had no deterministic release point and leaked
    * into every later query of a long-lived JVM. Callers that consume
    * the returned frame more than once must materialize it themselves.
    *
    * Null fingerprints (null input text) route to partition 0 with a
    * `might_dup = false` verdict — provably new, so null-text rows are
    * kept. */
  private[graft] def probeRangeLocal(
      fped: DataFrame,
      snapshotFps: DataFrame,
      ranges: Int,
      perRangeItems: Long,
      fpp: Double): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{BooleanType, StringType}
    val spark = fped.sparkSession
    val isString = snapshotFps.schema("fp").dataType == StringType
    val blooms = rangeBloomsRdd(snapshotFps, ranges, perRangeItems, fpp)
    val keyed = fped.withColumn("rng",
      pmod(xxhash64(col("fp")), lit(ranges.toLong)).cast("int"))
    val rngIdx = keyed.schema.fieldIndex("rng")
    val fpIdx = keyed.schema.fieldIndex("fp")
    val batch = keyed.rdd
      .map(row => (if (row.isNullAt(rngIdx)) 0 else row.getInt(rngIdx), row))
      .partitionBy(new org.apache.spark.HashPartitioner(ranges))
    val probedRdd = blooms.zipPartitions(batch) { (bfIt, rowIt) =>
      val bf = if (bfIt.hasNext) bfIt.next()._2 else null
      // The executor-local guarantee, enforced at run time: a task sees
      // at most the single filter of its own range.
      require(!bfIt.hasNext,
        "probeRangeLocal: more than one range filter in a single task")
      rowIt.map { case (_, row) =>
        val hit = bf != null && !row.isNullAt(fpIdx) && {
          if (isString) bf.mightContainBinary(row.getString(fpIdx)
            .getBytes(java.nio.charset.StandardCharsets.UTF_8))
          else bf.mightContainLong(row.getLong(fpIdx))
        }
        Row.fromSeq(row.toSeq.dropRight(1) :+ hit)
      }
    }
    spark.createDataFrame(probedRdd,
      fped.schema.add("might_dup", BooleanType, nullable = false))
  }

  /** WITHIN-document line dedup — the intra-doc twin of
    * [[stripCommonLines]] (which strikes lines shared ACROSS docs):
    * keep only the FIRST occurrence of each distinct trimmed line
    * inside a document, preserving blank lines and original order —
    * the "remove self-repetition" cleanup crawl text needs before
    * repetition metrics (q47) stop dominating quality scores.
    *
    * Shape: one (id, norm)-keyed shuffle for the first-occurrence
    * window (plain min over the partition — no rank, no funnel: the
    * partition is per-(doc, line) cardinality), one id-keyed
    * reassembly aggregation. Both scale with line volume, nothing is
    * corpus-global. Returns (idCol, n_kept, n_dropped, clean_text). */
  def dedupLinesWithinDoc(
      df: DataFrame,
      idCol: String,
      textCol: String): DataFrame = {
    val lines = df
      .select(col(idCol),
        posexplode(split(coalesce(col(textCol), lit("")), "\n"))
          .as(Seq("pos", "line")))
      .withColumn("norm", trim(col("line")))
    val w = Window.partitionBy(col(idCol), col("norm"))
    lines
      .withColumn("first_pos", min(col("pos")).over(w))
      .withColumn("keep",
        col("norm") === "" || col("pos") === col("first_pos"))
      .groupBy(col(idCol))
      .agg(
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("keep"), 0L).otherwise(1L)).as("n_dropped"),
        concat_ws("\n",
          transform(
            filter(
              array_sort(collect_list(struct(col("pos"), col("line"),
                col("keep")))),
              x => x.getField("keep")),
            x => x.getField("line"))).as("clean_text"))
  }

  /** Cross-corpus boilerplate LINE removal — the CCNet/RefinedWeb
    * cleaning stage that within-document repetition metrics (q47)
    * cannot see: a line occurring (trim-normalized, non-empty) in at
    * least `minDocs` DISTINCT documents is navigation/footer/cookie
    * boilerplate and is struck from every document that carries it.
    *
    * Shape at scale: one explode of the corpus into (doc, pos, line);
    * line document-frequencies partial-aggregate before their shuffle
    * (the groupBy(norm) map-side combine), and the boilerplate set is
    * SMALL by construction (only lines repeated across ≥ minDocs docs
    * survive the HAVING), so the membership join back is
    * broadcast-sized for AQE; one final shuffle on the doc id
    * reassembles documents (array_sort over (pos, …) structs — no
    * window). Nothing driver-side anywhere.
    *
    * Output: one row per input document — `n_kept`, `n_dropped` line
    * counts and `clean_text` (the surviving lines re-joined in
    * original order; "" when everything was boilerplate). A null text
    * coalesces to "" so the one-row-per-document contract holds for it
    * too (`n_kept = 1` — the single empty line, never boilerplate —
    * and an empty `clean_text`). */
  def stripCommonLines(
      df: DataFrame,
      idCol: String,
      textCol: String,
      minDocs: Long): DataFrame = {
    require(minDocs > 1, s"minDocs must exceed 1, got $minDocs")
    val lines = df
      .select(col(idCol),
        posexplode(split(coalesce(col(textCol), lit("")), "\n"))
          .as(Seq("pos", "line")))
      .withColumn("norm", trim(col("line")))
    val boiler = lines
      .where(col("norm") =!= "")
      .groupBy(col("norm"))
      .agg(countDistinct(col(idCol)).as("doc_freq"))
      .where(col("doc_freq") >= minDocs)
      .select(col("norm"), lit(true).as("is_boiler"))
    lines.join(boiler, Seq("norm"), "left")
      .groupBy(col(idCol))
      .agg(
        sum(when(col("is_boiler").isNull, 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("is_boiler").isNotNull, 1L).otherwise(0L))
          .as("n_dropped"),
        concat_ws("\n",
          transform(
            filter(
              array_sort(collect_list(struct(col("pos"), col("line"),
                col("is_boiler").isNull.as("keep")))),
              x => x.getField("keep")),
            x => x.getField("line"))).as("clean_text"))
  }

  /** Canonical-representative selection per cluster — the step after
    * [[connectedComponents]]: a dedup pipeline keeps the BEST member
    * of each near-dup cluster, not an arbitrary one. The member with
    * the highest `scoreCol` wins, ties to the SMALLEST id (so the
    * choice is deterministic under any row order). One
    * partial-aggregable `min_by` over a lexicographic (−score, id)
    * struct — a single shuffle on the cluster id, no window sort, so
    * the selection stays one metadata-scale pass no matter how large
    * the clustered corpus. The tiebreak negates the SCORE (numeric by
    * contract) rather than the id, so it stays exact for ANY orderable
    * id type — [[connectedComponents]] explicitly supports string ids,
    * and negating a string id would cast it to a null double (arbitrary
    * winner under non-ANSI, runtime error under ANSI).
    *
    * @param clusters `(idCol, comp)` cluster assignment (the
    *                 [[connectedComponents]] output shape)
    * @param scored   `(idCol, scoreCol)` one NUMERIC score per member id
    * @return one row per cluster: `cluster_id, keep_id, keep_score,
    *         n_members` */
  def keepCanonical(
      clusters: DataFrame,
      scored: DataFrame,
      idCol: String,
      scoreCol: String): DataFrame =
    clusters
      .join(scored, idCol)
      .groupBy(col("comp").as("cluster_id"))
      .agg(
        min_by(col(idCol), struct(negate(col(scoreCol)), col(idCol)))
          .as("keep_id"),
        max(col(scoreCol)).as("keep_score"),
        count(lit(1)).as("n_members"))

  /** CLUSTER-FIRST near-dup collapse: docs → cluster labels without
    * ever MATERIALIZING a verified pair list — the scale contract for
    * dense-dup corpora, where the true pair set is quadratic in
    * cluster size (measured: the 100× chained corpus has 301 M exact
    * pairs collapsing to ~2.9 k clusters — the pair LIST, not the
    * candidates, is what a pair-output operator chokes on).
    *
    * Shape: MinHash banding buckets the corpus; buckets up to
    * `directBucketMax` take the plain per-bucket self-join (s² ≤
    * s·directBucketMax — linear, and the cheap path on sparse-bucket
    * corpora), larger buckets link each member to the bucket's
    * `2·edgesPerDoc + 1` smallest ids instead (bit-identical to the
    * full pair stream after the global smallest-`2e` cut per doc — a
    * surviving partner is necessarily among the bucket's smallest
    * below the member — but LINEAR in bucket membership, so a dense
    * boilerplate family costs size·2e rows instead of size²).
    * Exact-Jaccard verification runs over the bounded candidate
    * union, and per doc the `edgesPerDoc` SMALLEST verified partners
    * below it form the spanning edge set checkpointed and fed to
    * [[connectedComponents]]. No stage is quadratic in family size;
    * `maxBucketSize` remains only a skew backstop for degenerate
    * signature collisions.
    *
    * Connectivity trade, stated honestly: inside a DENSE cluster every
    * member links to its `edgesPerDoc` smallest verified partners, so
    * members chain to the cluster minimum and the cluster survives
    * whole (the 100× corpus reconstructs exactly); a sparse CHAIN
    * a–b–c whose ends share no direct similarity can fragment if a
    * middle member's cap is exhausted by smaller-id partners — callers
    * needing exact transitive closure over ALL pairs use the
    * pair-exact path (q23 → [[connectedComponents]]) and pay its
    * quadratic output. `edgesPerDoc ≥ 2` keeps fragmentation rare in
    * practice; 8 is a comfortable default.
    *
    * The input is a PRE-BUILT shingle table (`id`, `sh` — the
    * [[shingleTable]] shape), so the caller picks the similarity
    * space: word shingles for the q21 family, char n-grams to collapse
    * the same graph the exact q23/q26 path walks. The table is
    * checkpointed here (consumed by the signature aggregation and both
    * verify-join sides) and released before returning.
    *
    * @return (id, comp) cluster labels — the [[connectedComponents]]
    *         output shape, ready for [[keepCanonical]]. */
  def nearDupCollapseFromShingles(
      shingled: DataFrame,
      numPerm: Int = 32,
      bands: Int = 8,
      threshold: Double = 0.5,
      maxBucketSize: Int = 100000,
      edgesPerDoc: Int = 8,
      directBucketMax: Int = 64): DataFrame = {
    require(edgesPerDoc >= 1, s"edgesPerDoc must be >= 1, got $edgesPerDoc")
    require(directBucketMax >= 1,
      s"directBucketMax must be >= 1, got $directBucketMax")
    val shCp = graft.util.Blocks.checkpoint(shingled)
    val sig = minHashSignaturesFromShingles(shCp.df, numPerm)
    val buckets = sig.select(col("id"),
      explode(bandKeys(bands, numPerm / bands)).as("bk"))
    // Candidates stay IDS-ONLY and the stream is LINEAR in bucket
    // membership, not quadratic: the global cut below keeps per id_b
    // only the `2·edgesPerDoc` SMALLEST partners (headroom: band
    // collisions below the similarity threshold fail verification and
    // consume cap slots), and any partner that survives that cut is
    // necessarily among the `2·edgesPerDoc` smallest ids below id_b
    // WITHIN its own bucket. Buckets split by size, two generators,
    // one union — bit-identical output either way (the small side's
    // extra candidates are exactly the ones the proof shows the
    // global cut discards):
    //   - size ≤ `directBucketMax`: the plain per-bucket self-join —
    //     s² ≤ s·directBucketMax rows, STILL linear overall, and
    //     cheaper than the bucket-low machinery on the sparse-bucket
    //     corpora where nearly every bucket is tiny (measured: the
    //     bucket-low-only form tripled the 100× cluster-first split
    //     wall on word-shingle space);
    //   - size > `directBucketMax`: link each member to its bucket's
    //     `2·edgesPerDoc + 1` smallest ids (salted two-phase rank, no
    //     single-task bucket sort) — size·2e rows where the old
    //     self-join was family-quadratic (measured: a dense replica
    //     family made the verify stage ~125 s of q130's 160 s at
    //     100×, q54 333 s).
    val e2 = 2 * edgesPerDoc
    val capped = graft.util.Blocks.checkpoint(
      buckets
        .withColumn("bsz", count(lit(1)).over(Window.partitionBy(col("bk"))))
        .where(col("bsz") <= maxBucketSize))
    val small = capped.df.where(col("bsz") <= directBucketMax)
    val large = capped.df.where(col("bsz") > directBucketMax)
    val candSmall = small.as("l")
      .join(small.as("r"),
        col("l.bk") === col("r.bk") && col("l.id") < col("r.id"))
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"))
    val wSalt = Window.partitionBy(col("bk"), col("_salt"))
      .orderBy(col("id"))
    val bucketLow = large
      .withColumn("_salt", pmod(xxhash64(col("id").cast("string")), lit(256)))
      .withColumn("_r", row_number().over(wSalt))
      .where(col("_r") <= e2 + 1)
      .groupBy(col("bk"))
      .agg(slice(array_sort(collect_set(col("id"))), 1, e2 + 1).as("_blo"))
    val candLarge = large
      .join(bucketLow, "bk")
      .select(col("id").as("id_b"),
        explode(slice(filter(col("_blo"), x => x < col("id")), 1, e2))
          .as("id_a"))
      .select(col("id_a"), col("id_b"))
    val candEdges = candSmall.unionByName(candLarge)
      .groupBy(col("id_b"))
      .agg(slice(array_sort(collect_set(col("id_a"))), 1, e2)
        .as("_ndc_lo"))
      .select(explode(col("_ndc_lo")).as("id_a"), col("id_b"))
    val sh = shCp.df.select(col("id"), col("sh"))
    val edges = graft.util.Blocks.checkpoint(
      candEdges
        .join(sh.select(col("id").as("id_a"), col("sh").as("sh_a")), "id_a")
        .join(sh.select(col("id").as("id_b"), col("sh").as("sh_b")), "id_b")
        .where(round(jaccard(col("sh_a"), col("sh_b")), 6) >= threshold)
        .groupBy(col("id_b"))
        .agg(slice(array_sort(collect_set(col("id_a"))), 1, edgesPerDoc)
          .as("_ndc_lo"))
        .select(explode(col("_ndc_lo")).as("id_a"), col("id_b")))
    capped.release(); shCp.release()
    val labels = connectedComponents(edges.df)
    edges.release()
    labels
  }

  /** Latest-record-per-natural-key dedup (window row_number). */
  def latestPerKey(
      df: DataFrame,
      keyCols: Seq[String],
      orderDesc: Seq[String]): DataFrame = {
    val w = Window
      .partitionBy(keyCols.map(col): _*)
      .orderBy(orderDesc.map(c => col(c).desc): _*)
    df.withColumn("rn", row_number().over(w)).where(col("rn") === 1).drop("rn")
  }

  /** Lowercase whitespace tokens of the canonical text. */
  def tokensOf(text: Column): Column =
    split(TextAnalysis.canonical(text), " ")

  /** Distinct k-shingles from a token-array column.
    *
    * IMPORTANT plan-shape contract: pass a PLAIN ATTRIBUTE column
    * (materialize the token array in its own projection first). The
    * transform lambda references its argument per element, so handing it
    * a complex expression (split+regexp) re-evaluates that expression
    * once per shingle — hundreds of regex calls per row. With an
    * attribute the per-element work is a cheap array access, and
    * Catalyst's CollapseProject keeps the materializing projection
    * intact because the alias is referenced more than once. */
  def shinglesFromTokens(toks: Column, k: Int): Column =
    array_distinct(
      filter(
        transform(
          sequence(lit(0), greatest(size(toks) - k, lit(0))),
          i => when(i + k <= size(toks), concat_ws(" ", slice(toks, i + 1, lit(k))))),
        x => x.isNotNull))

  /** Distinct word-shingle array (k consecutive lowercase tokens) —
    * the native codegen kernel; value-identical to
    * `shinglesFromTokens(tokensOf(text), k)` without the interpreted
    * per-shingle lambda or the token-materialization plan-shape dance. */
  def wordShingles(text: Column, k: Int): Column =
    array_distinct(graft.expressions.WordNGrams.wsNGrams(text, k))

  /** Distinct character n-grams of a canonical-text column — the
    * native one-pass kernel ([[graft.expressions.CharNGrams]]); value-
    * and-order identical to the replaced interpreted
    * `array_distinct(transform(sequence, substr))` form (which
    * re-seeked the string per window — O(len²) per doc), including the
    * short-text and empty-text clamping quirks the family's oracles
    * spell. No plan-shape caveat: the kernel is a plain codegen'd
    * expression, safe on complex inputs. */
  def charShinglesFrom(ct: Column, n: Int): Column =
    graft.expressions.CharNGrams.charNGrams(ct, n)

  /** Distinct character n-gram array of the canonical text (convenience
    * single-expression form). */
  def charShingles(text: Column, n: Int): Column =
    charShinglesFrom(TextAnalysis.canonical(text), n)

  /** Exact Jaccard similarity of two distinct-element arrays — the
    * fused native kernel ([[graft.expressions.JaccardSim]]); value-
    * identical to `size(array_intersect(a,b)) / (size(a)+size(b)−
    * size(array_intersect(a,b)))` but single-pass. */
  def jaccard(a: Column, b: Column): Column =
    graft.expressions.JaccardSim.jaccardSim(a, b)

  /** EXACT asymmetric CONTAINMENT join: ordered pairs where the
    * contained side's shingles are (near-)subset of the container's —
    * `containment(A→B) = |A ∩ B| / |A| ≥ threshold`. The dedup signal
    * symmetric Jaccard structurally misses: a short document pasted
    * inside a long boilerplate wrapper has J ≈ |A|/|B| (tiny) but
    * containment ≈ 1. Emits BOTH directions when both clear the
    * threshold (near-identical docs contain each other).
    *
    * Exact tier (this method): the intersection rides an ids-only
    * token self-join per block — no array ever crosses the shuffle —
    * aggregated to ordered-pair counts. All-pairs-complete, gate-scale
    * by declaration (the q23-family contract); the scale path is
    * [[containmentJoinPrefix]], which returns the IDENTICAL pair set.
    *
    * @param shingled columns: `id`, `blk` (only same-block pairs
    *                 compared), `sh` (distinct-element token array;
    *                 empty-`sh` docs can never be a contained side)
    * @return (contained_id, container_id, n_shared, containment) */
  def containmentJoin(shingled: DataFrame, threshold: Double): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"containmentJoin: threshold must be in (0, 1], got $threshold")
    val t = shingled.select(col("id"), col("blk"), col("sh"))
      .withColumn("n", size(col("sh")))
    val toks = t.select(col("id"), col("blk"), explode(col("sh")).as("s"))
    val inter = toks.as("a")
      .join(toks.as("b"),
        col("a.blk") === col("b.blk") && col("a.s") === col("b.s") &&
          col("a.id") =!= col("b.id"))
      .groupBy(col("a.id").as("contained_id"),
        col("b.id").as("container_id"))
      .agg(count(lit(1)).as("n_shared"))
    inter
      .join(t.select(col("id").as("contained_id"), col("n")),
        "contained_id")
      .withColumn("containment",
        round(col("n_shared").cast("double") / col("n"), 6))
      .where(col("containment") >= threshold)
      .select(col("contained_id"), col("container_id"),
        col("n_shared"), col("containment"))
  }

  /** [[containmentJoin]] with LOSSLESS prefix filtering — the scale
    * tier, value-identical output.
    *
    * Why it is exact: order all tokens by a global total order (df
    * ascending, token ascending — rarest first). A contained side A at
    * threshold t can miss at most (1−t)·|A| of B's tokens, so among
    * A's first ⌊(1−t)·|A|⌋+1 tokens in that order AT LEAST ONE must
    * appear in B — candidates are complete from joining only A's
    * PREFIX tokens against the full token table (the AllPairs/PPJoin
    * argument, asymmetric form: only the contained side is prefix-
    * pruned; the container side cannot be, since any superset
    * qualifies).
    *
    * Scale shape: candidate volume = Σ over A-prefix tokens of their
    * posting-list length — prefix tokens are each doc's RAREST, so the
    * posting lists probed are the short ones (the q113 inverted-index
    * economics); candidates are ids-only and distinct before the one
    * array-carrying verify join, whose volume is the candidate count,
    * not the pair space. Verification computes the exact intersection
    * per candidate pair. */
  def containmentJoinPrefix(
      shingled: DataFrame, threshold: Double): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"containmentJoinPrefix: threshold must be in (0, 1], got $threshold")
    val t = graft.util.Blocks.lazyCheckpoint(
      shingled.select(col("id"), col("blk"), col("sh"))
        .withColumn("n", size(col("sh"))))
    val toks = t.select(col("id"), col("blk"), explode(col("sh")).as("s"))
    val dfreq = toks.groupBy(col("blk"), col("s"))
      .agg(count(lit(1)).as("df"))
    val wOrd = Window.partitionBy(col("blk"), col("id"))
      .orderBy(col("df").asc, col("s").asc)
    val prefix = toks.join(dfreq, Seq("blk", "s"))
      .join(t.select(col("id"), col("n")), "id")
      .withColumn("_r", row_number().over(wOrd))
      .where(col("_r") <= floor((lit(1.0) - threshold)
        * col("n").cast("double")).cast("int") + 1)
      .select(col("id"), col("blk"), col("s"))
    val cands = prefix.as("a")
      .join(toks.as("b"),
        col("a.blk") === col("b.blk") && col("a.s") === col("b.s") &&
          col("a.id") =!= col("b.id"))
      .select(col("a.id").as("contained_id"),
        col("b.id").as("container_id"))
      .distinct()
    cands
      .join(t.select(col("id").as("contained_id"), col("sh").as("_sa"),
        col("n")), "contained_id")
      .join(t.select(col("id").as("container_id"), col("sh").as("_sb")),
        "container_id")
      .withColumn("n_shared",
        size(array_intersect(col("_sa"), col("_sb"))).cast("long"))
      .withColumn("containment",
        round(col("n_shared").cast("double") / col("n"), 6))
      .where(col("containment") >= threshold)
      .select(col("contained_id"), col("container_id"),
        col("n_shared"), col("containment"))
  }

  /** EXACT all-pairs Jaccard similarity join — tier dispatcher.
    *
    * Both tiers return precisely the pairs an all-pairs scan would
    * (`id_a < id_b`, `jaccard_sim` rounded to 6 places, threshold
    * applied on the rounded value); they differ only in HOW the pair
    * space is pruned, and the right pruning depends on the token
    * universe:
    *
    *  - `"prefix"` — AllPairs/PPJoin prefix filtering
    *    ([[jaccardJoinPrefixFrom]]). Wins when tokens are drawn from
    *    a LARGE vocabulary (word shingles): every document has genuinely
    *    rare tokens, so the candidate volume Σ_t C(prefix-df t, 2)
    *    stays near-linear in the corpus.
    *  - `"bitmap"` — dictionary-coded popcount kernel
    *    ([[jaccardJoinBitmapFrom]]). Wins when the per-block
    *    vocabulary is SMALL (char 3-grams: a few thousand distinct
    *    shingles), where prefix filtering degrades with corpus growth
    *    — every token's df scales with the corpus, "rare" stops
    *    existing, and the candidate set approaches all-pairs
    *    (measured at 10× sf0.1: 68 % of all same-block pairs survived
    *    the prefix+positional filters, and the candidate dedup shuffle
    *    dominated the query).
    *
    * `"auto"` (the default) measures the largest per-block vocabulary
    * EXACTLY from one shared `(blk, token)` distinct pass and picks
    * bitmap iff it fits [[BitmapVocabLimit]] bits (2¹⁶ = 8 KB per
    * document bitmap). The same distinct pass IS the bitmap tier's
    * dictionary, so the probe costs nothing extra when bitmap wins —
    * and the dictionary reaches documents by broadcast
    * ([[graft.expressions.BitmapOps.encodeSorted]]) while its total
    * entry count stays under [[BroadcastVocabEntriesLimit]], falling
    * back to the (blk, token)-keyed join encode beyond.
    *
    * Storage lifecycle: the result is materialized EAGERLY into a
    * local checkpoint and every internal persist (the shared shingle
    * table, the tier's prefix / chunked-bitmap table) is released
    * before this returns — so the only storage the operator leaves
    * behind is the pair list itself, already computed and cheap to
    * re-consume. Callers that feed the pairs into a further eager step
    * (e.g. [[connectedComponents]]) should free even that via
    * [[graft.util.Blocks.release]] once the downstream result is
    * materialized. Without the eager
    * materialization there is no safe point to release the internal
    * persists: the returned plan still references them, and leaving
    * them to GC-driven cleanup measurably taxes every later query in a
    * long-lived JVM (the round-8 `storage_residue_bytes` finding).
    *
    * @param docs columns: `id`, `blk` (block/language — only same-block
    *             pairs compared), `sh` (distinct-element token array)
    */
  def jaccardJoin(
      docs: DataFrame,
      threshold: Double,
      tier: String = "auto"): DataFrame =
    jaccardJoinShaped(docs, threshold, tier, identity)

  /** [[jaccardJoin]] restricted to CROSS-SIDE pairs: `docs` carries an
    * extra non-null `sideCol`, and only pairs whose side values DIFFER
    * are scored and emitted — the pair tier for BIPARTITE consumers
    * (train/eval leakage audits), which discard same-side pairs anyway.
    * The restriction is applied before the expensive per-pair work
    * (bitmap tier: before the popcount; prefix tier: before the
    * candidate dedup shuffle and the verify joins), so the ~(p² +
    * (1−p)²) same-side share of the pair space — 68 % at an 80/20
    * split — is never scored. Emitted pairs are exactly the cross-side
    * subset of [[jaccardJoin]]'s output, same columns and values. */
  def jaccardJoinCross(
      docs: DataFrame,
      threshold: Double,
      sideCol: String,
      tier: String = "auto"): DataFrame =
    jaccardJoinShaped(docs, threshold, tier, identity, sideCol = Some(sideCol))

  /** [[jaccardJoin]] reduced to a connectivity-preserving SPANNING
    * FOREST of the pair graph — the pair tier for CLUSTER consumers
    * (connected components / leakage-safe splits), where only the
    * connectivity of the J ≥ t graph matters and the full pair list is
    * 20×+ redundant (near-dup clusters are near-cliques: a c-clique
    * carries c·(c−1)/2 pairs but needs c−1 edges to stay connected).
    * The reduction runs INSIDE each output partition of the pair join
    * — a per-partition union-find keeps an edge iff its endpoints are
    * not already connected within the partition, so the union over
    * partitions has exactly the input's connectivity (dropping an edge
    * whose endpoints a partition already connects can never split or
    * merge a component) — and BEFORE the result checkpoint, so the
    * materialized frame shrinks by the same factor (measured at sf0.1:
    * 1.19 M pairs → ~50 k edges, and the CC behind q26/q99/q132 drops
    * from its distributed star-contraction path to the driver fast
    * tier). Emits (`id_a`, `id_b`) only — similarity values are
    * per-pair data the cluster consumers never read. The edge SET is
    * partition-dependent (not the VALUES a hash gate sees: every
    * downstream consumer derives per-component labels, which are
    * partition-invariant). */
  def jaccardForestPairs(
      docs: DataFrame,
      threshold: Double,
      tier: String = "auto"): DataFrame =
    jaccardJoinShaped(docs, threshold, tier, spanningForestWithin)

  /** Per-partition connectivity-preserving spanning forest over a
    * (id_a, id_b, ...) pair stream; see [[jaccardForestPairs]]. */
  private[graft] def spanningForestWithin(pairs: DataFrame): DataFrame = {
    val pruned = pairs.select(col("id_a"), col("id_b"))
    val enc = org.apache.spark.sql.Encoders.row(pruned.schema)
    pruned.mapPartitions { it =>
      val parent = new java.util.HashMap[Any, Any]()
      it.filter { row =>
        val ra = find(parent, row.get(0)); val rb = find(parent, row.get(1))
        if (ra == rb) false
        else { parent.put(ra, rb); true }
      }
    }(enc)
  }

  private def jaccardJoinShaped(
      docs: DataFrame,
      threshold: Double,
      tier: String,
      shape: DataFrame => DataFrame,
      sideCol: Option[String] = None): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"jaccardJoin: threshold must be in (0, 1], got $threshold")
    graft.util.Blocks.withTracked { track =>
      graft.util.Blocks.checkpoint(
        shape(jaccardJoinFrom(docs, threshold, track, tier, sideCol))).df
    }
  }

  /** The tier dispatch + shared shingle table behind [[jaccardJoin]];
    * `maybePersist` is the caller's storage policy. */
  private def jaccardJoinFrom(
      docs: DataFrame,
      threshold: Double,
      maybePersist: DataFrame => DataFrame,
      tier: String,
      sideCol: Option[String] = None): DataFrame = {
    // No `where(n > 0)` guard here — a pushed-down predicate carries the
    // full shingle-expression tree below any upstream repartition and
    // re-evaluates it single-threaded at the scan (measured: 14s/branch
    // on the test corpus). Empty docs are harmless anyway: explode()
    // drops them from the token table, so they can never be candidates.
    // The shingle table feeds several consumers in either tier and the
    // static plan cannot reuse exchanges across them — without a persist
    // the source is re-scanned and the shingle expressions re-evaluated
    // per consumer (measured 12 scans). MEMORY_AND_DISK so huge corpora
    // spill instead of OOM.
    val withN = maybePersist(docs
      .select((Seq("id", "blk", "sh") ++ sideCol).map(col): _*)
      .withColumn("n", size(col("sh"))))
    if (tier == "prefix")
      return jaccardJoinPrefixFrom(withN, threshold, maybePersist, sideCol)
    if (tier != "auto" && tier != "bitmap") throw new IllegalArgumentException(
      s"jaccardJoin: tier must be auto|prefix|bitmap, got $tier")
    // ONE distinct pass over the token stream serves BOTH the tier
    // decision (exact per-block vocabulary, replacing the former
    // approx_count_distinct probe — tie-breaks at the limit may differ
    // from the approx probe, but both tiers are value-identical so the
    // output cannot) AND, when bitmap wins, the dictionary itself —
    // the probe pass is no longer thrown away.
    val tokset = maybePersist(withN
      .select(col("blk"), explode(col("sh")).as("t")).distinct())
    // vocab stats AND the bitmap tier's docs-per-block maximum (its
    // chunk-salt input) from ONE blocking action — a separate maxDocs
    // head() was one more driver round-trip per query for nothing
    val stats = withN.groupBy(col("blk")).agg(count(lit(1)).as("d"))
      .join(tokset.groupBy(col("blk")).agg(count(lit(1)).as("v")),
        Seq("blk"), "left")
      .agg(coalesce(max(col("v")), lit(0L)),
        coalesce(sum(col("v")), lit(0L)),
        coalesce(max(col("d")), lit(0L)))
      .head()
    val (vocabMax, vocabTotal, maxDocs) =
      (stats.getLong(0), stats.getLong(1), stats.getLong(2))
    if (tier == "bitmap" || vocabMax <= BitmapVocabLimit)
      jaccardJoinBitmapFrom(withN, tokset, threshold, maybePersist,
        broadcastEncode = vocabTotal <= BroadcastVocabEntriesLimit,
        maxDocs = maxDocs, sideCol = sideCol)
    else jaccardJoinPrefixFrom(withN, threshold, maybePersist, sideCol)
  }

  /** Ceiling on TOTAL dictionary entries (Σ per-block vocab) for the
    * broadcast-encode path of the bitmap tier. Under it, the sorted
    * per-block vocabulary arrays are broadcast and each document is
    * encoded in one pass over its own shingle array (no token explode,
    * no (block, token) join shuffle, no collect_list re-group); above
    * it the dictionary is attached by the join-encode fallback, whose
    * shuffles stay keyed on (block, token). 2²¹ entries ≈ 25-50 MB
    * broadcast at char-3-gram string sizes — ≥ 32 saturated 2¹⁶-vocab
    * blocks before the fallback engages. */
  val BroadcastVocabEntriesLimit: Long = 1L << 21

  /** Largest per-block vocabulary the auto tier sends to the bitmap
    * tier: 2¹⁶ bits = 8 KB per document bitmap. */
  private val BitmapVocabLimit = 1 << 16

  /** AllPairs/PPJoin prefix filtering: under a global token order
    * (rarest-first by per-block document frequency), two sets with
    * J ≥ t MUST share a token within their first `n − ⌈t·n⌉ + 1`
    * tokens — so candidates are generated by joining only on prefix
    * tokens, with a size-ratio filter (`min ≥ t·max`), then verified
    * exactly. Lossless: returns precisely the pairs an all-pairs scan
    * would.
    *
    * Scale shape: the expensive joins key on (block, token) where every
    * token is in the RARE half of its document's vocabulary, so no hot
    * key explodes; the per-doc prefix window partitions by doc id.
    * Candidate volume is Σ_token C(prefix-df, 2) — near-linear while
    * rare tokens exist (large vocabularies), degrading toward
    * all-pairs as the corpus outgrows the vocabulary (small ones —
    * that regime belongs to the bitmap tier). */
  private def jaccardJoinPrefixFrom(
      withN: DataFrame,
      threshold: Double,
      maybePersist: DataFrame => DataFrame,
      sideCol: Option[String] = None): DataFrame = {
    val toks = withN.select(
      Seq(col("id"), col("blk"), col("n")) ++ sideCol.map(col) :+
        explode(col("sh")).as("t"): _*)
    val dfreq = toks.groupBy(col("blk"), col("t"))
      .agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col("id")).orderBy(col("df"), col("t"))
    // persisted: both sides of the self-join consume it
    val prefix = maybePersist(toks.join(dfreq, Seq("blk", "t"))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= col("n") - ceil(col("n") * threshold) + 1)
      .select(Seq(col("id"), col("blk"), col("n"), col("t"), col("rn")) ++
        sideCol.map(col): _*))
    // Probe/index prefix asymmetry: under the length-canonical pair
    // order (n, id) the SMALLER doc x of a qualifying pair satisfies
    // O ≥ α ≥ ⌈2t/(1+t)·n_x⌉ (its partner is at least as long), so its
    // probe prefix shrinks to n − ⌈2t/(1+t)·n⌉ + 1 — a strict subset of
    // the t-prefix the larger (index) side keeps. Sound because each
    // side's bound never exceeds the pair's true α (larger side:
    // ⌈t·n_y⌉ ≤ α given the size filter n_x ≥ t·n_y); at t = 0.5 the
    // probe prefix is n/3 vs n/2, cutting candidate volume ~⅓.
    val probeFactor = 2 * threshold / (1 + threshold)
    val probe = prefix
      .where(col("rn") <= col("n") - ceil(col("n") * probeFactor) + 1)
    // positional filter (PPJoin): matching at prefix positions (rn_l,
    // rn_r) caps the best possible overlap at 1 + min(remaining tokens);
    // below the required overlap α = ⌈t/(1+t)·(n_a+n_b)⌉ the pair cannot
    // reach J ≥ t — pruned before the dedup shuffle.
    val alpha = ceil((col("l.n") + col("r.n")) * (threshold / (1 + threshold)))
    val ubound = lit(1) + least(col("l.n") - col("l.rn"), col("r.n") - col("r.rn"))
    val cand = probe.as("l")
      .join(prefix.as("r"),
        col("l.blk") === col("r.blk") && col("l.t") === col("r.t") &&
          (col("l.n") < col("r.n") ||
            (col("l.n") === col("r.n") && col("l.id") < col("r.id"))))
      .where(col("l.n") >= col("r.n") * threshold)
      .where(ubound >= alpha)
      // cross-side restriction, applied before the candidate dedup
      // shuffle and the verify joins
      .where(sideCol.map(s => col(s"l.$s") =!= col(s"r.$s")).getOrElse(lit(true)))
      .select(least(col("l.id"), col("r.id")).as("id_a"),
        greatest(col("l.id"), col("r.id")).as("id_b"))
      .dropDuplicates("id_a", "id_b")
      // verification cost is CPU-per-row (array intersections), which
      // AQE's byte-based coalescing misjudges — key the verify stage by
      // the pair explicitly so it spreads across the cluster
      .repartition(col("id_a"), col("id_b"))
    val sh = withN.select(col("id"), col("sh"))
    cand
      .join(sh.select(col("id").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(sh.select(col("id").as("id_b"), col("sh").as("sh_b")), "id_b")
      .withColumn("jaccard_sim", round(jaccard(col("sh_a"), col("sh_b")), 6))
      .where(col("jaccard_sim") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard_sim"))
  }

  /** Dictionary-bitmap tier: per-block dense token dictionary →
    * `ceil(vocab/8)`-byte bitmap per document → exact Jaccard as one
    * fused popcount pass ([[graft.expressions.BitmapOps]]). No
    * candidate generation at all — the pair space is covered by a
    * length-bucketed chunk grid and every surviving pair is scored
    * directly, so the O(candidates) shuffle + array-carrying verify
    * joins of the prefix tier disappear.
    *
    * Pair-space shape: documents are bucketed by ⌊log_{1/t}(n)⌋ — a
    * pair with J ≥ t has a size ratio ≥ t, so it spans at most ADJACENT
    * buckets — and each bucket splits into `s` hash-salted chunks for
    * parallelism. Chunk-pair tasks are enumerated by a self-join of the
    * (tiny) chunk-stats frame with a min/max-length compatibility
    * screen; both document sides replicate to their chunk-pair tasks
    * via broadcast joins against that pair list, then meet in ONE
    * shuffle keyed on (blk, chunkA, chunkB). Each unordered document
    * pair lands in exactly one task (diagonal tasks order by id), so
    * the output needs no dropDuplicates.
    *
    * Scale shape: per-doc shuffle amplification is ~3·s bitmap copies
    * (s ≈ √(maxBlockDocs/64), capped at 64) — e.g. 10⁶ docs/block at
    * the 8 KB bitmap ceiling is ≤ 64 copies × 8 KB ≈ 0.5 MB per doc,
    * spread over thousands of chunk-pair tasks. The popcount work is
    * genuinely quadratic in docs-per-block — that is what EXACT
    * demands once the vocabulary saturates — but at ~tens of ns per
    * pair it extends the exact tier's practical reach far past the
    * point where the prefix tier's candidate shuffle drowns; past
    * THAT, the honest answer is the MinHash/SimHash tiers, not a
    * slower exact plan. The per-block dictionary window is bounded by
    * the tier precondition (vocab ≤ 2¹⁶ rows per block), and the
    * chunk-stats self-join is metadata-scale. */
  private def jaccardJoinBitmapFrom(
      withN: DataFrame,
      tokset: DataFrame,
      threshold: Double,
      maybePersist: DataFrame => DataFrame,
      broadcastEncode: Boolean,
      maxDocs: Long,
      saltCap: Int = 64,
      sideCol: Option[String] = None): DataFrame = {
    import graft.expressions.BitmapOps
    // Dictionary-to-document attachment, two shapes (value-identical
    // bitmaps — both assign each token its rank in UTF8 binary order
    // within the block, and Jaccard is invariant to the bit order
    // anyway):
    //  - broadcast encode (vocabTotal under the limit): the sorted
    //    per-block vocab arrays ride ONE broadcast join on blk and each
    //    document packs its own shingle array via binary search
    //    ([[BitmapOps.encodeSorted]]) — no token explode, no
    //    (blk, token) join shuffle, no collect_list re-group (measured
    //    at sf0.1: the three removed token-stream passes were the
    //    dominant cost of the encode stage);
    //  - join encode (fallback): the dense row_number dictionary is
    //    attached by a (blk, token) join and re-grouped per doc — every
    //    shuffle keyed on (blk, token)/(id), nothing broadcast beyond
    //    the nbits row-per-block table, for corpora whose TOTAL
    //    dictionary outgrows a sane broadcast.
    // Empty-shingle docs: the join-encode path drops them at the token
    // explode; the broadcast path keeps them with an all-zero bitmap
    // and n = 0, where the length bucket log(0) is NULL, so their cid
    // never equals any chunk-pair key and they exit the pair space
    // before any comparison — same output, no special-casing.
    val sideCols = sideCol.map(col).toSeq
    val encoded =
      if (broadcastEncode) {
        val vocabArr = tokset.groupBy(col("blk"))
          .agg(sort_array(collect_list(col("t"))).as("vocab"))
        withN.join(broadcast(vocabArr), Seq("blk"))
          .select(Seq(col("id"), col("blk"), col("n")) ++ sideCols :+
            BitmapOps.bitmapEncodeSorted(col("sh"), col("vocab")).as("bm"): _*)
      } else {
        val toks = withN.select(
          Seq(col("id"), col("blk"), col("n")) ++ sideCols :+
            explode(col("sh")).as("t"): _*)
        // per-block dense dictionary; the window partition is bounded by
        // the vocab limit, so one task per block is constant-sized work
        val dict = tokset
          .withColumn("tid",
            (row_number().over(Window.partitionBy(col("blk")).orderBy(col("t")))
              - 1).cast("int"))
        val nbits = dict.groupBy(col("blk"))
          .agg((max(col("tid")) + 1).cast("int").as("nbits"))
        toks.join(dict, Seq("blk", "t"))
          .groupBy((Seq("id", "blk", "n") ++ sideCol).map(col): _*)
          .agg(collect_list(col("tid")).as("tids"))
          .join(broadcast(nbits), Seq("blk"))
          .select(Seq(col("id"), col("blk"), col("n")) ++ sideCols :+
            BitmapOps.bitmapFromIds(col("tids"), col("nbits")).as("bm"): _*)
      }
    val s = math.max(1L, math.min(saltCap.toLong,
      math.ceil(math.sqrt(maxDocs / 64.0)).toLong))
    // length bucket: J >= t forces n-ratio >= t, so a qualifying pair
    // spans at most adjacent buckets of width log(1/t); t = 1 means
    // identical sizes, so the size itself is the bucket
    val nbCol =
      if (threshold >= 1.0) col("n").cast("long")
      else floor(log(col("n").cast("double")) / math.log(1.0 / threshold))
        .cast("long")
    val chunked = maybePersist(encoded
      .withColumn("cid", nbCol * s + pmod(xxhash64(col("id")), lit(s))))
    val stats = chunked.groupBy(col("blk"), col("cid"))
      .agg(min(col("n")).as("mn"), max(col("n")).as("mx"))
    // unordered chunk pairs, each exactly once: cidA <= cidB, bucket
    // distance <= 1, and the pair's length ranges must overlap under t
    val pairsC = broadcast(stats.select(
        col("blk"), col("cid").as("ca"), col("mn").as("mna"), col("mx").as("mxa"))
      .join(stats.select(
          col("blk"), col("cid").as("cb"), col("mn").as("mnb"), col("mx").as("mxb")),
        Seq("blk"))
      .where(col("ca") <= col("cb") &&
        (floor(col("cb") / s) - floor(col("ca") / s)).between(0, 1) &&
        col("mxa") >= col("mnb") * threshold &&
        col("mxb") >= col("mna") * threshold)
      .select(col("blk"), col("ca"), col("cb")))
    val lhs = chunked
      .select(Seq(col("blk"), col("cid").as("ca"), col("id").as("id_l"),
        col("n").as("n_l")) ++ sideCol.map(s => col(s).as("side_l")) :+
        col("bm").as("bm_l"): _*)
      .join(pairsC, Seq("blk", "ca"))
    val rhs = chunked
      .select(Seq(col("blk"), col("cid").as("cb"), col("id").as("id_r"),
        col("n").as("n_r")) ++ sideCol.map(s => col(s).as("side_r")) :+
        col("bm").as("bm_r"): _*)
      .join(pairsC, Seq("blk", "cb"))
    lhs.join(rhs, Seq("blk", "ca", "cb"))
      .where(col("ca") < col("cb") || col("id_l") < col("id_r"))
      .where(least(col("n_l"), col("n_r")) >=
        greatest(col("n_l"), col("n_r")) * threshold)
      // cross-side restriction, applied BEFORE the popcount projection
      // so same-side pairs are never scored
      .where(sideCol.map(_ => col("side_l") =!= col("side_r"))
        .getOrElse(lit(true)))
      .withColumn("jaccard_sim",
        round(BitmapOps.bitmapJaccard(col("bm_l"), col("bm_r")), 6))
      // NOT-NaN guard: Spark orders NaN ABOVE every number, so the 0/0
      // jaccard of two EMPTY bitmaps (reachable only via the broadcast-
      // encode path at threshold >= 1, where the length bucket keeps
      // n = 0 docs) would otherwise pass the threshold as a false pair.
      // A no-op for the join-encode path, which drops empty docs at the
      // token explode.
      .where(col("jaccard_sim") >= threshold && !isnan(col("jaccard_sim")))
      .select(least(col("id_l"), col("id_r")).as("id_a"),
        greatest(col("id_l"), col("id_r")).as("id_b"),
        col("jaccard_sim"))
  }

  /** Connected components over an undirected pair list — the step every
    * dedup pipeline needs between "near-dup PAIRS" and "keep one doc per
    * CLUSTER": pairs (a,b),(b,c) must collapse to one cluster with one
    * canonical (min-id) representative, which no per-pair operator gives.
    *
    * Algorithm: iterative min-label propagation with path halving. Each
    * round every node takes the min label over itself and its neighbors
    * (one join keyed on the edge endpoint + one partial-agg groupBy),
    * then labels hop through their own parents (`comp := comp(comp)`,
    * one self-join) — the pointer-jumping trick that turns O(diameter)
    * convergence into O(log diameter). All shuffles are keyed on node or
    * label ids; the only driver-side value per round is the scalar
    * changed-row count for the convergence check.
    *
    * Each round's labels are eagerly `localCheckpoint`ed: the iterative
    * self-joins otherwise grow the logical plan ~4× per round
    * (explain/analysis alone OOMs past ~6 rounds). Local checkpoints
    * trade executor-loss fault tolerance for speed — on a long-running
    * production cluster, set a reliable `setCheckpointDir` and swap in
    * `.checkpoint()`. Dedup graphs are near-cliques (tiny diameter), so
    * this typically converges in 2-3 rounds; `maxIter` bounds
    * adversarial chains.
    *
    * Block lifecycle: every checkpoint is released deterministically
    * ([[graft.util.Blocks]]) the moment it is superseded — the previous
    * round's labels when the next round materializes, and the seeds,
    * edges, and final labels once the RESULT is materialized. Without
    * this the superseded blocks linger until GC and, in a long-lived
    * JVM running many queries, squeeze the unified memory pool
    * (measured: a full-suite run doubled its wall time from exactly
    * this residue). The returned frame is itself an eager local
    * checkpoint — already computed, cheap to re-consume, and the ONLY
    * storage this operator leaves behind (one small (id, comp) row per
    * node; the caller or harness owns its release).
    *
    * Tiering: after star contraction the surviving inter-star graph is
    * usually a tiny fraction of the input (near-cliques collapse to
    * stars). When it is at most `driverTierMaxEdges` undirected edges,
    * the fixpoint is finished by a driver-side union-find over the
    * collected (bounded, metadata-scale) edge list instead of the
    * distributed loop — identical labels, none of the loop's per-round
    * fixed cost or round-count variance. Larger contracted graphs (or
    * a non-Comparable id type) take the distributed loop unchanged.
    *
    * @param pairs columns `id_a`, `id_b` (one row per undirected edge)
    * @param maxIter round bound for the distributed fixpoint tier
    * @param driverTierMaxEdges max undirected CONTRACTED edges finished
    *        driver-side; 0 forces the distributed loop (used by tests)
    * @return (`id`, `comp`) — component = min reachable id, one row per
    *         node that appears in `pairs`
    */
  def connectedComponents(
      pairs: DataFrame,
      maxIter: Int = 20,
      driverTierMaxEdges: Int = 200000): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    import graft.util.Blocks
    // FAST TIER: when the input pair list itself is within the driver
    // bound, skip the whole distributed scaffold (edge explode, seed
    // aggregate, contraction joins, mapping join — ~10 scheduling-bound
    // jobs over metadata-sized frames, measured 1.3-1.7 s warm at
    // sf0.1) and finish on the driver: collect the pairs, union-find,
    // and return the (id, comp) labels as a LocalRelation (exact size
    // known → any downstream join can broadcast it, same property the
    // checkpoint gave). Identical labels to both other tiers
    // (component = min reachable id under the same Comparable order);
    // non-Comparable id types and larger pair lists fall through to
    // the star-contraction path unchanged — this tier only engages
    // where the DRIVER tier would have engaged anyway (the contracted
    // graph is never larger than the input), so the 100 TB shape is
    // untouched. The persist bounds the cost of the count+collect
    // double consumption; callers pass already-checkpointed pair lists
    // in every query path, making both actions metadata-scale scans.
    // A pair with a null endpoint joins nothing in the distributed tiers
    // and would make null a union-find key in the driver tiers, so every
    // tier drops it (a narrow filter in the persist's own stage).
    val pairsP = pairs.select(col("id_a"), col("id_b"))
      .where(col("id_a").isNotNull && col("id_b").isNotNull)
      .persist(StorageLevel.MEMORY_AND_DISK)
    // Driver-tier eligibility comes from the id type (as PageRank's
    // does), never from a sampled row.
    val idType = pairsP.schema("id_a").dataType
    val driverTier =
      idType == pairsP.schema("id_b").dataType && driverOrdered(idType)
    val labelSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", idType),
      org.apache.spark.sql.types.StructField("comp", idType)))
    val nPairs = pairsP.count()
    if (driverTier && nPairs <= driverTierMaxEdges && nPairs > 0) {
      val out = pairsP.sparkSession.createDataFrame(
        unionFindLabels(pairsP.collect()), labelSchema)
      pairsP.unpersist(blocking = false)
      return out
    }
    // Both edge directions from ONE scan of `pairs` (an explode, not a
    // self-union — union would evaluate the upstream pair pipeline
    // twice before the persist materializes; measured 2× the whole
    // jaccard join on q26). Duplicate edges are harmless to a
    // min-aggregate, so no distinct() either.
    // NOT persisted: the explode is a narrow op over the persisted
    // undirected list, and each of its two consumers (the seed
    // aggregate here, the final mapping join's re-read of `seed`'s
    // checkpoint) re-derives it from pairsP blocks for free — the old
    // shape persisted the DIRECTED list (2× the rows) NEXT TO the
    // caller's pair storage, which at the 100× corpus cost ~7-9 s of
    // extra store+read per collapse query.
    val edges = pairsP.select(explode(array(
        struct(col("id_a").as("u"), col("id_b").as("v")),
        struct(col("id_b").as("u"), col("id_a").as("v")))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
    // Star contraction: seed every node with min(self, neighbours) — one
    // aggregate — then REWRITE the edge list through the seed labels and
    // drop self-loops. Dedup pair graphs are near-cliques, so this one
    // contraction typically shrinks millions of redundant intra-clique
    // edges to a handful of inter-star links; the iterative part below
    // then runs on the contracted graph only (measured at sf0.1: 2.4M
    // directed edges → a few hundred, CC wall time 6.8s → ~2s).
    // The eager checkpoint is NOT just lineage hygiene: the
    // materialized RDD gives Catalyst an exact size for `seed`, which
    // is what lets the two contraction joins broadcast it. Without it
    // the aggregate's estimated stats exceed the broadcast threshold
    // and both joins plan as sort-merge over the full edge table
    // (measured: q26 9.3s → 17.5s at sf0.1).
    val seedCp = Blocks.checkpoint(edges
      .groupBy(col("u"))
      .agg(least(min(col("v")), col("u")).as("comp"))
      .select(col("u").as("id"), col("comp")))
    val seed = seedCp.df
    // contract from the UNDIRECTED pair list (pairsP directly — half
    // the rows of `edges` and already materialized) and emit both
    // directions of the surviving inter-star links after
    val contracted = pairsP
      .select(col("id_a").as("u"), col("id_b").as("v"))
      .join(seed.select(col("id").as("u"), col("comp").as("cu")), "u")
      .join(seed.select(col("id").as("v"), col("comp").as("cv")), "v")
      .where(col("cu") =!= col("cv"))
      .select(explode(array(
        struct(col("cu").as("u"), col("cv").as("v")),
        struct(col("cv").as("u"), col("cu").as("v")))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    // Tier decision: count the contracted graph (this also materializes
    // the persist, which the first loop round would pay anyway). Star
    // contraction collapses near-clique dedup graphs by orders of
    // magnitude, so the surviving inter-star links are very often
    // metadata-scale even when the input pair list is huge — and a
    // driver-side union-find over a bounded edge list beats 2+
    // distributed rounds of per-round scheduling + checkpoint cost
    // (measured at sf0.1: the loop is ~3-4 s of almost pure fixed cost
    // for a few hundred surviving edges) AND removes the round-count
    // variance. The loop tier remains the scale path: at 100 TB a
    // contracted graph can still exceed any driver bound.
    val nContracted = contracted.count() // directed rows = 2× edges
    // The distributed fixpoint loop — labels = min reachable id over the
    // contracted graph. Scale tier, and the only tier for id types the
    // driver cannot compare.
    def iterativeLabels(): (DataFrame, Option[Blocks.Checkpointed]) = {
      // eagerly checkpointed for the same stats reason as `seed`: the
      // loop's per-round joins must see the label table's true (tiny)
      // size to broadcast it
      var labelsCp = Blocks.checkpoint(contracted
        .groupBy(col("u"))
        .agg(least(min(col("v")), col("u")).as("comp"))
        .select(col("u").as("id"), col("comp")))
      var labels = labelsCp.df
      // Convergence = no label changed this round. The previous label
      // rides through the step as `_prev`, so the changed-row count is a
      // filter over the round's already-materialized checkpoint — no
      // extra join, and (unlike a value checksum) correct for ANY
      // orderable id type: a sum-based check silently degrades for
      // string/UUID ids, where the numeric cast nulls out and every
      // round checksums to 0.
      var iter = 0
      var done = false
      while (!done && iter < maxIter) {
        // min over neighbours' labels
        val nbr = contracted
          .join(labels.select(col("id").as("v"), col("comp")), "v")
          .groupBy(col("u").as("id"))
          .agg(min(col("comp")).as("nbr_comp"))
        val stepped = labels.join(nbr, Seq("id"), "left")
          .select(col("id"), col("comp").as("_prev"),
            least(col("comp"), coalesce(col("nbr_comp"), col("comp")))
              .as("comp"))
        // path halving: comp := min(comp, comp(comp))
        val nextCp = Blocks.checkpoint(stepped.as("a")
          .join(stepped.select(col("id").as("comp"), col("comp").as("pcomp"))
            .as("b"), Seq("comp"), "left")
          .select(col("id"), col("_prev"),
            least(col("comp"), coalesce(col("pcomp"), col("comp"))).as("comp")))
        done = nextCp.df.where(col("comp") =!= col("_prev")).isEmpty
        // the new round is materialized — the previous round's checkpoint
        // blocks are dead weight from here on; free them NOW, not at GC
        labelsCp.release()
        labelsCp = nextCp
        labels = nextCp.df.select(col("id"), col("comp"))
        iter += 1
      }
      if (!done && iter == maxIter)
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"connectedComponents exhausted maxIter=$maxIter before the " +
            "fixpoint; returned component labels may be UNCONVERGED. " +
            "Raise maxIter (rounds needed ~ log2 of the largest component " +
            "diameter after star contraction).")
      (labels, Some(labelsCp))
    }
    // Driver union-find over the bounded contracted edge list: exact
    // same labels as the fixpoint. The result is a LocalRelation: exact
    // size known → the final mapping join broadcasts it, same plan
    // shape as the loop tier's checkpoint.
    val (labels, labelsCpOpt) =
      if (driverTier && nContracted <= 2L * driverTierMaxEdges)
        (contracted.sparkSession.createDataFrame(unionFindLabels(
          contracted.where(col("u") < col("v")).collect()), labelSchema), None)
      else iterativeLabels()
    // map every original node through its star root's final component;
    // materialize the RESULT eagerly so every intermediate block set —
    // seeds, final-round labels, edge tables — can be freed before
    // returning instead of lingering until GC
    val outCp = Blocks.checkpoint(seed
      .join(labels.select(col("id").as("comp"), col("comp").as("final")),
        Seq("comp"), "left")
      .select(col("id"), coalesce(col("final"), col("comp")).as("comp")))
    seedCp.release()
    labelsCpOpt.foreach(_.release())
    contracted.unpersist()
    pairsP.unpersist(blocking = false)
    outCp.df
  }

  /** Id types the driver CC tiers accept: their external values are
    * `Comparable` in the order Spark sorts them (boxed numerics and
    * BigDecimal, String, Boolean, java.sql/java.time dates and
    * timestamps). Any other id type takes the distributed loop. */
  private def driverOrdered(t: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    t match {
      case _: NumericType | BooleanType | DateType | TimestampType |
          TimestampNTZType => true
      case other => other == StringType
    }
  }

  /** Union-find root of `x` with path compression; an unseen key
    * becomes its own root. Shared by [[spanningForestWithin]] and
    * [[unionFindLabels]]. */
  private def find(parent: java.util.HashMap[Any, Any], x: Any): Any =
    if (!parent.containsKey(x)) { parent.put(x, x); x }
    else {
      var r = x
      while (parent.get(r) != r) r = parent.get(r)
      var c = x
      while (parent.get(c) != r) { val n = parent.get(c); parent.put(c, r); c = n }
      r
    }

  /** Driver union-find over a collected (u, v) pair array: one
    * (id, comp = min reachable id) row per node that appears. The exact
    * label contract of every [[connectedComponents]] tier (Comparable
    * order matches Spark's ordering for the [[driverOrdered]] types);
    * shared by the fast tier (raw pairs) and the driver tier
    * (contracted edges). */
  private def unionFindLabels(
      rows: Array[org.apache.spark.sql.Row]): java.util.List[org.apache.spark.sql.Row] = {
    val parent = new java.util.HashMap[Any, Any]()
    rows.foreach { row =>
      val ra = find(parent, row.get(0)); val rb = find(parent, row.get(1))
      if (ra != rb) parent.put(ra, rb)
    }
    def lt(a: Any, b: Any): Boolean =
      a.asInstanceOf[Comparable[Any]].compareTo(b) < 0
    val minOf = new java.util.HashMap[Any, Any]()
    val nodes: Array[AnyRef] = parent.keySet().toArray
    nodes.foreach { n =>
      val r = find(parent, n)
      val cur = minOf.get(r)
      if (cur == null || lt(n, cur)) minOf.put(r, n)
    }
    java.util.Arrays.asList(nodes.map(n =>
      org.apache.spark.sql.Row(n, minOf.get(find(parent, n)))): _*)
  }

  // ---------------------------------------------------------------------
  // MinHash + LSH banding
  // ---------------------------------------------------------------------

  /** Deterministic hash companions for the MinHash permutations:
    * h_i(x) = (a_i * x + b_i) mod p with p = 2^31 − 1 (Mersenne prime),
    * x = xxhash64 of the shingle reduced mod p. Keeping a, b, x < 2^31
    * means a·x + b < 2^62 — no Long overflow, so the universal-hash
    * guarantee actually holds. Constants come from a fixed linear
    * congruential sequence — fully deterministic, no RNG at plan time. */
  private val MersennePrime = (1L << 31) - 1
  private def permConstants(numPerm: Int): Seq[(Long, Long)] = {
    var state = 0x9E3779B97F4A7C15L
    def next(): Long = {
      state = state * 6364136223846793005L + 1442695040888963407L
      (state >>> 3) | 1L // odd, positive
    }
    (0 until numPerm).map(_ => (next() % MersennePrime, next() % MersennePrime))
  }

  /** The (`id`, `sh` distinct word-shingle array) table the MinHash
    * family consumes — factored out so callers that need the shingles
    * for MORE than the signatures (the verify join, an inline exact
    * recall truth) can materialize it ONCE and share. */
  def shingleTable(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleK: Int): DataFrame =
    // native byte-pass kernel (WordNGramsParitySpec proves it
    // shingle-for-shingle equal to shinglesFromTokens∘tokensOf): one
    // codegen'd projection, no interpreted lambda per shingle and no
    // token-array materialization step
    df.select(col(idCol).as("id"),
      array_distinct(graft.expressions.WordNGrams
        .wsNGrams(col(textCol), shingleK)).as("sh"))

  /** MinHash signatures as one row per doc with numPerm scalar columns
    * m0..m{numPerm-1}, over a PRE-BUILT shingle table (`id`, `sh` — the
    * [[shingleTable]] shape).
    *
    * Plan shape matters here: computing the signature as nested
    * array-lambda expressions (transform/array_min per permutation)
    * multiplies the shingle pipeline into every permutation's expression
    * tree — higher-order functions are interpreted, not codegen'd, so the
    * whole thing re-evaluates the tokenizer hundreds of times per row.
    * Instead we explode to (id, shingleHash) rows — one xxhash per
    * shingle — and fold the permutations with a single hash aggregation
    * of numPerm codegen'd scalar `min` expressions. Map-side partial
    * aggregation collapses each doc to one row before the shuffle, so
    * shuffle volume is O(docs × numPerm longs) regardless of text size.
    */
  def minHashSignaturesFromShingles(
      shingled: DataFrame,
      numPerm: Int): DataFrame = {
    val hashed = shingled
      .select(col("id"), explode(col("sh")).as("s"))
      .select(col("id"), pmod(xxhash64(col("s")), lit(MersennePrime)).as("x"))
    val minExprs = permConstants(numPerm).zipWithIndex.map { case ((a, b), i) =>
      min(pmod(col("x") * a + b, lit(MersennePrime))).as(s"m$i")
    }
    hashed.groupBy(col("id")).agg(minExprs.head, minExprs.tail: _*)
  }

  /** LSH banding over scalar signature columns m0..: one (band, bucket)
    * key per band, bucket = xxhash64 of the band's components. */
  private[graft] def bandKeys(bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map { b =>
      struct(
        lit(b).as("band"),
        xxhash64(concat_ws(",",
          (0 until rowsPerBand).map(r => col(s"m${b * rowsPerBand + r}")): _*))
          .as("bucket"))
    }: _*)

  /** Drop degenerate blocking buckets (e.g. the empty/boilerplate doc):
    * a bucket with more than `maxBucketSize` members would make the
    * per-bucket self-join quadratic. The count is a window over the
    * bucket key — same shuffle the join needs anyway. Shared by the
    * MinHash/SimHash banders and [[graft.sim.Ann]]'s LSH blocks. */
  private[graft] def capBuckets(
      buckets: DataFrame,
      maxBucketSize: Int,
      keyCols: Seq[String] = Seq("bk")): DataFrame =
    buckets
      .withColumn("bsz",
        count(lit(1)).over(Window.partitionBy(keyCols.map(col): _*)))
      .where(col("bsz") <= maxBucketSize)
      .drop("bsz")

  /** MinHash/LSH near-duplicate pairs over a PRE-BUILT shingle table
    * (`id`, `sh` — the [[shingleTable]] shape): candidate pairs share
    * ≥1 LSH band bucket; candidates are verified with exact Jaccard
    * over the shingle arrays and kept when ≥ `threshold`.
    *
    * Plan shape: explode shingles → signature agg (shuffle on id) →
    * explode bands → shuffle on (band, bucket) → per-bucket self-join
    * (bounded by `maxBucketSize`) → distinct pairs → verify. No stage
    * touches the full cross product.
    *
    * LAZY: the caller owns the shingle table's lifecycle (typically an
    * eager checkpoint shared with other consumers — the table is read
    * by the signature aggregation AND both verify-join sides) and
    * `maybePersist` is its storage policy for the capped-bucket table
    * (consumed by both self-join sides). */
  def minHashDedupFromShingles(
      shingled: DataFrame,
      numPerm: Int = 32,
      bands: Int = 8,
      threshold: Double = 0.5,
      maxBucketSize: Int = 100000,
      maybePersist: DataFrame => DataFrame = identity): DataFrame = {
    require(numPerm % bands == 0, "numPerm must divide evenly into bands")
    val sig = minHashSignaturesFromShingles(shingled, numPerm)
    val buckets = sig.select(col("id"),
      explode(bandKeys(bands, numPerm / bands)).as("bk"))
    val capped = maybePersist(capBuckets(buckets, maxBucketSize))
    val pairs = capped.as("l")
      .join(capped.as("r"),
        col("l.bk") === col("r.bk") && col("l.id") < col("r.id"))
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    pairs
      .join(shingled.select(col("id").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(shingled.select(col("id").as("id_b"), col("sh").as("sh_b")), "id_b")
      .withColumn("jaccard_sim", round(jaccard(col("sh_a"), col("sh_b")), 6))
      .where(col("jaccard_sim") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard_sim"))
  }

  // ---------------------------------------------------------------------
  // SimHash
  // ---------------------------------------------------------------------

  /** 64-bit SimHash per doc: sum per bit position of +1/-1 weighted by
    * each token's xxhash64 bit, then take the sign.
    *
    * Same plan-shape reasoning as [[minHashSignaturesFromShingles]]:
    * explode to (id, tokenHash) rows — one xxhash per token — then one
    * hash aggregation with 64 codegen'd scalar `sum` expressions; the
    * final sign-bit packing is 64 cheap scalar conditionals on the
    * aggregated row. Map-side combine keeps shuffle volume at
    * O(docs × 64 longs). */
  def simHashSignatures(
      df: DataFrame,
      idCol: String,
      textCol: String): DataFrame = {
    val hashed = df
      .select(col(idCol).as("id"),
        explode(split(TextAnalysis.canonical(col(textCol)), " ")).as("t"))
      .select(col("id"), xxhash64(col("t")).as("h"))
    val bitSums = (0 until 64).map { i =>
      sum(when(shiftright(col("h"), i).bitwiseAND(1) === 1, 1L).otherwise(-1L))
        .as(s"s$i")
    }
    val sums = hashed.groupBy(col("id")).agg(bitSums.head, bitSums.tail: _*)
    val sig = (0 until 64)
      .map(i => when(col(s"s$i") > 0, lit(1L << i)).otherwise(lit(0L)))
      .reduce((a, b) => a.bitwiseOR(b))
    sums.select(col("id"), sig.as("sig"))
  }

  /** SimHash near-dup pairs over PRE-COMPUTED signatures (`id`, `sig`
    * — the [[simHashSignatures]] shape): block on 16-bit quarters of
    * the signature (a pair within hamming distance ≤ 3 of a 64-bit
    * signature must agree exactly on at least one of the 4 quarters —
    * pigeonhole), verify with popcount of XOR ≤ maxHamming. Degenerate
    * quarter-buckets are capped like the MinHash buckets.
    *
    * LAZY: callers that also consume the signatures elsewhere (e.g. an
    * inline exact-recall check) compute them once, own their
    * lifecycle, and pass their storage policy for the capped-bucket
    * table (consumed by both self-join sides) via `maybePersist`. */
  def simHashDedupFromSigs(
      sigs: DataFrame,
      maxHamming: Int = 3,
      maxBucketSize: Int = 100000,
      maybePersist: DataFrame => DataFrame = identity,
      blockCol: Option[String] = None): DataFrame = {
    // an optional equality BLOCK joins the bucket key (the jaccardJoin
    // `blk` convention): pairs are only sought inside a block, which
    // keeps buckets small when the item count saturates the 16-bit
    // band space (measured: 4M frame hashes at 100x averaged 61 rows
    // per (q, chunk) bucket -> ~1e9 candidates; per-frame-index
    // blocking restores q145's per-item bucket density)
    val blkKey = blockCol.map(c => Seq(col(c).as("blkk"))).getOrElse(Seq.empty)
    val blocked = sigs.select(
      col("id"), col("sig"),
      explode(array((0 until 4).map { q =>
        struct((Seq(lit(q).as("q"),
          shiftright(col("sig"), q * 16).bitwiseAND(0xFFFFL).as("chunk")) ++
          blkKey): _*)
      }: _*)).as("bk"))
    val capped = maybePersist(capBuckets(blocked, maxBucketSize))
    // hamming is computed and thresholded BEFORE the pair-dedup
    // shuffle: a band collision that fails the distance test never
    // crosses the exchange, and the exchange carries (id_a, id_b,
    // hamming) instead of two 64-bit signatures per candidate — on
    // band-dense corpora the rejected collisions are the bulk of the
    // candidate stream (§2.3: filter/aggregate before you shuffle).
    // Value-identical: hamming is a pure function of the pair, so
    // deduplicating after the filter keeps exactly the same rows.
    capped.as("l")
      .join(capped.as("r"),
        col("l.bk") === col("r.bk") && col("l.id") < col("r.id"))
      .select(
        col("l.id").as("id_a"), col("r.id").as("id_b"),
        bit_count(col("l.sig").bitwiseXOR(col("r.sig"))).as("hamming"))
      .where(col("hamming") <= maxHamming)
      .dropDuplicates("id_a", "id_b")
  }

  /** EXACT blocked edit-distance near-dup join — the record-linkage
    * shape (Ed-Join family: equality blocking + length filtering +
    * early-exit verification) for catching character-level mutations
    * (typos, OCR noise, small insertions) that shingle-set Jaccard
    * treats as high-similarity-but-distinct and exact hashing misses
    * entirely.
    *
    * Declared semantics (what the all-pairs oracle checks): a pair
    * qualifies iff both documents share their first `blockPrefixLen`
    * characters verbatim, their full-text lengths differ by at most
    * `maxDist`, and the Levenshtein distance of their first
    * `verifyPrefixLen` characters is ≤ `maxDist`. The verify window is
    * part of the CONTRACT, not an approximation: unbounded edit
    * distance is O(|a|·|b|) per pair, which no engine runs on
    * arbitrary-length documents — bounding the window bounds per-pair
    * cost at `verifyPrefixLen² ` regardless of document size (and the
    * built-in threshold kernel exits as soon as the distance provably
    * exceeds `maxDist`, so the common non-match costs
    * O(maxDist·verifyPrefixLen)).
    *
    * Scale shape: candidate generation is an equi-join on
    * `(prefix, length-band)` — the shuffle key is the block, never the
    * pair space. Length banding is LOSSLESS: with band width
    * `lenBucket ≥ maxDist`, any pair within `maxDist` length difference
    * sits in equal or adjacent bands, so the probe side emits its band
    * ±1 and each qualifying unordered pair meets exactly once (the
    * `id <` orientation filter keeps exactly one of the two role
    * assignments — no dedup pass needed). Per-block work is
    * O(block²·maxDist·verifyPrefixLen); real corpora concentrate
    * boilerplate openings into hot prefixes, so at 100 TB the
    * `blockPrefixLen` key should be lengthened (or composed with a
    * cheap second signal, e.g. a length band is already included here)
    * before falling back to [[jaccardJoin]], whose prefix-filtering
    * tier tolerates skew natively. `maxBlockSize` is the hard
    * backstop (the [[minHashDedupFromShingles]] `maxBucketSize`
    * policy): blocks over the cap are dropped ENTIRELY — a
    * deterministic, documented recall trade that bounds the worst
    * task, instead of a hot prefix quadratically stalling the stage.
    * The default (no cap) keeps the operator exact w.r.t. its blocking
    * contract.
    *
    * @param docs    input with `idCol` and `textCol`
    * @return (`id_a`, `id_b`, `prefix_dist`, `len_a`, `len_b`) with
    *         `id_a < id_b`, distances/lengths as longs
    */
  def editDistanceJoin(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      maxDist: Int = 8,
      blockPrefixLen: Int = 16,
      verifyPrefixLen: Int = 80,
      lenBucket: Int = 16,
      maxBlockSize: Int = Int.MaxValue): DataFrame = {
    require(maxDist >= 0, s"editDistanceJoin: maxDist must be >= 0, got $maxDist")
    require(lenBucket >= math.max(maxDist, 1),
      s"editDistanceJoin: lenBucket ($lenBucket) must be >= maxDist " +
        s"($maxDist) for length banding to be lossless")
    val uncapped = docs.select(
      col(idCol).as("id"),
      substring(col(textCol), 1, verifyPrefixLen).as("vp"),
      substring(col(textCol), 1, blockPrefixLen).as("p"),
      length(col(textCol)).cast("long").as("l"))
      .withColumn("lb", floor(col("l") / lenBucket))
    // No-cap path adds NO plan nodes — the default stays exact and the
    // oracle stays valid; the capped path pays one block-sized count.
    val base =
      if (maxBlockSize == Int.MaxValue) uncapped
      else {
        val sizes = uncapped.groupBy(col("p"), col("lb"))
          .agg(count(lit(1)).as("_eb_n"))
          .where(col("_eb_n") <= maxBlockSize)
        uncapped.join(sizes, Seq("p", "lb")).drop("_eb_n")
      }
    // Probe side fans each doc out to its band ±1; a qualifying pair
    // (|len diff| <= maxDist <= lenBucket) meets where band_probe ==
    // lb_base — exactly once per role assignment, and the id ordering
    // keeps exactly one role.
    val probe = base.withColumn(
      "band",
      explode(array(col("lb") - 1, col("lb"), col("lb") + 1)))
    base.as("a")
      .join(
        probe.as("b"),
        col("a.p") === col("b.p") && col("a.lb") === col("b.band") &&
          col("a.id") < col("b.id"))
      .where(abs(col("a.l") - col("b.l")) <= maxDist)
      .withColumn("prefix_dist",
        levenshtein(col("a.vp"), col("b.vp"), maxDist).cast("long"))
      .where(col("prefix_dist") >= 0)
      .select(
        col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("prefix_dist"), col("a.l").as("len_a"), col("b.l").as("len_b"))
  }
}
