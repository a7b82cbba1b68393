package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for LLM training-data pipelines: language ID,
  * quality scoring, token counting and canonical fingerprinting.
  *
  * All operators are pure column expressions (whole-stage-codegen'd, no
  * UDFs), so they run at scan speed over arbitrarily large corpora.
  */
object TextAnalysis {

  /** Canonical form: lowercase, collapse whitespace, trim. */
  def canonical(text: Column): Column =
    trim(regexp_replace(lower(text), "\\s+", " "))

  /** Stable document fingerprint = md5 of the canonical form — the
    * canonical-form dedup key (cheap exact-dup detection that survives
    * case/whitespace noise). */
  def fingerprint(text: Column): Column = md5(canonical(text))

  /** Polynomial rolling hash (Rabin–Karp style): h = Σ cp_i · B^(n−1−i)
    * mod p over Unicode codepoints, B = 257, p = 2^31 − 1. Cheaper than
    * md5 and composable over concatenation — h(a ++ b) =
    * (h(a)·B^numChars(b) + h(b)) mod p — which lets chunked/streamed
    * documents be fingerprinted incrementally. Backed by the native
    * codegen'd [[graft.expressions.RollingHash]] kernel (one pass over
    * the UTF-8 bytes; the earlier interpreted per-char fold was O(n²)
    * per document and diverged from the codepoint-based oracle on
    * non-ASCII input). */
  def rollingHashFrom(ct: Column): Column =
    graft.expressions.RollingHash.rollingHash(ct)

  /** Whitespace token count. */
  def tokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[^ \\t\\n\\r]+"), lit(0)))

  /** BPE-ish token count: letter runs, digit runs, and single
    * punctuation/symbol runs — a cheap proxy for subword tokenizer load. */
  def bpeishTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 \\t\\n\\r]"), lit(0)))

  /** Per-language stopword regexes for the heuristic language scorer.
    * Kept to tiny high-frequency function-word sets; patterns restricted
    * to constructs with identical semantics in Java regex and RE2 so the
    * DuckDB oracle matches. */
  val stopwordPatterns: Seq[(String, String)] = Seq(
    "de" -> "(^| )(der|die|das|und|ist|nicht|ein|mit|von|den)( |$)",
    "en" -> "(^| )(the|and|of|to|in|is|that|for|with|was)( |$)",
    "es" -> "(^| )(el|la|los|las|de|que|y|en|un|una|es|por)( |$)",
    "fr" -> "(^| )(le|la|les|des|et|est|que|dans|pour|une|un|du)( |$)",
    "zh" -> "(^| )(的|是|不|了|在|我|有|他)( |$)"
  )

  /** Score of one language = count of (possibly overlapping-adjacent)
    * stopword hits on a PRE-MATERIALIZED canonical-text ATTRIBUTE
    * column (same plan-shape contract as
    * [[graft.dedup.Dedup.shinglesFromTokens]]: handing this a complex
    * expression re-evaluates the canonicalization once per pattern —
    * 5 regex passes per row where one suffices). Overlap caused by the
    * shared space between adjacent stopwords is intentional and
    * mirrored in the oracle (both engines count leftmost
    * non-overlapping matches). */
  def langScoreFrom(ct: Column, pattern: String): Column =
    size(regexp_extract_all(ct, lit(pattern), lit(0)))

  /** Heuristic language ID over a pre-materialized canonical-text
    * attribute: argmax of stopword scores; ties go to the earlier
    * language in `stopwordPatterns` order; "und" (undetermined) when
    * every score is 0. Implemented as a when-chain so the DuckDB oracle
    * can express the identical CASE. */
  def langIdFrom(ct: Column): Column = {
    val scores = stopwordPatterns.map { case (code, pat) =>
      code -> langScoreFrom(ct, pat)
    }
    val allZero = scores.map(_._2 === 0).reduce(_ && _)
    val chain = scores.zipWithIndex.foldLeft(when(allZero, "und")) {
      case (acc, ((code, s), i)) =>
        val laterScores = scores.drop(i + 1).map(_._2)
        val isMax = laterScores.foldLeft(lit(true))((c, o) => c && s >= o)
        acc.when(isMax, code)
    }
    chain.otherwise("und")
  }

  /** Convenience single-expression form — prefer materializing
    * `canonical(text)` in its own projection and calling [[langIdFrom]]
    * (this form canonicalizes once per stopword pattern). */
  def langId(text: Column): Column = langIdFrom(canonical(text))

  /** Duplicate-line ratio: 1 − distinct/total over newline-split lines —
    * the line-level repetition signal (boilerplate, scraped nav bars,
    * degenerate generations). 0 for single-line or all-unique docs. */
  def dupLineRatio(text: Column): Column = {
    val lines = split(text, "\n")
    round(
      lit(1.0) - size(array_distinct(lines)).cast("double")
        / size(lines).cast("double"), 6)
  }

  /** Per-doc top-token fraction over a corpus: share of the most
    * frequent whitespace token of the canonical text (near 1 ⇒
    * degenerate repetition). Shuffles on (id, token) then id — both
    * keyed, scalable; docs with no tokens are absent from the result
    * (join back with a 0 default). Output: (`id`, `top_token_frac`). */
  def topTokenFrac(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("id"),
        explode(regexp_extract_all(
          canonical(col(textCol)), lit("[^ ]+"), lit(0))).as("t"))
      .groupBy(col("id"), col("t"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("id"))
      .agg(round(max(col("c")).cast("double")
        / sum(col("c")).cast("double"), 6).as("top_token_frac"))

  /** Quality metrics: token count, alpha ratio, punctuation ratio,
    * space ratio, mean token length, stopword ratio — the
    * length/punct/stopword signals used for corpus filtering. The
    * canonical form is materialized ONCE (`_ct`) and shared by all five
    * stopword scorers instead of being recomputed per pattern;
    * `keepCanonical = true` leaves the `_ct` column in the output so
    * downstream fingerprint/langId reuse it too. */
  def qualityMetrics(
      df: DataFrame,
      textCol: String,
      keepCanonical: Boolean = false): DataFrame = {
    val t = col(textCol)
    val chars = length(t).cast("double")
    val alpha = length(regexp_replace(t, "[^a-zA-Z]", "")).cast("double")
    val punct = length(regexp_replace(t, "[^.,;:!?'\"()-]", "")).cast("double")
    val spaces = length(regexp_replace(t, "[^ ]", "")).cast("double")
    val toks = tokenCount(t).cast("double")
    val stopHits = stopwordPatterns
      .map { case (_, pat) => langScoreFrom(col("_ct"), pat).cast("double") }
      .reduce(_ + _)
    df.withColumn("_ct", canonical(t))
      .withColumn("n_chars_m", length(t))
      .withColumn("n_tokens", tokenCount(t))
      .withColumn("alpha_ratio", round(alpha / chars, 6))
      .withColumn("punct_ratio", round(punct / chars, 6))
      .withColumn("space_ratio", round(spaces / chars, 6))
      .withColumn(
        "mean_token_len",
        round((chars - spaces) / greatest(toks, lit(1.0)), 6))
      .withColumn(
        "stopword_ratio",
        round(stopHits / greatest(toks, lit(1.0)), 6))
      .withColumn(
        "quality_ok",
        col("n_tokens") >= 5 && col("alpha_ratio") >= 0.5 &&
          col("punct_ratio") <= 0.2)
      .drop((if (keepCanonical) Seq.empty[String] else Seq("_ct")): _*)
  }

}
