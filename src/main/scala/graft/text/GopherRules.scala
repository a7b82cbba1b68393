package graft.text

import graft.etl.Spread
import graft.util.Blocks
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The Gopher/MassiveText document-quality rule pack (Rae et al. 2021
  * §A1.1, public technique) — the canonical heuristic filter set most
  * pretraining pipelines start from, evaluated per document in one
  * narrow codegen'd pass:
  *
  *  1. word count within [minWords, maxWords];
  *  2. mean word length within [minMeanLen, maxMeanLen];
  *  3. symbol-to-word ratio (# and ellipsis marks) ≤ maxSymbolRatio;
  *  4. fraction of lines starting with a bullet ≤ maxBulletFrac;
  *  5. fraction of lines ending with an ellipsis ≤ maxEllipsisFrac;
  *  6. fraction of words containing an alphabetic char ≥ minAlphaFrac;
  *  7. at least minStopWords of the 8 canonical English stop words
  *     (the, be, to, of, and, that, have, with) appear.
  *
  * All metrics are split/regex column expressions from the
  * engine-portable regex subset (no lookarounds, no dialect classes),
  * ratios rounded once to 6 places — the established q41/alpha_ratio
  * contract — so the whole pack is hash-exact against an ANSI-SQL
  * oracle. Scale shape: pure narrow projections; whatever aggregates
  * follow (verdict rollups, dataset cards) key on the caller's columns.
  * At scale the input is already wide, so [[annotate]] adds no node;
  * it spreads only an under-partitioned input.
  * Thresholds are parameters because the paper's absolute word-count
  * bounds presume web-scale documents; the defaults here are the
  * paper's.
  */
object GopherRules {

  case class Thresholds(
      minWords: Long = 50L,
      maxWords: Long = 100000L,
      minMeanLen: Double = 3.0,
      maxMeanLen: Double = 10.0,
      maxSymbolRatio: Double = 0.1,
      maxBulletFrac: Double = 0.9,
      maxEllipsisFrac: Double = 0.3,
      minAlphaFrac: Double = 0.8,
      minStopWords: Int = 2)

  val StopWords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Adds the 7 metric columns, the 7 per-rule pass booleans and the
    * combined `gopher_ok` verdict. Empty/whitespace-only docs fail the
    * word-count rule (n_words = 0) and divide-by-zero ratios are
    * defined as 0 via the n_words/n_lines guards.
    *
    * The rules cost ~15 regex passes per row, so the operator owns its
    * spread: an input with fewer partitions than `defaultParallelism`
    * (a one-row-group corpus scans as ONE task) is repartitioned to
    * that count by the text column ([[graft.etl.Spread.byKeyStrict]])
    * and the projection is returned through
    * [[graft.util.Blocks.lazyCheckpoint]]. The checkpoint is what makes
    * the spread work: over a bare spread, Catalyst pushes a caller's
    * `.where(col("gopher_ok"))` below the exchange, and the whole
    * verdict tree runs as a Filter in the one scan task again. It sits
    * above the projection, so that pushed-down filter reads a stored
    * boolean instead of re-evaluating the rules. A wide input gets the
    * plain projection: no exchange, no checkpoint. */
  def annotate(df: DataFrame, textCol: String, t: Thresholds = Thresholds()): DataFrame = {
    val spread = Spread.byKeyStrict(df, col(textCol))
    val text = col(textCol)
    val nWords = size(regexp_extract_all(text, lit("[^ \\t\\n\\r]+"), lit(0)))
      .cast("long")
    val nLines = size(split(text, "\n")).cast("long")
    // total non-whitespace chars / words, 0 when empty
    val meanLen = round(
      when(nWords > 0,
        length(regexp_replace(text, "[ \\t\\n\\r]+", "")).cast("double")
          / nWords.cast("double"))
        .otherwise(lit(0.0)), 6)
    val symbolRatio = round(
      when(nWords > 0,
        size(regexp_extract_all(text, lit("#|\\.\\.\\."), lit(0))).cast("double")
          / nWords.cast("double"))
        .otherwise(lit(0.0)), 6)
    val bulletFrac = round(
      size(regexp_extract_all(text, lit("(^|\\n)[ \\t]*[-*]"), lit(0)))
        .cast("double") / nLines.cast("double"), 6)
    val ellipsisFrac = round(
      size(regexp_extract_all(text, lit("\\.\\.\\.(\\n|$)"), lit(0)))
        .cast("double") / nLines.cast("double"), 6)
    val alphaFrac = round(
      when(nWords > 0,
        size(regexp_extract_all(text, lit("[^ \\t\\n\\r]*[a-zA-Z][^ \\t\\n\\r]*"),
          lit(0))).cast("double") / nWords.cast("double"))
        .otherwise(lit(0.0)), 6)
    val nStop = StopWords.map { w =>
      when(size(regexp_extract_all(lower(text),
        lit(s"(^|[^a-z0-9])$w([^a-z0-9]|$$)"), lit(0))) > 0, 1).otherwise(0)
    }.reduce(_ + _).cast("int")
    val annotated = spread.withColumn("n_words", nWords)
      .withColumn("mean_word_len", meanLen)
      .withColumn("symbol_ratio", symbolRatio)
      .withColumn("bullet_frac", bulletFrac)
      .withColumn("ellipsis_frac", ellipsisFrac)
      .withColumn("alpha_word_frac", alphaFrac)
      .withColumn("n_stop_words", nStop)
      .withColumn("r_words",
        col("n_words") >= t.minWords && col("n_words") <= t.maxWords)
      .withColumn("r_mean_len",
        col("mean_word_len") >= t.minMeanLen && col("mean_word_len") <= t.maxMeanLen)
      .withColumn("r_symbols", col("symbol_ratio") <= t.maxSymbolRatio)
      .withColumn("r_bullets", col("bullet_frac") <= t.maxBulletFrac)
      .withColumn("r_ellipsis", col("ellipsis_frac") <= t.maxEllipsisFrac)
      .withColumn("r_alpha", col("alpha_word_frac") >= t.minAlphaFrac)
      .withColumn("r_stop", col("n_stop_words") >= t.minStopWords)
      .withColumn("gopher_ok",
        col("r_words") && col("r_mean_len") && col("r_symbols") &&
          col("r_bullets") && col("r_ellipsis") && col("r_alpha") &&
          col("r_stop"))
    if (spread eq df) annotated else Blocks.lazyCheckpoint(annotated)
  }
}
