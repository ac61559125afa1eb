package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * language ID, quality scoring, token counting, n-gram extraction,
  * document fingerprinting. All pure Catalyst expressions — per-row,
  * no shuffle, fully codegen'd; they scale linearly with the scan.
  */
object Analysis {

  /** Word n-grams of a token array, computed in-row (no explode →
    * no shuffle) by the native one-sweep kernel
    * ([[graft.expressions.NgramJoinExpr]]; the composed HOF form,
    * `AnalysisComposed.ngramsComposed` in the specs, is its executable
    * spec — parity in ExpressionSpec). Empty result for docs shorter
    * than n, and for a null input (the composed `when` guard's
    * behavior).
    */
  def ngrams(tokens: Column, n: Int): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge._
    coalesce(
      column(graft.expressions.NgramJoinExpr(expression(tokens), n)),
      array().cast("array<string>"))
  }

  /** BPE-ish pre-tokenizer regex (the GPT-2 pattern family, kept to
    * the syntax Java regex and RE2 share — no lookaheads): English
    * contractions, optionally space-prefixed letter runs, digit runs,
    * punctuation runs, then residual whitespace runs. Counting its
    * matches approximates an LLM tokenizer's budget well enough for
    * corpus-scale cost estimates without shipping a vocab.
    */
  val BpeIshRe: String =
    "'(?:s|t|re|ve|m|ll|d)| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s+"

  /** Marker stop-word sets per language — the classic cheap n-gram/
    * function-word language-ID heuristic. Small public lists; ties are
    * broken by the fixed priority order en, de, es, fr.
    */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "is", "in", "that", "it",
      "was", "for"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein", "eine",
      "nicht", "mit", "von"),
    "es" -> Seq("el", "la", "los", "las", "de", "que", "y", "en",
      "un", "es"),
    "fr" -> Seq("le", "les", "des", "et", "est", "une", "du", "dans",
      "pour", "que"))

  /** Language-ID over a token array: argmax of marker-word hits with
    * deterministic priority-order tie-break; "und" (undetermined) when
    * no marker fires. Native one-sweep kernel
    * ([[graft.expressions.LangIdExpr]]: one hash probe per token into
    * a marker→language-bitmask map); `AnalysisComposed.langIdComposed`
    * in the specs is its executable spec.
    */
  def langId(tokens: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge._
    column(graft.expressions.LangIdExpr(expression(tokens), LangMarkers))
  }

  /** Mean per-token natural-log probability under a unigram model —
    * the cheap stand-in for perplexity-based quality filtering. The
    * model is a driver-side `Map` (top-V MLE estimates; V is bounded,
    * so the literal map is small) folded into the expression: lookup,
    * OOV floor, in-row sum and mean all happen inside the scan's
    * codegen stage — per-token rows never exist, nothing shuffles.
    * Rounded once at the aggregate (engine-portable).
    */
  def unigramAvgLogProb(tokens: Column, model: Map[String, Double],
      floorLp: Double): Column = {
    graft.core.PlanLiterals.requireMapTerms(model.size, "unigramAvgLogProb")
    val m = typedLit(model)
    val s = aggregate(
      transform(tokens, t => coalesce(try_element_at(m, t), lit(floorLp))),
      lit(0.0), (acc, x) => acc + x)
    when(size(tokens) > 0, round(s / size(tokens), 6)).otherwise(lit(0.0))
  }

  /** Quality-score feature columns for a document (text + tokens).
    * Returned as a struct so callers can `select(quality(...).as("q"))`
    * or splat individual fields.
    */
  def tokenCount(tokens: Column): Column = size(tokens)

  def distinctTokenCount(tokens: Column): Column = size(array_distinct(tokens))

  /** Type-token ratio — lexical diversity in [0,1]. */
  def typeTokenRatio(tokens: Column): Column =
    when(size(tokens) > 0,
      round(distinctTokenCount(tokens).cast("double") /
        size(tokens).cast("double"), 6)).otherwise(lit(0.0))

  /** All four of [[tokenCount]]/[[distinctTokenCount]]/token-length
    * sum/stop-word hit count from ONE native sweep
    * ([[graft.expressions.TokenStatsExpr]]) as
    * struct(n_tokens, n_distinct, sum_len, n_stop) — t05's quality
    * columns derive from these with scalar arithmetic instead of four
    * interpreted higher-order passes per row. The individual composed
    * helpers above remain the kernel's executable spec (parity in
    * ExpressionSpec).
    */
  def tokenStats(tokens: Column,
      stops: Seq[String] = TextOps.EnglishStopwords): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge._
    column(graft.expressions.TokenStatsExpr(expression(tokens), stops))
  }

  /** Fraction of tokens taken by the single most frequent token —
    * the Gopher-style "repetition" quality signal (a doc that is 40%
    * one word is boilerplate/spam). In-row histogram over the
    * distinct tokens: O(n·distinct) per row, no shuffle. Pass a
    * *bound* token column (see [[graft.operators.Dedup.shingles]]'
    * binding note) — `tokens` is referenced |distinct|+2 times.
    */
  def topTokenFraction(tokens: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge._
    when(size(tokens) > 0,
      column(graft.expressions.MaxMultiplicityExpr(expression(tokens)))
        .cast("double") / size(tokens))
      .otherwise(lit(0.0))
  }

  /** Duplicate-n-gram fraction: 1 − distinct/total over word n-grams
    * — high values flag internally repetitive documents. Per-row, no
    * shuffle. Takes the *bound* gram array (from [[ngrams]]) so the
    * gram assembly runs once per row, not once per reference. */
  def dupGramFraction(grams: Column): Column =
    when(size(grams) > 0,
      lit(1.0) - size(array_distinct(grams)).cast("double") / size(grams))
      .otherwise(lit(0.0))

  /** Whole-document content fingerprint (exact-dedup key). */
  def fingerprint(text: Column): Column = md5(text)

  /** Min-shingle fingerprint: min over md5(3-gram) — a 1-hash MinHash;
    * equal fingerprints ⇒ high shingle overlap candidate. */
  def minShingleFingerprint(tokens: Column, n: Int = 3): Column =
    array_min(transform(ngrams(tokens, n), g => md5(g)))
}
