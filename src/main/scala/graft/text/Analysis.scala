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
    * ([[graft.expressions.NgramJoinExpr]]; the composed
    * [[ngramsComposed]] form below is its executable spec — parity
    * in ExpressionSpec). Empty result for docs shorter than n, and
    * for a null input (the composed `when` guard's behavior).
    */
  def ngrams(tokens: Column, n: Int): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge._
    coalesce(
      column(graft.expressions.NgramJoinExpr(expression(tokens), n)),
      array().cast("array<string>"))
  }

  /** The composed Catalyst-HOF reference form of [[ngrams]]: slide a
    * window via `transform(sequence(...))`, join with `concat_ws`.
    * Kept as the kernel's executable spec; it re-reads its input n×
    * per gram, so production call sites use the kernel.
    */
  def ngramsComposed(tokens: Column, n: Int): Column = {
    val grams = transform(
      sequence(lit(0), size(tokens) - n),
      i => concat_ws(" ", (1 to n).map(j => element_at(tokens, i + j)): _*))
    when(size(tokens) >= n, grams)
      .otherwise(array().cast("array<string>"))
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

  private def markerHits(tokens: Column, markers: Seq[String]): Column =
    size(filter(tokens, t => array_contains(array(markers.map(lit): _*), t)))

  /** Language-ID over a token array: argmax of marker-word hits with
    * deterministic priority-order tie-break; "und" (undetermined) when
    * no marker fires. Native one-sweep kernel
    * ([[graft.expressions.LangIdExpr]]: one hash probe per token into
    * a marker→language-bitmask map); [[langIdComposed]] below is its
    * executable spec.
    */
  def langId(tokens: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge._
    column(graft.expressions.LangIdExpr(expression(tokens), LangMarkers))
  }

  /** The composed reference form of [[langId]] — one interpreted
    * `filter` lambda per language per row, each running O(|markers|)
    * `array_contains` per token. Kept as the kernel's executable spec
    * (parity in ExpressionSpec).
    */
  def langIdComposed(tokens: Column): Column =
    // let-bind the token array AND the per-language hit counts:
    // naively, `best` embeds every markerHits tree and each tie-break
    // clause embeds `best` again, so Catalyst inlines ~24 marker
    // passes (each re-running an unbound `tokens` expression — the
    // regex split, at t04's call site) per row. Bound, it is one
    // tokens eval + exactly 4 marker passes (sf10: 190 → ~2 s).
    graft.expressions.Bind.once(tokens) { toks =>
      graft.expressions.Bind.once(
        array(LangMarkers.map { case (_, ms) => markerHits(toks, ms) }: _*)
      ) { hits =>
        val best = array_max(hits)
        // h === best implies h > 0 ⇔ best > 0: same verdict as the
        // original per-clause `h > 0` guard
        LangMarkers.zipWithIndex.foldRight(lit("und")) {
          case (((l, _), i), els) =>
            when(element_at(hits, i + 1) === best && best > 0, lit(l))
              .otherwise(els)
        } // foldRight → first lang in priority order wins ties
      }
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

  /** Mean token length (integer sums, exact; rounded once). */
  def meanTokenLen(tokens: Column): Column =
    when(size(tokens) > 0,
      round(aggregate(tokens, lit(0L), (acc, t) => acc + length(t))
        .cast("double") / size(tokens).cast("double"), 6))
      .otherwise(lit(0.0))

  /** Ratio of stop-words among tokens (high ⇒ natural prose). */
  def stopwordRatio(tokens: Column): Column =
    when(size(tokens) > 0,
      round(size(filter(tokens, t =>
        array_contains(array(TextOps.EnglishStopwords.map(lit): _*), t)))
        .cast("double") / size(tokens).cast("double"), 6))
      .otherwise(lit(0.0))

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

  /** The composed reference form of [[topTokenFraction]] — per
    * distinct token, a full-array `filter` count (O(n·distinct)
    * interpreted lambdas per doc). Kept as the kernel's executable
    * spec (parity in ExpressionSpec).
    */
  def topTokenFractionComposed(tokens: Column): Column =
    when(size(tokens) > 0,
      array_max(transform(array_distinct(tokens),
        w => size(filter(tokens, t => t === w))))
        .cast("double") / size(tokens))
      .otherwise(lit(0.0))

  /** Duplicate-n-gram fraction: 1 − distinct/total over word n-grams
    * — high values flag internally repetitive documents. Per-row, no
    * shuffle. Takes the *bound* gram array (from [[ngrams]]) so the
    * gram assembly runs once per row, not once per reference. */
  def dupGramFraction(grams: Column): Column =
    when(size(grams) > 0,
      lit(1.0) - size(array_distinct(grams)).cast("double") / size(grams))
      .otherwise(lit(0.0))

  /** Multiplicities of an array's values as sorted-run lengths:
    * `array_sort` groups equal values into adjacent runs, run starts
    * are boundary positions, lengths are consecutive-start
    * differences (an n+1 sentinel closes the last run). O(n log n) +
    * two linear passes vs the naive O(n·distinct)
    * count-per-distinct-value scan; the sort and the start list are
    * let-bound ([[graft.expressions.Bind]]) so Catalyst cannot inline
    * them into per-element re-evaluation. Output order = value-sorted
    * — deterministic, so float folds over it are reproducible
    * cross-engine (t19's Shannon term).
    */
  def sortedRunLengths(arr: Column): Column = {
    import graft.expressions.Bind
    when(size(arr) === 0, array().cast("array<bigint>")).otherwise(
      Bind.once(array_sort(arr)) { st =>
        Bind.once(concat(filter(transform(st, (x, i) =>
            when(i === lit(0) ||
              element_at(st, greatest(i, lit(1))) =!= x,
              (i + 1).cast("long"))),
          e => e.isNotNull), array(size(st).cast("long") + 1))) { starts =>
          transform(sequence(lit(1), size(starts) - 1),
            j => element_at(starts, j + 1) - element_at(starts, j))
        }
      })
  }

  /** Whole-document content fingerprint (exact-dedup key). */
  def fingerprint(text: Column): Column = md5(text)

  /** Min-shingle fingerprint: min over md5(3-gram) — a 1-hash MinHash;
    * equal fingerprints ⇒ high shingle overlap candidate. */
  def minShingleFingerprint(tokens: Column, n: Int = 3): Column =
    array_min(transform(ngrams(tokens, n), g => md5(g)))
}
