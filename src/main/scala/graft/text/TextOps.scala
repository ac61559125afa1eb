package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-cleanup operators (SURVEY.md §2.8 F1–F5) as pure `Column`
  * functions — everything stays inside whole-stage codegen; no UDFs.
  *
  * Semantics mirror the reference's `word_tokenizer`
  * (`LogisticRegression.py:25-33`, `RDD_logisticregression.py:44-57`):
  * lowercase → strip URLs/@mentions → strip non-letters → lstrip →
  * whitespace tokenize → stop-word removal.
  */
object TextOps {

  /** `(?:\@|https?\://)\S+` from `LogisticRegression.py:30` — strips
    * @mentions and URLs. Java regex; `\@`/`\:` are plain `@`/`:`.
    */
  val UrlMentionRe = "(?:@|https?://)\\S+"

  /** F1 — reference `word_tokenizer` string cleanup
    * (`LogisticRegression.py:25-33`). */
  def clean(c: Column): Column =
    ltrim(regexp_replace(
      regexp_replace(lower(c), UrlMentionRe, ""),
      "[^a-zA-Z]", " "))

  /** Whitespace tokenization, dropping empty tokens (what both
    * `nltk.word_tokenize` on letters-only text and `ml.Tokenizer`
    * produce on the cleaned string) — the native one-scan kernel
    * [[graft.expressions.WhitespaceTokenizeExpr]]; the composed form
    * below is its executable spec (parity in ExpressionSpec).
    */
  def tokenize(c: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge._
    column(graft.expressions.WhitespaceTokenizeExpr(expression(c)))
  }

  /** F3/F6-adjacent — per-row stop-word removal preserving order and
    * duplicates (unlike `array_except`, which dedups — the reference's
    * Python `filter` keeps duplicates: `LogisticRegression.py:35-39`).
    * Native one-sweep kernel ([[graft.expressions.StopwordRemoveExpr]],
    * one hash probe per token); the composed form below is its
    * executable spec.
    */
  def removeStopwords(tokens: Column, stops: Seq[String]): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge._
    column(graft.expressions.StopwordRemoveExpr(expression(tokens), stops))
  }

  /** Number of blocklist entries occurring as SUBSTRINGS of `text` —
    * one Aho–Corasick sweep regardless of list size (native kernel,
    * [[graft.expressions.BlocklistHits]]); each entry counts at most
    * once. The curation-gate primitive (C4-style bad-words filter,
    * contamination phrase screens).
    */
  def blocklistHits(text: Column, patterns: Seq[String]): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge._
    column(graft.expressions.BlocklistHits(expression(text), patterns))
  }

  /** Full cleanup chain of the RDD stack (`RDD_logisticregression.py:
    * 44-57`): clean → (ascii fold: identity here) → whitespace
    * tokenize → combined NLTK + custom stop-list → noun lemmatize.
    * Stop-word removal happens on the *raw* token, lemmatization after
    * — same order as the reference's list comprehension (line 55).
    */
  def rddTokens(text: Column): Column =
    Lemmatizer.lemmatizeAll(
      removeStopwords(tokenize(clean(text)),
        (EnglishStopwords ++ ExtraStopwordsRdd).distinct))

  /** Extra stop-list of the ML stack (`LogisticRegression.py:37`). */
  val ExtraStopwordsMl: Seq[String] =
    Seq("m", "lol", "haha", "s", "ll", "ve", "tweet", "tweeter", "blog")

  /** Extra stop-list of the RDD stack (`RDD_logisticregression.py:39`). */
  val ExtraStopwordsRdd: Seq[String] = Seq(
    "may", "u", "would", "also", "th", "one", "na", "gt", "w", "two",
    "us", "mh", "via", "to", "rt", "pm", "due", "many", "much",
    "however", "since", "although", "often", "m", "s", "ll", "ve",
    "tweet", "tweeter", "blog")

  /** NLTK's English stop-word list (public, nltk_data `corpora/
    * stopwords/english`), used by `RDD_logisticregression.py:40`.
    * Apostrophe forms can never appear post-cleanup (non-letters were
    * already replaced) but are kept for standalone use.
    */
  val EnglishStopwords: Seq[String] = Seq(
    "i", "me", "my", "myself", "we", "our", "ours", "ourselves",
    "you", "you're", "you've", "you'll", "you'd", "your", "yours",
    "yourself", "yourselves", "he", "him", "his", "himself", "she",
    "she's", "her", "hers", "herself", "it", "it's", "its", "itself",
    "they", "them", "their", "theirs", "themselves", "what", "which",
    "who", "whom", "this", "that", "that'll", "these", "those", "am",
    "is", "are", "was", "were", "be", "been", "being", "have", "has",
    "had", "having", "do", "does", "did", "doing", "a", "an", "the",
    "and", "but", "if", "or", "because", "as", "until", "while", "of",
    "at", "by", "for", "with", "about", "against", "between", "into",
    "through", "during", "before", "after", "above", "below", "to",
    "from", "up", "down", "in", "out", "on", "off", "over", "under",
    "again", "further", "then", "once", "here", "there", "when",
    "where", "why", "how", "all", "any", "both", "each", "few",
    "more", "most", "other", "some", "such", "no", "nor", "not",
    "only", "own", "same", "so", "than", "too", "very", "s", "t",
    "can", "will", "just", "don", "don't", "should", "should've",
    "now", "d", "ll", "m", "o", "re", "ve", "y", "ain", "aren",
    "aren't", "couldn", "couldn't", "didn", "didn't", "doesn",
    "doesn't", "hadn", "hadn't", "hasn", "hasn't", "haven", "haven't",
    "isn", "isn't", "ma", "mightn", "mightn't", "mustn", "mustn't",
    "needn", "needn't", "shan", "shan't", "shouldn", "shouldn't",
    "wasn", "wasn't", "weren", "weren't", "won", "won't", "wouldn",
    "wouldn't")
}
