package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus n-gram statistics and hot-span removal — the boilerplate
  * pass of a training-data pipeline (the span-level counterpart to
  * document-level dedup; cf. Lee et al. 2022, "Deduplicating Training
  * Data Makes Language Models Better", and the terms-of-service /
  * navigation-chrome strips in C4/RefinedWeb).
  *
  * Scale shape: n-grams are built IN-ROW (`transform` over a
  * `sequence` of start positions — no positional self-join, no token
  * explosion until the aggregate needs rows), so the only shuffles
  * are (a) the gram-key aggregate for the profile and (b) the
  * hot-occurrence rows — a tiny subset — flowing back to their
  * documents. The document table itself is never grouped or
  * re-assembled: the final strip is a per-row higher-order filter
  * against that document's covered-position set.
  */
object Ngrams {

  /** All word n-grams of a token array, in order, as space-joined
    * strings — [[graft.text.Analysis.ngrams]] (in-row, codegen'd;
    * docs shorter than `n` yield an empty array), re-exported here so
    * the corpus-level operators read self-contained.
    */
  def ngramsInRow(tokens: Column, n: Int): Column = {
    require(n >= 1, s"ngram n must be >= 1, got $n")
    graft.text.Analysis.ngrams(tokens, n)
  }

  /** Corpus n-gram profile: one row per distinct n-gram with its
    * document frequency and total occurrence count.
    *
    * The per-(doc, gram) count level is computed IN-ROW by the
    * [[graft.expressions.ValueCountsExpr]] histogram kernel, so the
    * only rows that ever exist (and the only shuffle) are per-doc
    * DISTINCT grams flowing into one gram-key hash aggregate with
    * map-side partials — the naive
    * `explode → groupBy(doc, gram) → groupBy(gram)` chain (its
    * executable spec, `NgramsComposed.ngramProfileComposed` in the
    * specs) shuffles the full corpus-sized gram explosion first.
    */
  def ngramProfile(docs: DataFrame, idCol: String, tokens: Column,
                   n: Int): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge._
    // tokens bound to its own projection first: the gram builder reads
    // its input array per gram, and Catalyst inlines a raw Column at
    // every reference (the Dedup.shingles lesson).
    docs.select(col(idCol).as("doc_id"), tokens.as("__toks"))
      .select(explode(column(graft.expressions.ValueCountsExpr(
        expression(ngramsInRow(col("__toks"), n))))).as("vc"))
      .groupBy(col("vc.value").as("gram"))
      .agg(count(lit(1)).as("df"), sum(col("vc.cnt")).as("occurrences"))
  }

  /** Top-K corpus n-grams by document frequency (ties → gram asc) —
    * the profile view that picks [[stripHotNgrams]]'s hot set.
    * Global top-K: TakeOrderedAndProject over the (small) gram
    * aggregate, never a global sort of the corpus.
    */
  def topNgrams(docs: DataFrame, idCol: String, tokens: Column,
                n: Int, k: Int): DataFrame =
    ngramProfile(docs, idCol, tokens, n)
      .orderBy(col("df").desc, col("gram").asc)
      .limit(k)
      .select(col("gram"), col("df"), col("occurrences"))

  /** Strip every occurrence of the corpus' `topK`
    * most-document-frequent n-grams (the "boilerplate" set) from
    * every document: any token position covered by a hot n-gram
    * occurrence is dropped, survivors re-join in order. Returns
    * `(doc_id, clean_text, n_removed)` for every input document
    * (documents untouched by hot grams pass through with
    * n_removed = 0).
    *
    * Top-K-by-df is the threshold semantics that stays meaningful at
    * any corpus size: the hot set is bounded by construction
    * (df-threshold variants explode or empty out as the corpus
    * grows), yet nothing here collects it to the driver — the hot
    * grams meet the occurrence rows in a join (Spark broadcasts the
    * ≤K-row side), covered positions aggregate per document (rows ∝
    * hot occurrences only, not corpus size), and the per-document
    * covered set joins back to the base table where an in-row filter
    * does the strip. The corpus is scanned twice and never grouped,
    * exploded-and-reassembled, or globally sorted.
    */
  def stripHotNgrams(docs: DataFrame, idCol: String, tokens: Column,
                     n: Int, topK: Int): DataFrame = {
    val hot = topNgrams(docs, idCol, tokens, n, topK)
      .select(col("gram"))
    val occ = docs.select(col(idCol).as("doc_id"), tokens.as("__toks"))
      .select(col("doc_id"),
        posexplode(ngramsInRow(col("__toks"), n)).as(Seq("pos", "gram")))
    val covered = occ.join(hot, Seq("gram"))
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + lit(n - 1)))
          .as("cpos"))
      .groupBy(col("doc_id"))
      .agg(collect_set(col("cpos")).as("covered"))
    docs.select(col(idCol).as("doc_id"), tokens.as("toks"))
      .join(covered, Seq("doc_id"), "left")
      .select(col("doc_id"),
        array_join(filter(col("toks"),
            (_, i) => !array_contains(
              coalesce(col("covered"), array().cast("array<int>")), i)),
          " ").as("clean_text"),
        coalesce(size(col("covered")), lit(0)).as("n_removed"))
  }
}
