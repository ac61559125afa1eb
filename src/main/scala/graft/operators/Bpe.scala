package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.LocalFinish

/** Distributed byte-pair-encoding (BPE) tokenizer training and
  * encoding — the subword-tokenizer workload of a training-data
  * pipeline (Sennrich et al. 2016, "Neural Machine Translation of
  * Rare Words with Subword Units"; the reference's NLP scope stops at
  * word tokens, `utils/prep_ml.py:8-16`, so this is an engine-added
  * capability like dedup/similarity).
  *
  * Scale shape, in execution order:
  *  - The corpus is scanned ONCE, into the distinct-word frequency
  *    table ([[vocab]]) — the classic BPE reduction: pair statistics
  *    are word-internal, so everything after this aggregate runs on
  *    the vocabulary, orders of magnitude smaller than the corpus.
  *  - Each merge iteration is one pair-count shuffle over the vocab
  *    plus a 1-row TakeOrderedAndProject argmax collected to the
  *    driver. Driver state per iteration is a 2-string merge rule —
  *    the same bounded-collect contract as the gradient-descent
  *    trainers' coefficient vector, not data.
  *  - The iterated vocab frame is lineage-truncated with
  *    `localCheckpoint` every `checkpointEvery` rounds (the d06/d09
  *    connected-components discipline), so a production merge count
  *    (30k+) cannot build an unbounded plan or replay the whole
  *    replace chain per iteration.
  *  - Encoding ([[encodeKernel]]) applies the learned rules in-row
  *    through one native expression — stateless, codegen'd, zero
  *    shuffle: the 100 TB path. Its executable spec, the chain of
  *    non-regex `replace` calls (`BpeComposed.encode` in the specs),
  *    is the form the DuckDB oracle mirrors.
  *
  * Merge semantics: symbols are stored boundary-marked — "cat" ⇒
  * `#c##a##t#` — so the merge of (l, r) is the plain string replace
  * `#l##r#` → `#lr#`. Both Spark and DuckDB apply `replace`
  * leftmost-non-overlapping, which is exactly greedy left-to-right
  * BPE merge application ("a a a" merges to ["aa", "a"]), and the
  * word-boundary `"# #"` can never match an intra-word `##` pattern,
  * so merges cannot cross words.
  *
  * CALLER CONTRACT: input tokens must not contain the `#` marker —
  * a `#` inside a token would collide with symbol boundaries and
  * silently corrupt merge application and piece counts. `tokenize`
  * alone does NOT guarantee this (it only splits on whitespace);
  * run `TextOps.clean` first (strips all non-letters — what
  * [[graft.queries.BpeQueries]] does) or pre-filter the marker.
  * [[vocab]] enforces the contract fail-loud at vocabulary scale
  * (one distinct-word check, not a corpus scan), which also covers
  * training end-to-end; [[encodeKernel]] on an unvetted corpus with
  * externally-supplied rules trusts the caller.
  */
object Bpe {

  /** One learned merge rule; `rank` is the 1-based merge order. */
  final case class Merge(rank: Int, lhs: String, rhs: String, freq: Long)

  private val Sep = "#"

  /** word → boundary-marked symbol string: "cat" ⇒ "#c##a##t#". */
  def mark(word: Column): Column =
    concat(lit(Sep), array_join(split(word, ""), Sep + Sep), lit(Sep))

  /** marked symbol string → symbol array: "#c##at#" ⇒ [c, at]. */
  def symbols(marked: Column): Column =
    split(trim(marked, Sep), Sep + Sep)

  /** Corpus → (marked, freq) word-frequency table — the single
    * corpus-sized shuffle of training. Fail-loud marker guard: every
    * distinct corpus word flows through here, so one vocab-sized
    * `raise_error` check (post-aggregate — cheap) catches a
    * contract-violating `#` token anywhere in the corpus before it
    * can corrupt a merge.
    */
  def vocab(docs: DataFrame, tokens: Column): DataFrame =
    docs.select(explode(tokens).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .select(
        when(contains(col("word"), lit(Sep)), raise_error(concat(
            lit("Bpe: token contains the '" + Sep + "' boundary marker: "),
            col("word"),
            lit(" — clean the corpus first (see Bpe caller contract)"))))
          .otherwise(mark(col("word"))).as("marked"),
        col("freq"))

  private[graft] def applyMerge(marked: Column, lhs: String,
                                rhs: String): Column =
    replace(marked,
      lit(Sep + lhs + Sep + Sep + rhs + Sep),
      lit(Sep + lhs + rhs + Sep))

  /** Unsigned-byte UTF-8 comparison — the binary order Spark's
    * UTF8String (and DuckDB's VARCHAR compare) sort strings by, used
    * for the local trainer's tie-break so it matches the distributed
    * `orderBy(lhs, rhs)` byte-for-byte even off-ASCII.
    */
  private def utf8Lt(a: String, b: String): Boolean = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    val n = math.min(x.length, y.length)
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c < 0
      i += 1
    }
    x.length < y.length
  }

  /** Driver-side merge loop over a collected (marked, freq) vocab —
    * the bounded local finish of [[trainMerges]]. Exactly the
    * distributed recurrence: adjacent-symbol pair counts are Long
    * sums (order-independent), argmax ties break (pf desc, lhs asc,
    * rhs asc) in UTF-8 binary order, and `String.replace` is the same
    * leftmost-non-overlapping greedy application as the SQL
    * `replace`. Parity with the distributed path is spec'd in
    * BpeSpec.
    */
  private[operators] def trainMergesLocal(vocabRows: Array[(String, Long)],
      numMerges: Int): Seq[Merge] = {
    var words = vocabRows
    val out = Seq.newBuilder[Merge]
    var k = 1
    var exhausted = false
    while (k <= numMerges && !exhausted) {
      val pf = scala.collection.mutable.HashMap.empty[(String, String), Long]
      words.foreach { case (m, f) =>
        // symbols(): trim the single boundary markers, split on "##"
        val syms = m.substring(1, m.length - 1).split("##", -1)
        var i = 0
        while (i < syms.length - 1) {
          val key = (syms(i), syms(i + 1))
          pf.update(key, pf.getOrElse(key, 0L) + f)
          i += 1
        }
      }
      if (pf.isEmpty) exhausted = true
      else {
        var best: ((String, String), Long) = null
        pf.foreach { case (key, c) =>
          if (best == null || c > best._2 ||
            (c == best._2 && (utf8Lt(key._1, best._1._1) ||
              (key._1 == best._1._1 && utf8Lt(key._2, best._1._2)))))
            best = (key, c)
        }
        val ((l, r), c) = best
        out += Merge(k, l, r, c)
        val pat = Sep + l + Sep + Sep + r + Sep
        val rep = Sep + l + r + Sep
        words = words.map { case (m, f) => (m.replace(pat, rep), f) }
        k += 1
      }
    }
    out.result()
  }

  /** Driver heap of the local finish's collected vocabulary, estimated
    * per row as 160 B of objects plus 2 B per char: the collected
    * `Row` (24 B), its value array (24 B), the word's `String` and its
    * array header (40 B) and a boxed count (16 B), then the
    * `(String, Long)` tuple (24 B) with its own boxed count (16 B) and
    * a slot in each array (8 B) — 152 B, rounded up.
    */
  private[graft] def localBytes(rows: Long, chars: Double): Double =
    rows.toDouble * 160.0 + 2.0 * chars

  /** Learn `numMerges` merge rules over `docs`. Ties in pair
    * frequency break by (lhs, rhs) ascending — deterministic across
    * partitionings and engines. Stops early if the vocabulary runs
    * out of adjacent pairs (single-symbol words only).
    *
    * Bounded local finish ([[graft.core.LocalFinish]]): pair
    * statistics are word-internal, so after the one corpus-sized
    * shuffle the loop state is the VOCABULARY — rows, the driver heap
    * they take once collected ([[localBytes]]), and `numMerges`
    * rounds of work, all from one aggregate over the checkpointed
    * vocab. The local loop ([[trainMergesLocal]]) is the same integer
    * recurrence with the same tie order.
    */
  def trainMerges(docs: DataFrame, tokens: Column, numMerges: Int,
                  checkpointEvery: Int = 16,
                  localFinishRows: Long = LocalFinish.MaxRows): Seq[Merge] = {
    require(numMerges >= 1, s"numMerges must be >= 1, got $numMerges")
    require(checkpointEvery >= 1,
      s"checkpointEvery must be >= 1, got $checkpointEvery")
    // eager localCheckpoint: materializes the corpus aggregate so the
    // per-iteration pair counts replay replaces, never the corpus scan.
    // `lastCp` tracks the one live snapshot: every re-checkpoint frees
    // its predecessor (Checkpoints.roll) and the final one is freed on
    // exit — training returns only driver-side rules, so it pins zero
    // executor storage after it returns.
    var v = vocab(docs, tokens).localCheckpoint()
    // a UTF-8 byte count bounds a string's UTF-16 chars from above
    val stats = v.agg(count(lit(1)),
        sum(octet_length(col("marked")).cast("double")))
      .collect()(0)
    val nRows = stats.getLong(0)
    val nChars = if (stats.isNullAt(1)) 0.0 else stats.getDouble(1)
    if (LocalFinish.fits(nRows, localBytes(nRows, nChars), numMerges,
        localFinishRows)) {
      val rows = v.collect().map(r => (r.getString(0), r.getLong(1)))
      graft.core.Checkpoints.release(v)
      return trainMergesLocal(rows, numMerges)
    }
    var lastCp = v
    val out = Seq.newBuilder[Merge]
    var k = 1
    var exhausted = false
    while (k <= numMerges && !exhausted) {
      val best = v
        .select(col("freq"),
          explode(Ngrams.ngramsInRow(symbols(col("marked")), 2))
            .as("gram"))
        .select(col("freq"),
          split(col("gram"), " ").getItem(0).as("lhs"),
          split(col("gram"), " ").getItem(1).as("rhs"))
        .groupBy(col("lhs"), col("rhs"))
        .agg(sum(col("freq")).as("pf"))
        .orderBy(col("pf").desc, col("lhs").asc, col("rhs").asc)
        .limit(1)
        .collect()
      if (best.isEmpty) exhausted = true
      else {
        val (l, r, pf) =
          (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        out += Merge(k, l, r, pf)
        v = v.withColumn("marked", applyMerge(col("marked"), l, r))
        if (k % checkpointEvery == 0) {
          v = graft.core.Checkpoints.roll(v, lastCp)
          lastCp = v
        }
        k += 1
      }
    }
    graft.core.Checkpoints.release(lastCp)
    out.result()
  }

  /** Encode a token array with a learned rule list through the native
    * kernel ([[graft.expressions.BpeEncodeExpr]]): every word is
    * boundary-marked, words join on a single space (which no merge
    * pattern can span), and the rules apply in rank order. Returns the
    * encoded marked string; use [[pieceCount]] for the subword count.
    * Output is identical to the chained-replace executable spec
    * (`BpeComposed.encode` in the specs, random-corpus parity in
    * BpeSpec), but all rules apply in one symbol-array pass per word
    * with O(1) presence-count skipping — one string build instead of
    * one corpus copy per rule, and NO plan-depth ceiling: a
    * production 30k-rule tokenizer encodes in one expression.
    */
  def encodeKernel(tokens: Column, merges: Seq[Merge]): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge._
    column(graft.expressions.BpeEncodeExpr(expression(tokens),
      merges.sortBy(_.rank).map(m => (m.lhs, m.rhs))))
  }

  /** Inverse of the encode marking — drop piece separators, then word
    * boundaries: `#a##b# #c#` → `ab c`. Total and lossless because
    * the fail-loud marker guard ([[mark]]) bans `#` in token content,
    * so every `#` in an encoded string is structural. The bpe04
    * round-trip gate asserts decode∘encode = identity corpus-wide —
    * the property that makes the encoded column a safe storage
    * format.
    */
  def decode(encoded: Column): Column =
    replace(replace(encoded, lit(Sep + Sep), lit("")),
      lit(Sep), lit(""))

  /** Subword count of an [[encodeKernel]] result: every `##`
    * separates two pieces of one word and every word is one piece plus its `##`
    * count, so pieces = n_tokens + occurrences of `##` (an empty
    * document yields 0 + 0). Counted by length delta — plain string
    * ops, no regex, no split-array allocation.
    */
  def pieceCount(tokens: Column, encoded: Column): Column =
    (size(tokens) +
      ((length(encoded) -
        length(replace(encoded, lit(Sep + Sep), lit("")))) / 2)
        .cast("int")).as("n_pieces")
}
