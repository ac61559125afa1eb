package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.operators.Sketches
import graft.text.{Analysis, TextOps}

/** Text-analysis operator pack over the `documents` table — cleanup
  * (F1–F5), token stats, language-ID, quality scoring, fingerprinting
  * (SURVEY.md §2.8 + the training-data-pipeline extensions). Every
  * query has a DuckDB oracle; stop-lists and marker sets are injected
  * into the SQL from the same Scala constants so the two sides can
  * never drift.
  */
object TextQueries {
  type Q = (SparkSession, String) => DataFrame

  private def sqlList(xs: Seq[String]): String =
    xs.map(x => "'" + x.replace("'", "''") + "'").mkString("[", ", ", "]")

  /** DuckDB token expr for already-clean text (split + drop empties). */
  private val tokSql = "list_filter(string_split(text, ' '), w -> len(w) > 0)"

  val queries: Map[String, Q] = Map(
    // F1/F4/F5 — cleanup chain + char/token counts, all codegen'd.
    "t01_clean_counts" -> ((s, d) => {
      import s.implicits._
      Tables.documents(s, d).select(
        $"doc_id",
        TextOps.clean($"text").as("clean"),
        length(TextOps.clean($"text")).as("n_chars"),
        size(TextOps.tokenize(TextOps.clean($"text"))).as("n_tokens"))
    }),

    // F3/P6 — stop-word removal via higher-order filter (no UDF).
    "t02_stopword_filter" -> ((s, d) => {
      import s.implicits._
      // token array bound once (the Ngrams.ngramProfile lesson:
      // unbound, the regex split re-runs per reference)
      Tables.documents(s, d)
        .select($"doc_id", TextOps.tokenize($"text").as("__toks"))
        .select(
          $"doc_id",
          size($"__toks").as("n_tokens"),
          size(TextOps.removeStopwords($"__toks",
            TextOps.EnglishStopwords)).as("n_kept"))
    }),

    // A1/A2/T1 — explode → word count → deterministic top-20.
    "t03_wordcount_top20" -> ((s, d) => {
      import s.implicits._
      Tables.documents(s, d)
        .select(explode(TextOps.tokenize($"text")).as("word"))
        .groupBy($"word").agg(count(lit(1)).as("n"))
        .orderBy($"n".desc, $"word".asc)
        .limit(20)
    }),

    // Language-ID: marker-word argmax with fixed-priority tie-break.
    "t04_langid" -> ((s, d) => {
      import s.implicits._
      // langId let-binds internally; binding the array here too keeps
      // the split out of the projection entirely
      Tables.documents(s, d)
        .select($"doc_id", TextOps.tokenize($"text").as("__toks"))
        .select($"doc_id", Analysis.langId($"__toks").as("lang_pred"))
    }),

    // Quality scoring: exact integer ratios rounded once. The four
    // token statistics come from ONE native sweep (TokenStatsExpr —
    // the composed per-stat helpers are its executable spec); the
    // ratio columns are scalar arithmetic over the bound struct.
    "t05_quality" -> ((s, d) => {
      import s.implicits._
      Tables.documents(s, d)
        .select($"doc_id", $"text", TextOps.tokenize($"text").as("__toks"))
        .select($"doc_id", length($"text").as("n_chars"),
          Analysis.tokenStats($"__toks").as("__st"))
        .select(
          $"doc_id",
          $"n_chars",
          $"__st.n_tokens".cast("int").as("n_tokens"),
          $"__st.n_distinct".cast("int").as("n_distinct"),
          when($"__st.n_tokens" > 0,
            round($"__st.n_distinct".cast("double") /
              $"__st.n_tokens".cast("double"), 6)).otherwise(lit(0.0))
            .as("ttr"),
          when($"__st.n_tokens" > 0,
            round($"__st.sum_len".cast("double") /
              $"__st.n_tokens".cast("double"), 6)).otherwise(lit(0.0))
            .as("mean_len"),
          when($"__st.n_tokens" > 0,
            round($"__st.n_stop".cast("double") /
              $"__st.n_tokens".cast("double"), 6)).otherwise(lit(0.0))
            .as("stop_ratio"))
    }),

    // Document fingerprinting: exact md5 + min-shingle (1-hash MinHash).
    "t06_fingerprint" -> ((s, d) => {
      import s.implicits._
      // the 3-gram builder reads its input array 3× per gram via
      // element_at; unbound, each read re-ran the regex split —
      // ~3·|grams| splits per document (sf10: 1320 s → ~25 s bound)
      Tables.documents(s, d)
        .select($"doc_id", $"text", TextOps.tokenize($"text").as("__toks"))
        .select(
          $"doc_id",
          Analysis.fingerprint($"text").as("fp"),
          Analysis.minShingleFingerprint($"__toks").as("min_shingle_fp"))
    }),

    // Token counting two ways: whitespace words and a BPE-ish
    // pre-tokenizer regex (GPT-2-style contraction/letter-run/
    // digit-run/punct-run classes) — the cheap proxy for LLM token
    // budgeting at corpus scale. Pure regexp, codegen'd.
    "t07_token_counts" -> ((s, d) => {
      import s.implicits._
      Tables.documents(s, d).select(
        $"doc_id",
        size(TextOps.tokenize($"text")).as("ws_tokens"),
        size(regexp_extract_all($"text", lit(Analysis.BpeIshRe), lit(0)))
          .as("bpe_tokens"))
    }),

    // PII redaction over the real tweet corpus (URLs/emails/handles/
    // long digit runs → placeholder tokens) — the scrub step of a
    // training-data pipeline. Pure regexp_replace chain, codegen'd,
    // scales with the scan; order matters (URL before EMAIL before
    // USER so 'http://x.com/@a' and 'a@b.com' aren't half-redacted).
    // Patterns are Java/RE2-portable: ASCII classes only, no
    // lookaround (corpus verified free of \x0B-class chars where the
    // engines' \S definitions differ).
    "t08_pii_redact" -> ((s, _) => {
      import s.implicits._
      graft.core.Csv.tweets(s, graft.core.Csv.TrainCsv).select(
        $"id",
        regexp_replace(
          regexp_replace(
            regexp_replace(
              regexp_replace($"text", "https?://\\S+", "<URL>"),
              "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
            "@\\w+", "<USER>"),
          "\\d{7,}", "<NUM>").as("redacted"))
    }),

    // Repetition quality signals (the Gopher-style filters): fraction
    // of tokens taken by the most frequent token, and the duplicate-
    // bigram fraction. Both in-row — token and gram arrays are bound
    // to their own projections first (each is multiply-referenced).
    "t09_repetition" -> ((s, d) => {
      import s.implicits._
      Tables.documents(s, d)
        .select($"doc_id", TextOps.tokenize($"text").as("__toks"))
        .select($"doc_id", $"__toks",
          Analysis.ngrams($"__toks", 2).as("__grams"))
        .select($"doc_id",
          Analysis.topTokenFraction($"__toks").as("top_token_frac"),
          Analysis.dupGramFraction($"__grams").as("dup_bigram_frac"))
    }),

    // Fixed-size strided token chunking — document → training-sequence
    // split (chunk 8, stride 6: tail-biased overlap of 2).
    "t10_chunks" -> ((s, d) =>
      graft.operators.Chunking.chunks(Tables.documents(s, d), "doc_id",
        TextOps.tokenize(col("text")), chunkSize = 8, stride = 6)),

    // Sequence packing: non-overlapping chunks concatenated per
    // source shard and cut into 64-token packs (pack manifest:
    // chunk + token counts per pack).
    "t11_pack" -> ((s, d) => {
      val ch = graft.operators.Chunking.chunks(Tables.documents(s, d),
        "doc_id", TextOps.tokenize(col("text")), chunkSize = 8,
        stride = 8, passthrough = Seq("source"))
      graft.operators.Chunking.pack(ch, "source", budget = 64)
    }),

    // Unigram-LM document scoring — the cheap stand-in for perplexity
    // filtering. Pass 1 estimates a top-V MLE model (one word-count
    // agg; V bounded, collected to the driver); pass 2 scores every
    // document purely in-row against the literal model map, OOV words
    // at a 0.5-count floor. V=20 < the corpus vocabulary, so the OOV
    // path is genuinely exercised.
    "t12_unigram_logprob" -> ((s, d) =>
      unigramScored(s, d).select(col("doc_id"), col("n_tokens"),
        col("avg_logprob"))),

    // CCNet-style per-language quality buckets (Wenzek et al., 2020):
    // each language's docs split into head/middle/tail thirds by the
    // t12 unigram-LM score (the cheap perplexity stand-in; higher =
    // more fluent). Tertile thresholds are exact interpolated
    // percentiles per language — the q23 verification baseline; the
    // bounded-memory 100 TB swap is approx_percentile, same plan
    // otherwise. Thresholds (|langs| rows) broadcast back; the corpus
    // is touched by one scan + one broadcast join, no corpus shuffle.
    "t17_ccnet_buckets" -> ((s, d) => {
      // persisted: read once for the thresholds and once for the
      // bucket join — the 20-term map-lookup scoring scan is the
      // expensive part at scale, don't run it twice. The result plan
      // references the pin, so it is freed by the harness sweep
      // between queries (registry entries are consumed exactly once);
      // library callers wanting scoped release wrap in
      // core.Leased(result, Seq(scored)).
      val scored = unigramScored(s, d).persist()
      val th = scored.groupBy(col("lang")).agg(
        round(expr(s"percentile(avg_logprob, ${1.0 / 3})"), 6)
          .as("t_lo"),
        round(expr(s"percentile(avg_logprob, ${2.0 / 3})"), 6)
          .as("t_hi"))
      scored.join(broadcast(th), Seq("lang"))
        .select(col("doc_id"), col("lang"), col("avg_logprob"),
          when(col("avg_logprob") >= col("t_hi"), "head")
            .when(col("avg_logprob") >= col("t_lo"), "middle")
            .otherwise("tail").as("bucket"))
    }),

    // Corpus n-gram profile: top-K trigrams by document frequency
    // (ties → gram asc) with total occurrence counts — the analysis
    // view that picks t14's hot set. Grams build in-row (no
    // positional self-join); one gram-key shuffle.
    "t13_ngram_topk" -> ((s, d) =>
      graft.operators.Ngrams.topNgrams(Tables.documents(s, d),
        "doc_id", TextOps.tokenize(col("text")), n = 3, k = NgramTopK)),

    // Boilerplate span removal: every occurrence of the corpus'
    // top-25 most-document-frequent bigrams is stripped from every
    // document (Lee et al. 2022-style span dedup). Corpus scanned
    // twice, never grouped or reassembled — the strip itself is an
    // in-row positional filter against each doc's covered set.
    "t14_boilerplate_strip" -> ((s, d) =>
      graft.operators.Ngrams.stripHotNgrams(Tables.documents(s, d),
        "doc_id", TextOps.tokenize(col("text")), n = 2, topK = HotBigrams)),

    // BM25 keyword retrieval: one stats pass (N, avgdl, per-term df)
    // broadcast back, in-row scoring, TakeOrderedAndProject top-k —
    // the corpus never sorts or shuffles. Terms pick one rare token
    // ('dup', high IDF) and two common ones so the ranking exercises
    // both the IDF and the length-normalization terms.
    "t15_bm25_topk" -> ((s, d) =>
      graft.operators.Bm25.topK(Tables.documents(s, d), "doc_id",
        TextOps.tokenize(col("text")), Bm25Terms, k = Bm25K)),

    // Heavy hitters via Misra–Gries candidates + exact verify: items
    // (tokens) with frequency > n/k, k = 64, EXACT counts — the
    // full-domain groupBy never happens. On this corpus's 31-word
    // vocabulary the sketch stage is trivially lossless (31 < k−1);
    // HeavyHittersSpec is where counter eviction and merge actually
    // bite (100k-item domain, planted hot keys).
    "t16_heavy_hitters" -> ((s, d) =>
      graft.operators.HeavyHitters.topFrequent(
        Tables.documents(s, d)
          .select(explode(TextOps.tokenize(col("text"))).as("tok")),
        "tok", k = HhK)),

    // Gopher-style quality-rule table (Rae et al. 2021, Table A1,
    // adapted to this corpus' single-line docs): per-doc rule flags +
    // keep verdict. Every statistic is an INTEGER count and every
    // threshold test is integer arithmetic (3n ≤ Σlen ≤ 10n instead
    // of 3 ≤ mean ≤ 10, 8·top ≤ n instead of top/n ≤ 0.125,
    // 20·dup ≤ g instead of dup/g ≤ 0.05) — bit-exact across engines,
    // so the verdict column hash-verifies with no float tolerance.
    // In-row, no shuffle; the token array binds ONCE via withColumn.
    "t18_gopher_rules" -> ((s, d) =>
      gopherRules(Tables.documents(s, d))),

    // Character-diversity quality signals, in-row: Simpson/Gini
    // impurity as an EXACT integer fraction (n² − Σc², n² — no float
    // anywhere, hash-exact by construction) plus Shannon entropy in
    // nats, folded in char-ascending order so both engines sum
    // identically (the only cross-engine wobble is ln itself, ≤1 ulp,
    // absorbed by the single end round to 6 dp — never per-term). Low
    // diversity flags mojibake/binary spill. Computed by the NATIVE
    // byte-histogram kernel (expressions/CharDiversityStats): the
    // composed split+sort HOF form allocates one string per char and
    // measured 15.7×/decade super-linear from GC pressure; the kernel
    // is one codegen'd 256-slot table pass (value parity spec'd in
    // ExpressionSpec).
    "t19_char_diversity" -> ((s, d) => {
      import org.apache.spark.sql.graftbridge.ColumnBridge._
      val st = column(graft.expressions.CharDiversityStats(
        expression(col("text"))))
      Tables.documents(s, d)
        .withColumn("__st", st)
        .select(col("doc_id"),
          col("__st")("n_total").as("n_chars_total"),
          col("__st")("n_distinct").as("n_chars_distinct"),
          (col("__st")("n_total") * col("__st")("n_total")
            - col("__st")("sum_sq")).as("gini_num"),
          (col("__st")("n_total") * col("__st")("n_total"))
            .as("gini_den"),
          round(col("__st")("shannon"), 6).as("shannon_nats"))
    }),

    // Bigram-LM fluency score — the conditional-probability step up
    // from t12's unigram MLE and the cheap stand-in for CCNet's
    // KenLM perplexity filter (Wenzek et al. 2020): a top-V MLE
    // bigram model P(w2|w1) = c(w1 w2) / c(w1 ·) fit on the corpus
    // (bounded ≤V-row driver collect behind the plan-literal
    // contract), every document scored in-row over its own bigram
    // stream. Two corpus scans (fit + score), one gram-key shuffle
    // for the fit; scoring is a broadcast-literal map lookup — no
    // join, no shuffle, so the score pass is the same 100 TB shape
    // as t12. Docs need >= 2 tokens to have a bigram stream.
    "t20_bigram_logprob" -> ((s, d) =>
      bigramScored(Tables.documents(s, d))),

    // Kneser–Ney-smoothed perplexity gate (the CCNet/KenLM step t12
    // and t20 build toward): interpolated KN with fixed discount
    // D=0.75 over the same bigram fit — the 100 TB shape is identical
    // to t20 (two corpus scans, one gram-key shuffle for the fit,
    // in-row broadcast-literal scoring; the three extra KN statistics
    // aggregate the vocab²-bounded count table, not the corpus).
    "t22_bigram_kn" -> ((s, d) =>
      bigramScoredKn(Tables.documents(s, d))),

    // Multi-pattern blocklist gate (C4-style bad-words / phrase
    // screen): how many blocklist entries occur as substrings of each
    // doc, and whether the doc is blocked. One Aho–Corasick text
    // sweep per row regardless of blocklist size (the automaton ships
    // with the plan, built once from the literal list) — the composed
    // per-pattern `contains` form re-scans the text |blocklist| times
    // and is kept as the kernel's executable spec. In-row, zero
    // shuffle: the 100 TB cost is exactly one corpus scan.
    "t21_blocklist_gate" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          TextOps.blocklistHits(col("text"), Blocklist).as("n_hits"))
        .withColumn("blocked", col("n_hits") > 0)),

    // Count-Min sketch face: build the CmsDepth×CmsWidth grid over
    // the token stream in ONE partial-aggregated pass
    // (operators/Sketches.scala — O(d·w) state per partition,
    // element-wise-sum merge, partition-order independent), then lay
    // the in-row point estimates beside the exact counts of the
    // top-20 tokens. Estimates ≥ exact always (one-sided CMS error);
    // the oracle recomputes grid cells AND estimates from scratch in
    // SQL, so the gate certifies the sketch's exact arithmetic, not
    // just its output shape. 100 TB: the exchange carries one 16 KB
    // grid per partition; probing never re-touches the corpus.
    "t23_countmin_est" -> ((s, d) => {
      import s.implicits._
      val toks = Tables.documents(s, d)
        .select(explode(TextOps.tokenize($"text")).as("word"))
      val cms = Sketches.countMin(toks, "word", CmsDepth, CmsWidth)
      val top = toks.groupBy($"word").agg(count(lit(1)).as("n"))
        .orderBy($"n".desc, $"word".asc).limit(20)
      top.crossJoin(cms)
        .select($"word", $"n",
          Sketches.cmsEstimate($"cms", $"word", CmsDepth, CmsWidth)
            .as("cms_est"))
    }),

    // t23 under the PRODUCTION hash profile (VERDICT r11 #5, the
    // d03→d05 discipline): same grid, same one-pass partial-agg
    // build, but cells from floorMod(fmix64(fnv1a64("r|token")),
    // width) — one multiply+xor per character instead of depth md5
    // digests per token (the ~3x constant SCALE.md names for t23).
    // The oracle rebuilds the SAME cells through FnvSql's HUGEINT
    // limb arithmetic, so the cheap profile is rows+schema+hash
    // verified exactly like the md5 one — estimates included.
    "t24_countmin_fast" -> ((s, d) => {
      import s.implicits._
      val toks = Tables.documents(s, d)
        .select(explode(TextOps.tokenize($"text")).as("word"))
      val cms = Sketches.countMinFast(toks, "word", CmsDepth, CmsWidth)
      val top = toks.groupBy($"word").agg(count(lit(1)).as("n"))
        .orderBy($"n".desc, $"word".asc).limit(20)
      top.crossJoin(cms)
        .select($"word", $"n",
          Sketches.cmsEstimateFast($"cms", $"word", CmsDepth, CmsWidth)
            .as("cms_est"))
    }),

    // LogLog distinct-token cardinality: the HLL mechanism with its
    // registers opened to the hash gate, the way t23 opened the CMS
    // grid. Register(b) = max over tokens in bucket b of
    // (1 + leading zeros of the 54-bit hash remainder) — max() is
    // order- AND duplicate-insensitive, so the sketch is mergeable,
    // partition-layout independent, and hash-verifiable cell by
    // cell; the bit-length comes from length(bin(w)) with identical
    // no-leading-zeros semantics in Spark and DuckDB. `ndv_exact`
    // per bucket is the verification baseline (its distinct-shuffle
    // is vocab-bounded); the 100 TB path is the register columns
    // alone — LogLogM longs of partial-agg state per partition, one
    // 64-row exchange, corpus never shuffled. Estimation from the
    // registers (harmonic mean) and its error bar are spec'd in
    // LogLogSpec, not hash-gated: the gate pins the REGISTERS.
    "t25_loglog_ndv" -> ((s, d) => {
      import s.implicits._
      Tables.documents(s, d)
        .select(explode(TextOps.tokenize($"text")).as("w"))
        .select(Sketches.logLog($"w", LogLogP).as("ll"))
        .select($"ll.bucket".as("bucket"), $"ll.wbits".as("wbits"),
          $"ll.rho".as("rho"))
        .groupBy($"bucket")
        .agg(max($"rho").as("register"),
          countDistinct($"wbits").as("ndv_exact"))
    }),

    // Corpus drift: per-source KL divergence from the whole-corpus
    // unigram distribution over the top-V vocabulary (0.5-add
    // smoothing so absent terms contribute) — the
    // which-source-moved-the-mix monitor a multi-corpus training
    // pipeline re-runs per snapshot. ONE corpus scan feeds a
    // (source × vocab-word) partial agg; vocabulary, per-source
    // totals, the corpus total, and the V×S scoring grid all derive
    // from that bounded relation with broadcast joins — the corpus
    // itself is never shuffled and never rescanned. Float
    // discipline: only the per-source SUM is rounded (6 dp, the t12
    // precedent); per-term probabilities mirror the oracle's
    // operation order exactly.
    "t26_unigram_drift" -> ((s, d) => {
      import s.implicits._
      val sw = Tables.documents(s, d)
        .select(col("source"), explode(TextOps.tokenize($"text")).as("w"))
        .groupBy($"source", $"w").agg(count(lit(1)).as("c"))
        .persist() // shared by the four bounded reads below, then freed
      // All four reads of sw happen EAGERLY while it is persisted —
      // the first materializes the cache (the single corpus scan),
      // the rest are cache hits — and each collects only a bounded
      // relation: V vocab rows, one row per source, one corpus
      // total, and the ≤ S×V in-vocab counts. sw is unpersisted
      // before returning, so no caller leaks the cache (ADVICE r13:
      // the old form deferred the unpersist to the harness sweep).
      // S is bounded by construction — the monitor's output is one
      // row per source, so a corpus with unbounded `source`
      // cardinality is the wrong input for this query, not a scale
      // path this plan must survive.
      val vocab = sw.groupBy($"w").agg(sum($"c").as("cn"))
        .orderBy($"cn".desc, $"w".asc).limit(DriftV)
        .as[(String, Long)].collect()
      val tots = sw.groupBy($"source").agg(sum($"c").as("tot"))
        .as[(String, Long)].collect()
      val tc = sw.agg(sum($"c")).head.getLong(0)
      val inVocab = sw.filter($"w".isin(vocab.map(_._1).toSeq: _*))
        .select($"source", $"w", $"c").as[(String, String, Long)]
        .collect().map { case (src, w, c) => (src, w) -> c }.toMap
      sw.unpersist(blocking = false)
      // The V×S scoring grid as a local relation; the KL arithmetic
      // below is UNCHANGED Catalyst expressions (same ops, same
      // order), so the float contract with the oracle is intact.
      val halfV = 0.5 * DriftV
      val grid = (for {
        (src, tot) <- tots.toSeq
        (w, cn) <- vocab.toSeq
      } yield (src, tot, cn, inVocab.getOrElse((src, w), 0L), tc))
        .toDF("source", "tot", "cn", "cnt", "tc")
      val ps = ($"cnt" + lit(0.5)) / ($"tot" + lit(halfV))
      val pc = ($"cn" + lit(0.5)) / ($"tc" + lit(halfV))
      grid.groupBy($"source", $"tot")
        .agg(round(sum(ps * log(ps / pc)), 6).as("kl"))
        .select($"source", $"tot".as("n_tokens"), $"kl")
    })
  )

  /** t26's vocabulary size — the smoothing denominator and grid
    * width; bounded like t12's UnigramV. */
  private val DriftV = 50

  /** t25's register count: m = 64 buckets (p = 6 bucket bits off the
    * 60-bit md5 slice; the remaining 54 bits feed the rank). Small
    * enough that every bucket is exercised at fixture scale. */
  private val LogLogP = 6
  private val LogLogM = 1 << LogLogP

  /** t23's grid shape: depth 4 (δ ≈ 2%), width 512 — deliberately
    * narrow at fixture scale so collisions actually occur and the
    * estimate-vs-exact gap is a real tested quantity, not all zeros. */
  private val CmsDepth = 4
  private val CmsWidth = 512

  /** Shared blocklist for t21 — mixed single tokens, multi-token
    * phrases, nested entries ("table" vs "table table") and a
    * guaranteed miss, exercising the automaton's fail/dict links on
    * fixture text. Injected verbatim into the DuckDB oracle so the
    * two sides cannot drift.
    */
  val Blocklist: Seq[String] = Seq(
    "table", "table table", "scan slow", "a a", "value table part",
    "merge batch", "spark", "spark a", "sort table window",
    "big vector", "window window", "quantum flux")

  /** t18 body, callable from specs on planted frames: per-doc integer
    * statistics + integer-arithmetic rule flags + keep verdict over a
    * (doc_id, text) frame. Statistics come from the single-pass
    * native kernel (expressions/GopherStatsExpr; the composed HOF
    * chain, `TextQueriesComposed.gopherStatsComposed` in the specs, is
    * its executable spec — parity in ExpressionSpec — and measured
    * 58.4 s at pseudo-sf10 vs the
    * kernel's one sweep).
    */
  def gopherRules(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge._
    val st = column(graft.expressions.GopherStatsExpr(
      expression(TextOps.tokenize(col("text"))),
      TextOps.EnglishStopwords))
    val stats = docs.select(col("doc_id"), st.as("__s"))
      .select(col("doc_id"),
        col("__s")("n_tokens").as("n_tokens"),
        col("__s")("sum_len").as("sum_len"),
        col("__s")("top_count").as("top_count"),
        col("__s")("n_stop_distinct").as("n_stop_distinct"),
        col("__s")("n_2grams").as("n_2grams"),
        col("__s")("n_dup_2grams").as("n_dup_2grams"))
    gopherFlags(stats)
  }

  /** Integer-arithmetic rule flags + keep verdict over a stats frame
    * (shared by the kernel and composed paths).
    */
  def gopherFlags(stats: DataFrame): DataFrame = {
    stats.select(col("*"),
      col("n_tokens").between(50L, 100000L).as("r_word_count"),
      (lit(3L) * col("n_tokens") <= col("sum_len") &&
        col("sum_len") <= lit(10L) * col("n_tokens")).as("r_mean_len"),
      (lit(8L) * col("top_count") <= col("n_tokens")).as("r_top_token"),
      (col("n_stop_distinct") >= 2L).as("r_stopwords"),
      (lit(20L) * col("n_dup_2grams") <= col("n_2grams"))
        .as("r_dup_2gram"))
      .withColumn("keep",
        col("r_word_count") && col("r_mean_len") && col("r_top_token")
          && col("r_stopwords") && col("r_dup_2gram"))
  }

  /** t13's profile size / t14's hot-set size — shared with oracles. */
  private val NgramTopK = 20
  private val HotBigrams = 25

  /** Unigram model size for t12 — shared with its oracle. */
  private val UnigramV = 20

  /** Bigram model size for t20/t22 — shared with their oracles. */
  private val BigramV = 30

  /** t22's fixed Kneser–Ney discount. 0.75 = 3·2⁻² is exact in
    * binary — see [[bigramScoredKn]]. */
  private val KnDiscount = 0.75

  /** t20's bigram-LM scoring stage, callable from specs on planted
    * (doc_id, text) frames: top-V MLE conditional model
    * P(w2|w1) = c(w1 w2) / c(w1 ·) with count-desc/gram-asc
    * tie-break, OOV bigrams at the ln(0.5/total) floor (t12's
    * discipline), per-doc mean log-prob rounded once. Context counts
    * c(w1 ·) derive from the gram counts themselves (one extra
    * vocabulary-sized aggregate — never a second corpus scan), and
    * only the ≤V model rows are collected. Returns
    * (doc_id, n_bigrams, avg_logprob) for every document with at
    * least one bigram.
    */
  def bigramScored(docs: DataFrame): DataFrame = {
    val toks = docs
      .select(col("doc_id"), TextOps.tokenize(col("text")).as("__toks"))
    val grams = toks
      .select(col("doc_id"),
        Analysis.ngrams(col("__toks"), 2).as("grams"))
      .filter(size(col("grams")) > 0)
    // the gram-count aggregate is VOCAB²-bounded (tiny next to the
    // corpus) but its lineage re-scans and re-builds every gram —
    // persist it so the total, context and model reads pay the gram
    // pass once, not three times (31 → ~19 s at sf0.1)
    val counts = grams.select(explode(col("grams")).as("g"))
      .groupBy(col("g")).count().persist()
    val totalRow = counts.agg(sum(col("count"))).head
    // no bigram anywhere (corpus of <2-token docs): the scored frame
    // below is empty, but the floor literal must stay finite
    val total = if (totalRow.isNullAt(0)) 1.0
      else totalRow.getLong(0).toDouble
    val ctx = counts
      .groupBy(substring_index(col("g"), " ", 1).as("w1"))
      .agg(sum(col("count")).as("ccnt"))
    val model = counts
      .orderBy(col("count").desc, col("g").asc).limit(BigramV)
      .join(ctx, substring_index(col("g"), " ", 1) === col("w1"))
      .select(col("g"), col("count"), col("ccnt"))
      .collect()
      .map(r => r.getString(0) ->
        math.log(r.getLong(1).toDouble / r.getLong(2).toDouble))
      .toMap
    counts.unpersist(blocking = false)
    val floorLp = math.log(0.5 / total)
    // scoring via the native single-pass kernel straight off the
    // token array (expressions/BigramLogProb; the composed
    // ngrams→unigramAvgLogProb form is its executable spec, parity
    // in ExpressionSpec) — the gram-string arrays only ever exist in
    // the fit pass
    graft.core.PlanLiterals.requireMapTerms(model.size, "bigramScored")
    import org.apache.spark.sql.graftbridge.ColumnBridge._
    val st = column(graft.expressions.BigramLogProbExpr(
      expression(col("__toks")), model, floorLp))
    toks.select(col("doc_id"), st.as("__s"))
      .select(col("doc_id"),
        col("__s")("n_bigrams").as("n_bigrams"),
        col("__s")("avg_logprob").as("avg_logprob"))
      .filter(col("n_bigrams") > 0)
  }

  /** t22's smoothed bigram-LM scoring stage: interpolated Kneser–Ney
    * with the textbook fixed discount D = [[KnDiscount]] (Kneser &
    * Ney 1995; Chen & Goodman 1999's interpolated form) — the
    * smoothing step between t20's raw MLE and a full CCNet-style
    * KenLM perplexity gate. Every KN statistic is one more aggregate
    * over the SAME vocab²-bounded gram-count table t20 already
    * builds — never a second corpus scan:
    *
    *   ccnt(w1) = Σ_w2 c(w1 w2)        context mass
    *   n1fw(w1) = |{w2 : c(w1 w2)>0}|  distinct continuations OF w1
    *   n1bw(w2) = |{w1 : c(w1 w2)>0}|  distinct contexts INTO w2
    *   T        = |{(w1,w2) : c>0}|    bigram type count
    *
    *   P_KN(w2|w1) = (max(c−D, 0) + (D·n1fw(w1)) · (n1bw(w2)/T))
    *                 / ccnt(w1)
    *
    * The fixed discount keeps the fit SQL-expressible (the oracle
    * recomputes it end to end), and D = 0.75 = 3·2⁻² is exact in
    * binary, so every c−D and D·k term rounds identically in Spark
    * and DuckDB; the association order above is mirrored
    * parenthesis-for-parenthesis in the oracle. Scoring is t20's
    * in-row kernel with the KN log-probs as the model values (top-V
    * bigrams behind the plan-literal contract, t12's 0.5-count OOV
    * floor). Returns (doc_id, n_bigrams, avg_logprob), docs with ≥ 1
    * bigram.
    */
  def bigramScoredKn(docs: DataFrame): DataFrame = {
    val toks = docs
      .select(col("doc_id"), TextOps.tokenize(col("text")).as("__toks"))
    val grams = toks
      .select(col("doc_id"),
        Analysis.ngrams(col("__toks"), 2).as("grams"))
      .filter(size(col("grams")) > 0)
    // persisted for the same reason as t20's fit (four readers of a
    // tiny aggregate); released as soon as the ≤V model rows are on
    // the driver
    val counts = grams.select(explode(col("grams")).as("g"))
      .groupBy(col("g")).count().persist()
    val totalRow = counts.agg(sum(col("count")), count(lit(1))).head
    val total = if (totalRow.isNullAt(0)) 1.0
      else totalRow.getLong(0).toDouble
    val types = if (totalRow.isNullAt(0)) 1.0
      else totalRow.getLong(1).toDouble
    val ctx = counts
      .groupBy(substring_index(col("g"), " ", 1).as("w1"))
      .agg(sum(col("count")).as("ccnt"), count(lit(1)).as("n1fw"))
    val cont = counts
      .groupBy(substring_index(col("g"), " ", -1).as("w2"))
      .agg(count(lit(1)).as("n1bw"))
    val d = KnDiscount
    val model = counts
      .orderBy(col("count").desc, col("g").asc).limit(BigramV)
      .join(ctx, substring_index(col("g"), " ", 1) === col("w1"))
      .join(cont, substring_index(col("g"), " ", -1) === col("w2"))
      .select(col("g"), col("count"), col("ccnt"), col("n1fw"),
        col("n1bw"))
      .collect()
      .map { r =>
        val c = r.getLong(1).toDouble
        val ccnt = r.getLong(2).toDouble
        val n1fw = r.getLong(3).toDouble
        val n1bw = r.getLong(4).toDouble
        r.getString(0) -> math.log(
          (math.max(c - d, 0.0) + (d * n1fw) * (n1bw / types)) / ccnt)
      }.toMap
    counts.unpersist(blocking = false)
    val floorLp = math.log(0.5 / total)
    graft.core.PlanLiterals.requireMapTerms(model.size, "bigramScoredKn")
    import org.apache.spark.sql.graftbridge.ColumnBridge._
    val st = column(graft.expressions.BigramLogProbExpr(
      expression(col("__toks")), model, floorLp))
    toks.select(col("doc_id"), st.as("__s"))
      .select(col("doc_id"),
        col("__s")("n_bigrams").as("n_bigrams"),
        col("__s")("avg_logprob").as("avg_logprob"))
      .filter(col("n_bigrams") > 0)
  }

  /** t12's unigram-LM scoring stage, shared with t17: top-V MLE model
    * fit on the corpus (bounded driver collect, plan-literal
    * contract), every doc scored in-row. Returns
    * (doc_id, lang, n_tokens, avg_logprob).
    */
  private def unigramScored(s: SparkSession, d: String): DataFrame = {
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"),
        TextOps.tokenize(col("text")).as("toks"))
    // vocab-sized aggregate persisted so the total and model reads
    // share one corpus pass (the t20 lesson)
    val counts = toks.select(explode(col("toks")).as("word"))
      .groupBy(col("word")).count().persist()
    val total = counts.agg(sum(col("count"))).head.getLong(0).toDouble
    val model = counts
      .orderBy(col("count").desc, col("word")).limit(UnigramV)
      .collect()
      .map(r => r.getString(0) -> math.log(r.getLong(1) / total))
      .toMap
    counts.unpersist(blocking = false)
    val floorLp = math.log(0.5 / total)
    toks.select(col("doc_id"), col("lang"),
      size(col("toks")).as("n_tokens"),
      Analysis.unigramAvgLogProb(col("toks"), model, floorLp)
        .as("avg_logprob"))
  }

  /** t15's query terms and k — shared with its oracle. */
  private val Bm25Terms = Seq("dup", "spark", "merge")
  private val Bm25K = 20

  /** t16's 1/k frequency threshold — shared with its oracle. */
  private val HhK = 64

  /** t15's oracle: the BM25 formula with IDENTICAL operation order
    * and float literals (Scala `Double.toString` round-trips through
    * DuckDB's correctly-rounded parse, the planeSqlArr discipline), so
    * the scores hash-match bit-for-bit. k1/b fixed at the operator's
    * defaults.
    */
  private def bm25OracleSql: String = {
    val (k1, b) = (1.2, 0.75)
    val tfCols = Bm25Terms.indices.map(i =>
      s"CAST(len(list_filter(t, x -> x = ${sqlList(Seq(Bm25Terms(i)))
        .stripPrefix("[").stripSuffix("]")})) AS DOUBLE) AS tf$i")
      .mkString(", ")
    val dfAggs = Bm25Terms.indices.map(i =>
      s"""CAST(sum(CASE WHEN list_contains(t, ${sqlList(
        Seq(Bm25Terms(i))).stripPrefix("[").stripSuffix("]")})
          THEN 1 ELSE 0 END) AS DOUBLE) AS df$i""").mkString(", ")
    val score = Bm25Terms.indices.map(i =>
      s"""ln(1.0 + (n - df$i + 0.5) / (df$i + 0.5)) * tf$i * ${k1 + 1}
          / (tf$i + $k1 * (${1 - b} + $b * dl / avgdl))""")
      .mkString(" + ")
    s"""WITH toks AS (
          SELECT doc_id, $tokSql AS t FROM documents),
        stats AS (
          SELECT CAST(count(*) AS DOUBLE) AS n, avg(len(t)) AS avgdl,
                 $dfAggs
          FROM toks),
        perdoc AS (
          SELECT doc_id, CAST(len(t) AS DOUBLE) AS dl, $tfCols
          FROM toks),
        scored AS (
          SELECT doc_id, $score AS score FROM perdoc, stats)
        SELECT doc_id, score FROM scored WHERE score > 0
        ORDER BY score DESC, doc_id LIMIT $Bm25K"""
  }

  private val cleanSql =
    """ltrim(regexp_replace(regexp_replace(lower(text),
      '(?:@|https?://)\S+', '', 'g'), '[^a-zA-Z]', ' ', 'g'))"""

  private def langIdSql: String = {
    val hits = Analysis.LangMarkers.map { case (l, ms) =>
      s"len(list_filter($tokSql, t -> list_contains(${sqlList(ms)}, t))) "
    }
    val names = Analysis.LangMarkers.map(_._1)
    val hitCols = names.zip(hits)
      .map { case (l, h) => s"$h AS h_$l" }.mkString(", ")
    val best = names.map(l => s"h_$l").mkString("greatest(", ", ", ")")
    val cases = names
      .map(l => s"WHEN h_$l = best AND h_$l > 0 THEN '$l'")
      .mkString(" ")
    s"""SELECT doc_id, CASE $cases ELSE 'und' END AS lang_pred
        FROM (SELECT doc_id, $hitCols, $best AS best
              FROM (SELECT doc_id, text FROM documents))"""
  }

  val oracleSql: Map[String, String] = Map(
    "t15_bm25_topk" -> bm25OracleSql,
    // exact-by-construction despite the sketch stage: MG guarantees
    // the candidate superset, the verify pass restores exact counts
    "t16_heavy_hitters" ->
      s"""WITH w AS (
            SELECT unnest($tokSql) AS item FROM documents),
          tot AS (SELECT count(*) AS n FROM w)
          SELECT item, count(*) AS n_occ
          FROM w, tot GROUP BY item, n
          HAVING count(*) * $HhK > n""",
    "t01_clean_counts" ->
      s"""SELECT doc_id, $cleanSql AS clean,
          CAST(length($cleanSql) AS INTEGER) AS n_chars,
          CAST(len(list_filter(string_split($cleanSql, ' '),
            w -> len(w) > 0)) AS INTEGER) AS n_tokens
          FROM documents""",
    "t02_stopword_filter" ->
      s"""SELECT doc_id,
          CAST(len($tokSql) AS INTEGER) AS n_tokens,
          CAST(len(list_filter($tokSql, w -> NOT list_contains(
            ${sqlList(TextOps.EnglishStopwords)}, w))) AS INTEGER) AS n_kept
          FROM documents""",
    "t03_wordcount_top20" ->
      s"""SELECT w.word, count(*) AS n
          FROM (SELECT unnest($tokSql) AS word FROM documents) w
          GROUP BY w.word ORDER BY n DESC, w.word ASC LIMIT 20""",
    "t04_langid" -> langIdSql,
    "t05_quality" ->
      s"""SELECT doc_id,
          CAST(length(text) AS INTEGER) AS n_chars,
          CAST(len(toks) AS INTEGER) AS n_tokens,
          CAST(len(list_distinct(toks)) AS INTEGER) AS n_distinct,
          CASE WHEN len(toks) > 0 THEN round(CAST(len(list_distinct(toks)) AS DOUBLE)
            / CAST(len(toks) AS DOUBLE), 6) ELSE 0.0 END AS ttr,
          CASE WHEN len(toks) > 0 THEN round(CAST(list_sum(list_transform(toks,
            t -> CAST(len(t) AS BIGINT))) AS DOUBLE)
            / CAST(len(toks) AS DOUBLE), 6) ELSE 0.0 END AS mean_len,
          CASE WHEN len(toks) > 0 THEN round(CAST(len(list_filter(toks,
            t -> list_contains(${sqlList(TextOps.EnglishStopwords)}, t)))
            AS DOUBLE) / CAST(len(toks) AS DOUBLE), 6) ELSE 0.0 END AS stop_ratio
          FROM (SELECT doc_id, text, $tokSql AS toks FROM documents)""",
    "t06_fingerprint" ->
      s"""WITH tok AS (
            SELECT doc_id, unnest($tokSql) AS w,
                   generate_subscripts($tokSql, 1) AS pos
            FROM documents),
          sh AS (
            SELECT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS shingle
            FROM tok a
            JOIN tok b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
            JOIN tok c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2)
          SELECT d.doc_id, md5(d.text) AS fp, m.msf AS min_shingle_fp
          FROM documents d LEFT JOIN (
            SELECT doc_id, min(md5(shingle)) AS msf FROM sh GROUP BY 1) m
          ON d.doc_id = m.doc_id""",
    "t07_token_counts" ->
      s"""SELECT doc_id, CAST(len($tokSql) AS INTEGER) AS ws_tokens,
          CAST(len(regexp_extract_all(text,
            '${graft.text.Analysis.BpeIshRe.replace("'", "''")}'))
            AS INTEGER) AS bpe_tokens
          FROM documents""",
    "t08_pii_redact" ->
      s"""SELECT id,
          regexp_replace(regexp_replace(regexp_replace(regexp_replace(
            text,
            'https?://\\S+', '<URL>', 'g'),
            '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
            '@\\w+', '<USER>', 'g'),
            '\\d{7,}', '<NUM>', 'g') AS redacted
          FROM read_csv('${graft.core.Csv.TrainCsv}', header=true,
            all_varchar=true)""",
    "t09_repetition" ->
      s"""WITH t AS (
            SELECT doc_id, $tokSql AS toks FROM documents),
          g AS (
            SELECT doc_id, toks,
                   list_transform(range(1, len(toks)),
                     i -> toks[i] || ' ' || toks[i + 1]) AS grams
            FROM t)
          SELECT doc_id,
            CASE WHEN len(toks) > 0 THEN
              CAST(list_max(list_transform(list_distinct(toks),
                w -> len(list_filter(toks, t -> t = w)))) AS DOUBLE)
                / len(toks)
            ELSE 0.0 END AS top_token_frac,
            CASE WHEN len(grams) > 0 THEN
              1.0 - CAST(len(list_distinct(grams)) AS DOUBLE) / len(grams)
            ELSE 0.0 END AS dup_bigram_frac
          FROM g""",
    "t10_chunks" ->
      s"""WITH t AS (
            SELECT doc_id, $tokSql AS toks FROM documents
            WHERE len($tokSql) > 0),
          st AS (
            SELECT doc_id, toks,
                   unnest(range(0, len(toks), 6)) AS start,
                   generate_subscripts(range(0, len(toks), 6), 1) - 1
                     AS chunk_idx
            FROM t)
          SELECT doc_id, CAST(chunk_idx AS INTEGER) AS chunk_idx,
                 array_to_string(list_slice(toks, start + 1, start + 8),
                   ' ') AS chunk_text,
                 CAST(len(list_slice(toks, start + 1, start + 8))
                   AS INTEGER) AS n_tokens
          FROM st""",
    "t11_pack" ->
      s"""WITH t AS (
            SELECT doc_id, source, $tokSql AS toks FROM documents
            WHERE len($tokSql) > 0),
          st AS (
            SELECT doc_id, source, toks,
                   unnest(range(0, len(toks), 8)) AS start,
                   generate_subscripts(range(0, len(toks), 8), 1) - 1
                     AS chunk_idx
            FROM t),
          ch AS (
            SELECT doc_id, source, chunk_idx,
                   len(list_slice(toks, start + 1, start + 8)) AS n_tokens
            FROM st),
          cum AS (
            SELECT source, n_tokens,
                   CAST(sum(n_tokens) OVER (
                     PARTITION BY source ORDER BY doc_id, chunk_idx)
                     AS BIGINT) AS cum
            FROM ch)
          SELECT source, CAST(floor((cum - n_tokens) / 64) AS BIGINT)
                   AS pack_id,
                 count(*) AS n_chunks,
                 CAST(sum(n_tokens) AS BIGINT) AS pack_tokens
          FROM cum GROUP BY 1, 2""",
    // top-V MLE tie-break (cnt DESC, word) and the 0.5-count OOV
    // floor mirror the Spark pass exactly; the per-doc mean is
    // rounded once at the aggregate
    "t12_unigram_logprob" ->
      s"""WITH toks AS (SELECT doc_id, $tokSql AS toks FROM documents),
          u AS (SELECT doc_id, unnest(toks) AS word FROM toks),
          c AS (SELECT word, count(*) AS cnt FROM u GROUP BY 1),
          tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS total FROM c),
          v AS (SELECT word, ln(cnt / (SELECT total FROM tot)) AS lp
                FROM c ORDER BY cnt DESC, word LIMIT $UnigramV),
          sc AS (SELECT u.doc_id,
                   coalesce(v.lp, ln(0.5 / (SELECT total FROM tot))) AS lp
                 FROM u LEFT JOIN v USING (word))
          SELECT doc_id, CAST(count(*) AS INTEGER) AS n_tokens,
                 round(sum(lp) / count(*), 6) AS avg_logprob
          FROM sc GROUP BY doc_id""",
    // t17 = t12's score + per-language quantile_cont tertiles (the
    // q23 percentile-parity precedent) + the same CASE comparison
    "t17_ccnet_buckets" ->
      s"""WITH toks AS (SELECT doc_id, lang, $tokSql AS toks
                        FROM documents),
          u AS (SELECT doc_id, unnest(toks) AS word FROM toks),
          c AS (SELECT word, count(*) AS cnt FROM u GROUP BY 1),
          tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS total FROM c),
          v AS (SELECT word, ln(cnt / (SELECT total FROM tot)) AS lp
                FROM c ORDER BY cnt DESC, word LIMIT $UnigramV),
          sc0 AS (SELECT u.doc_id,
                    coalesce(v.lp, ln(0.5 / (SELECT total FROM tot)))
                      AS lp
                  FROM u LEFT JOIN v USING (word)),
          sc AS (SELECT t.doc_id, t.lang,
                   round(s.alp, 6) AS avg_logprob
                 FROM toks t JOIN (
                   SELECT doc_id, sum(lp) / count(*) AS alp
                   FROM sc0 GROUP BY doc_id) s USING (doc_id)),
          th AS (SELECT lang,
                   round(quantile_cont(avg_logprob, ${1.0 / 3}), 6)
                     AS t_lo,
                   round(quantile_cont(avg_logprob, ${2.0 / 3}), 6)
                     AS t_hi
                 FROM sc GROUP BY lang)
          SELECT sc.doc_id, sc.lang, sc.avg_logprob,
                 CASE WHEN avg_logprob >= t_hi THEN 'head'
                      WHEN avg_logprob >= t_lo THEN 'middle'
                      ELSE 'tail' END AS bucket
          FROM sc JOIN th USING (lang)""",
    // trigram profile via positional self-joins (the SQL mirror of
    // the in-row gram build); df over per-doc gram rows ≡ the Spark
    // two-level aggregate
    "t13_ngram_topk" ->
      s"""WITH tok AS (
            SELECT doc_id, unnest($tokSql) AS w,
                   generate_subscripts($tokSql, 1) AS pos
            FROM documents),
          g AS (
            SELECT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS gram
            FROM tok a
            JOIN tok b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
            JOIN tok c ON c.doc_id = a.doc_id AND c.pos = a.pos + 2),
          pg AS (
            SELECT doc_id, gram, count(*) AS cnt FROM g GROUP BY 1, 2)
          SELECT gram, CAST(count(*) AS BIGINT) AS df,
                 CAST(sum(cnt) AS BIGINT) AS occurrences
          FROM pg GROUP BY 1
          ORDER BY df DESC, gram LIMIT $NgramTopK""",
    // positions are 1-based here vs 0-based in Spark — each side's
    // covered set is internally consistent, and only the re-joined
    // strings and removal counts cross the engine boundary
    "t14_boilerplate_strip" ->
      s"""WITH tok AS (
            SELECT doc_id, unnest($tokSql) AS w,
                   generate_subscripts($tokSql, 1) AS pos
            FROM documents),
          g AS (
            SELECT a.doc_id, a.pos, a.w || ' ' || b.w AS gram
            FROM tok a
            JOIN tok b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1),
          hot AS (
            SELECT gram FROM (
              SELECT gram, count(DISTINCT doc_id) AS df
              FROM g GROUP BY 1)
            ORDER BY df DESC, gram LIMIT $HotBigrams),
          cov AS (
            SELECT DISTINCT doc_id, cpos FROM (
              SELECT doc_id, unnest([pos, pos + 1]) AS cpos
              FROM g JOIN hot USING (gram))),
          kept AS (
            SELECT t.doc_id, t.pos, t.w
            FROM tok t LEFT JOIN cov
              ON cov.doc_id = t.doc_id AND cov.cpos = t.pos
            WHERE cov.doc_id IS NULL),
          agg AS (
            SELECT doc_id, string_agg(w, ' ' ORDER BY pos) AS clean_text
            FROM kept GROUP BY 1),
          nc AS (
            SELECT doc_id, CAST(count(*) AS INTEGER) AS n_removed
            FROM cov GROUP BY 1)
          SELECT d.doc_id, coalesce(a.clean_text, '') AS clean_text,
                 coalesce(nc.n_removed, 0) AS n_removed
          FROM documents d
          LEFT JOIN agg a USING (doc_id)
          LEFT JOIN nc USING (doc_id)""",

    // t18: same integer statistics and integer threshold tests — the
    // rule flags reproduce bit-exactly (no float mean/ratio anywhere)
    "t18_gopher_rules" ->
      s"""WITH t AS (
            SELECT doc_id, $tokSql AS toks FROM documents),
          g AS (
            SELECT doc_id, toks,
                   list_transform(range(1, len(toks)),
                     i -> toks[i] || ' ' || toks[i+1]) AS g2
            FROM t),
          s AS (
            SELECT doc_id,
                   CAST(len(toks) AS BIGINT) AS n_tokens,
                   CAST(coalesce(list_sum(list_transform(toks,
                     w -> CAST(len(w) AS BIGINT))), 0) AS BIGINT)
                     AS sum_len,
                   CAST(coalesce(list_max(list_transform(
                     list_distinct(toks),
                     w -> len(list_filter(toks, x -> x = w)))), 0)
                     AS BIGINT) AS top_count,
                   CAST(len(list_filter(list_distinct(toks),
                     w -> list_contains(
                       ${sqlList(TextOps.EnglishStopwords)}, w)))
                     AS BIGINT) AS n_stop_distinct,
                   CAST(len(g2) AS BIGINT) AS n_2grams,
                   CAST(len(g2) - len(list_distinct(g2)) AS BIGINT)
                     AS n_dup_2grams
            FROM g)
          SELECT doc_id, n_tokens, sum_len, top_count, n_stop_distinct,
                 n_2grams, n_dup_2grams,
                 (n_tokens BETWEEN 50 AND 100000) AS r_word_count,
                 (3 * n_tokens <= sum_len AND sum_len <= 10 * n_tokens)
                   AS r_mean_len,
                 (8 * top_count <= n_tokens) AS r_top_token,
                 (n_stop_distinct >= 2) AS r_stopwords,
                 (20 * n_dup_2grams <= n_2grams) AS r_dup_2gram,
                 ((n_tokens BETWEEN 50 AND 100000)
                  AND (3 * n_tokens <= sum_len
                       AND sum_len <= 10 * n_tokens)
                  AND (8 * top_count <= n_tokens)
                  AND (n_stop_distinct >= 2)
                  AND (20 * n_dup_2grams <= n_2grams)) AS keep
          FROM s""",

    // t19: char multiplicities ordered by char (list_sort over the
    // distinct chars = the engine's sorted-run order), integer Gini,
    // and the same char-ordered sequential Shannon fold
    "t19_char_diversity" ->
      """WITH t AS (
            SELECT doc_id, CAST(length(text) AS BIGINT) AS n,
                   string_split(text, '') AS cs
            FROM documents),
          c AS (
            SELECT doc_id, n, cs,
                   list_transform(list_sort(list_distinct(cs)),
                     ch -> CAST(len(list_filter(cs, x -> x = ch))
                       AS BIGINT)) AS counts
            FROM t)
          SELECT doc_id,
                 n AS n_chars_total,
                 CAST(len(list_distinct(cs)) AS BIGINT)
                   AS n_chars_distinct,
                 CAST(n * n - list_sum(list_transform(counts,
                   c -> c * c)) AS BIGINT) AS gini_num,
                 CAST(n * n AS BIGINT) AS gini_den,
                 round(list_sum(list_transform(counts,
                   c -> (CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
                     * ln(CAST(n AS DOUBLE) / CAST(c AS DOUBLE)))), 6)
                   AS shannon_nats
          FROM c""",

    // t20: the same top-V MLE bigram fit in SQL — bigrams via t09's
    // positional list_transform, context counts c(w1 ·) from the
    // gram counts themselves, ln(cnt/ctx) conditional
    // probabilities, the 0.5-count OOV floor and the per-doc mean
    // rounded once (t12's float discipline)
    "t20_bigram_logprob" ->
      s"""WITH t AS (SELECT doc_id, $tokSql AS toks FROM documents),
          g AS (SELECT doc_id,
                  list_transform(range(1, len(toks)),
                    i -> toks[i] || ' ' || toks[i + 1]) AS grams
                FROM t WHERE len(toks) >= 2),
          u AS (SELECT doc_id, unnest(grams) AS b FROM g),
          c AS (SELECT b, count(*) AS cnt FROM u GROUP BY 1),
          ctx AS (SELECT string_split(b, ' ')[1] AS w1,
                    sum(cnt) AS ccnt FROM c GROUP BY 1),
          tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS total FROM c),
          v AS (SELECT b, ln(cnt / CAST(ccnt AS DOUBLE)) AS lp
                FROM c JOIN ctx ON string_split(c.b, ' ')[1] = ctx.w1
                ORDER BY cnt DESC, b LIMIT $BigramV),
          sc AS (SELECT u.doc_id,
                   coalesce(v.lp, ln(0.5 / (SELECT total FROM tot)))
                     AS lp
                 FROM u LEFT JOIN v USING (b))
          SELECT doc_id, CAST(count(*) AS INTEGER) AS n_bigrams,
                 round(sum(lp) / count(*), 6) AS avg_logprob
          FROM sc GROUP BY doc_id""",

    // t22: the full interpolated-KN fit recomputed in SQL — every
    // statistic (ccnt, n1fw, n1bw, T) one aggregate over the gram
    // counts, the P_KN expression parenthesized exactly as the
    // engine's Scala (bigramScoredKn): (max(c−D,0) + (D·n1fw) ·
    // (n1bw/T)) / ccnt, D = 0.75 exact in binary.
    "t22_bigram_kn" ->
      s"""WITH t AS (SELECT doc_id, $tokSql AS toks FROM documents),
          g AS (SELECT doc_id,
                  list_transform(range(1, len(toks)),
                    i -> toks[i] || ' ' || toks[i + 1]) AS grams
                FROM t WHERE len(toks) >= 2),
          u AS (SELECT doc_id, unnest(grams) AS b FROM g),
          c AS (SELECT b, count(*) AS cnt FROM u GROUP BY 1),
          ctx AS (SELECT string_split(b, ' ')[1] AS w1,
                    sum(cnt) AS ccnt, count(*) AS n1fw FROM c GROUP BY 1),
          cont AS (SELECT string_split(b, ' ')[2] AS w2,
                     count(*) AS n1bw FROM c GROUP BY 1),
          tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS total,
                    CAST(count(*) AS DOUBLE) AS types FROM c),
          v AS (SELECT b, ln(
                  (greatest(CAST(cnt AS DOUBLE) - 0.75, 0)
                     + (0.75 * CAST(n1fw AS DOUBLE))
                       * (CAST(n1bw AS DOUBLE) / (SELECT types FROM tot)))
                  / CAST(ccnt AS DOUBLE)) AS lp
                FROM c JOIN ctx ON string_split(c.b, ' ')[1] = ctx.w1
                       JOIN cont ON string_split(c.b, ' ')[2] = cont.w2
                ORDER BY cnt DESC, b LIMIT $BigramV),
          sc AS (SELECT u.doc_id,
                   coalesce(v.lp, ln(0.5 / (SELECT total FROM tot)))
                     AS lp
                 FROM u LEFT JOIN v USING (b))
          SELECT doc_id, CAST(count(*) AS INTEGER) AS n_bigrams,
                 round(sum(lp) / count(*), 6) AS avg_logprob
          FROM sc GROUP BY doc_id""",

    "t21_blocklist_gate" -> {
      val hits = Blocklist
        .map(p => s"CAST(contains(text, '${p.replace("'", "''")}') AS INT)")
        .mkString(" + ")
      s"""SELECT doc_id, CAST($hits AS INTEGER) AS n_hits,
                 ($hits) > 0 AS blocked
          FROM documents"""
    },

    // t23: the grid rebuilt cell-by-cell in SQL — same md5-chunk row
    // hash ('r|word' → first 8 hex chars → int32 % width) as
    // CountMinAgg.cell, then the same min-over-rows probe. Any drift
    // in hashing, flattening, or the min breaks the hash compare.
    "t23_countmin_est" -> {
      val rs = (0 until CmsDepth).mkString("[", ", ", "]")
      def cell(r: String, item: String) =
        s"CAST(('0x' || substring(md5(CAST($r AS VARCHAR) || '|' || " +
          s"$item), 1, 8)) AS BIGINT) % $CmsWidth"
      s"""WITH toks AS (SELECT unnest($tokSql) AS word FROM documents),
          cells AS (SELECT rr.r AS r, ${cell("rr.r", "word")} AS b,
                      count(*) AS c
                    FROM toks, (SELECT unnest($rs) AS r) rr
                    GROUP BY 1, 2),
          top AS (SELECT word, count(*) AS n FROM toks
                  GROUP BY 1 ORDER BY n DESC, word ASC LIMIT 20)
          SELECT t.word, t.n, min(c.c) AS cms_est
          FROM top t JOIN cells c ON c.b = ${cell("c.r", "t.word")}
          GROUP BY t.word, t.n"""
    },

    // t24: the fast-profile grid rebuilt in SQL — FnvSql's
    // signed(fmix64(fnv1a64('r|word'))) cascade, cell =
    // ((v % W) + W) % W (floorMod on the signed long), grid counts
    // summed over DISTINCT words' exact counts (identical to
    // per-occurrence increments), probe reuses the same hashed rows.
    "t24_countmin_fast" -> {
      val rs = (0 until CmsDepth).mkString("[", ", ", "]")
      val W = CmsWidth
      s"""WITH toks AS (SELECT unnest($tokSql) AS word FROM documents),
          wc AS (SELECT word, count(*) AS n FROM toks GROUP BY 1),
          rr AS (SELECT unnest($rs) AS r),
          cstr AS (SELECT w.word, w.n, rr.r,
                     CAST(rr.r AS VARCHAR) || '|' || w.word AS fs
                   FROM wc w, rr),
          ${FnvSql.stages("ch", "cstr", "word, n, r")},
          cells AS (SELECT r, ((v % $W) + $W) % $W AS b,
                      CAST(sum(n) AS BIGINT) AS c
                    FROM ch5 GROUP BY 1, 2),
          top AS (SELECT word, n FROM wc
                  ORDER BY n DESC, word ASC LIMIT 20)
          SELECT t.word, t.n, min(c.c) AS cms_est
          FROM top t
          JOIN ch5 h ON h.word = t.word
          JOIN cells c ON c.r = h.r AND c.b = ((h.v % $W) + $W) % $W
          GROUP BY t.word, t.n"""
    },

    // t25: same 60-bit md5 slice, bucket = low p bits, rank from the
    // bit length of the remainder (ltrim-of-bin is leading-zero-safe
    // whatever width the engine prints); registers are max per
    // bucket, exact ndv counts distinct remainders (≡ distinct
    // hashes within a bucket).
    "t25_loglog_ndv" -> {
      val rhoMax = 60 - LogLogP + 1
      s"""WITH toks AS (SELECT unnest($tokSql) AS w FROM documents),
          hv AS (SELECT CAST(('0x' || substring(md5(w), 1, 15))
                   AS BIGINT) AS hv FROM toks),
          b AS (SELECT hv % $LogLogM AS bucket,
                  hv >> $LogLogP AS wbits FROM hv),
          r AS (SELECT CAST(bucket AS INTEGER) AS bucket, wbits,
                  CASE WHEN wbits = 0 THEN $rhoMax
                       ELSE $rhoMax - length(ltrim(bin(wbits), '0'))
                  END AS rho
                FROM b)
          SELECT bucket, CAST(max(rho) AS INTEGER) AS register,
                 count(DISTINCT wbits) AS ndv_exact
          FROM r GROUP BY bucket"""
    },

    // t26: identical smoothing/operation order; only the per-source
    // aggregate sum is rounded (never per-term values — the t12/ULP
    // discipline), totals cast to BIGINT (the r12 dtype lesson).
    "t26_unigram_drift" -> {
      val halfV = 0.5 * DriftV
      s"""WITH toks AS (SELECT source, unnest($tokSql) AS w
                        FROM documents),
          sw AS (SELECT source, w, count(*) AS c FROM toks GROUP BY 1, 2),
          vocab AS (SELECT w, sum(c) AS cn FROM sw GROUP BY 1
                    ORDER BY cn DESC, w ASC LIMIT $DriftV),
          tots AS (SELECT source, CAST(sum(c) AS BIGINT) AS tot
                   FROM sw GROUP BY 1),
          totc AS (SELECT CAST(sum(c) AS BIGINT) AS tc FROM sw),
          grid AS (SELECT t.source, t.tot, v.cn,
                     CAST(coalesce(x.c, 0) AS BIGINT) AS cnt,
                     (SELECT tc FROM totc) AS tc
                   FROM tots t CROSS JOIN vocab v
                   LEFT JOIN sw x ON x.source = t.source AND x.w = v.w)
          SELECT source, tot AS n_tokens,
                 round(sum(((cnt + 0.5) / (tot + $halfV)) *
                   ln(((cnt + 0.5) / (tot + $halfV)) /
                      ((cn + 0.5) / (tc + $halfV)))), 6) AS kl
          FROM grid GROUP BY source, tot"""
    }
  )
}
