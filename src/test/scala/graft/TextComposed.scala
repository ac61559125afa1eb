package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.text.{Analysis, TextOps}
import graft.features.FeatureHashing
import graft.operators.{Dsir, Ngrams, Sketches}
import graft.queries.TextQueries

/** Composed Catalyst-HOF forms of [[graft.text.TextOps]]' native
  * kernels: the references ExpressionSpec holds them to. */
object TextOpsComposed {
  import TextOps._

  /** The composed reference form of [[tokenize]]: regex split +
    * empty-token filter. Kept as the kernel's executable spec; the
    * regex matcher and the per-token interpreted `filter` lambda make
    * it measurably slower on every text query, so production call
    * sites use the kernel.
    */
  def tokenizeComposed(c: Column): Column =
    filter(split(c, "\\s+"), t => length(t) > 0)

  /** The composed reference form of [[removeStopwords]]: interpreted
    * `filter` lambda + O(|stops|) `array_contains` per token. Kept as
    * the kernel's executable spec (parity in ExpressionSpec).
    */
  def removeStopwordsComposed(tokens: Column, stops: Seq[String]): Column = {
    val stopArr = array(stops.map(lit): _*)
    filter(tokens, t => !array_contains(stopArr, t))
  }

  /** The composed reference form of [[blocklistHits]]: one
    * `contains` scan of the text PER pattern inside an interpreted
    * `filter` lambda. Kept as the kernel's executable spec (parity in
    * ExpressionSpec).
    */
  def blocklistHitsComposed(text: Column, patterns: Seq[String]): Column =
    size(filter(array(patterns.map(lit): _*), p => contains(text, p)))
}

/** Composed forms of [[graft.text.Analysis]]' kernels, and the
  * per-doc statistics only TextOpsSpec reads. */
object AnalysisComposed {
  import Analysis._

  private def markerHits(tokens: Column, markers: Seq[String]): Column =
    size(filter(tokens, t => array_contains(array(markers.map(lit): _*), t)))

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
}

/** Composed forms of [[graft.operators.Ngrams]]' kernels. */
object NgramsComposed {
  import Ngrams._

  /** The composed reference form of [[ngramProfile]]: two-level
    * aggregate — per-(doc, gram) counts first, then per-gram sums.
    * Kept as the kernel path's executable spec (full-profile parity
    * in ExpressionSpec); it shuffles every gram occurrence where the
    * kernel path shuffles only per-doc distinct grams.
    */
  def ngramProfileComposed(docs: DataFrame, idCol: String, tokens: Column,
                           n: Int): DataFrame =
    docs.select(col(idCol).as("doc_id"), tokens.as("__toks"))
      .select(col("doc_id"),
        explode(ngramsInRow(col("__toks"), n)).as("gram"))
      .groupBy(col("doc_id"), col("gram"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("gram"))
      .agg(count(lit(1)).as("df"), sum(col("cnt")).as("occurrences"))

  /** The composed reference form of the per-row value histogram
    * ([[graft.expressions.ValueCountsExpr]]): count each distinct
    * value with a full-array filter, sorted by value. O(n·distinct)
    * interpreted lambdas per row — kept ONLY as the kernel's
    * executable spec (parity in ExpressionSpec; null-free arrays).
    */
  def valueCountsComposed(arr: Column): Column =
    transform(array_sort(array_distinct(arr)),
      v => struct(v.as("value"),
        size(filter(arr, t => t === v)).cast("long").as("cnt")))
}

/** Composed form of [[graft.operators.Dsir]]'s feature buckets. */
object DsirComposed {
  import Dsir._

  /** The composed Catalyst-HOF reference form of [[featureBuckets]]:
    * bigram string array via `zip_with(slice, slice)`, then
    * [[FeatureHashing.bucketOracle]] per feature. Kept as the
    * kernel's executable spec; it builds a hex string + base-16
    * parse per feature, so production call sites use the kernel.
    */
  def featureBucketsComposed(tokens: Column, numBuckets: Int): Column = {
    val bigrams = when(size(tokens) >= 2,
      zip_with(slice(tokens, lit(1), size(tokens) - 1),
        slice(tokens, lit(2), size(tokens) - 1),
        (a, b) => concat(a, lit("_"), b)))
      .otherwise(array().cast("array<string>"))
    transform(concat(tokens, bigrams),
      t => FeatureHashing.bucketOracle(t, numBuckets))
  }
}

/** Composed form of the Gopher statistics kernel, and the 100k-pattern
  * blocklist ExpressionSpec builds its automaton from. */
object TextQueriesComposed {
  import TextQueries._

  /** The composed Catalyst-HOF reference form of [[gopherRules]]'
    * statistics stage — the kernel's executable spec.
    */
  def gopherStatsComposed(docs: DataFrame): DataFrame = {
    val t = docs
      .withColumn("toks", TextOps.tokenize(col("text")))
      .withColumn("g2", Analysis.ngrams(col("toks"), 2))
    // top_count (max token multiplicity) via sorted-run lengths —
    // O(n log n) vs the naive O(n·distinct) count-per-distinct scan
    val topCount = when(size(col("toks")) === 0, lit(0L))
      .otherwise(array_max(AnalysisComposed.sortedRunLengths(col("toks"))))
    t.select(col("doc_id"),
      size(col("toks")).cast("long").as("n_tokens"),
      aggregate(col("toks"), lit(0L), (acc, w) => acc + length(w))
        .as("sum_len"),
      topCount.as("top_count"),
      // distinct stopwords present: hash-based set intersect, not a
      // |distinct|×|stoplist| contains scan
      size(array_intersect(array_distinct(col("toks")),
        array(TextOps.EnglishStopwords.map(lit): _*)))
        .cast("long").as("n_stop_distinct"),
      size(col("g2")).cast("long").as("n_2grams"),
      (size(col("g2")) - size(array_distinct(col("g2"))))
        .cast("long").as("n_dup_2grams"))
  }

  /** 100,000-entry generated phrase blocklist — the production-scale
    * fixture behind the t21 kernel's list-size-independence claim
    * (real screens reach this size: contamination phrase lists, C4++
    * bad-word variants). Deterministic seeded 3-token phrases over a
    * 60-word vocabulary; the automaton built from it is asserted
    * O(pattern bytes) in ExpressionSpec and timed flat against the
    * 12/263-entry lists (SCALE.md, round 10 blocklist gate). NOT
    * used by the t21 oracle query — a 100k-term contains() chain is
    * no oracle.
    */
  lazy val blocklist100k: Seq[String] = {
    val vocab = (0 until 60).map(i => f"term$i%02d")
    val rng = new scala.util.Random(1234L)
    val out = collection.mutable.LinkedHashSet.empty[String]
    while (out.size < 100000)
      out += s"${vocab(rng.nextInt(60))} ${vocab(rng.nextInt(60))} " +
        s"${vocab(rng.nextInt(60))}"
    out.toSeq
  }
}

/** Composed LogLog registers and the estimate read off them. */
object SketchesComposed {
  import Sketches._

  /** [[logLog]] in pure builtins — `length(bin(w))` allocates a
    * digit string per row, so this form is the executable SPEC of
    * the kernel (parity in SketchesIdsSpec), the oracle mirror
    * shape, and the fallback if the kernel is ever unavailable. */
  def logLogComposed(item: Column, p: Int): Column = {
    require(p >= 1 && p <= 20, s"logLog: p must be in [1,20], got $p")
    val rhoMax = 60 - p + 1
    val hv = conv(substring(md5(item), 1, 15), 16, 10).cast("long")
    val bucket = (hv % (1L << p)).cast("int")
    val wbits = shiftright(hv, p)
    val rho = when(wbits === 0L, lit(rhoMax))
      .otherwise(lit(rhoMax) - length(bin(wbits))).cast("int")
    struct(bucket.as("bucket"), wbits.as("wbits"), rho.as("rho"))
  }

  /** Driver-side LogLog cardinality estimate from collected
    * registers (missing buckets = 0): `alpha_m · m² / Σ 2^(−M_j)` —
    * the raw HyperLogLog estimator (Flajolet et al., 2007), no
    * small/large-range correction. For spec bounds and operator
    * callers; the hash gate pins the REGISTERS, not this float.
    */
  def logLogEstimate(registers: Map[Int, Int], p: Int): Double = {
    // the alpha constants below (0.673/0.697/0.709 and the closed
    // form) are defined by Flajolet et al. (2007) only for m >= 16;
    // below that the raw estimator is biased, so refuse rather than
    // silently mis-estimate (register EXTRACTION still allows p >= 1
    // via logLogComposed — only this float is domain-restricted)
    require(p >= 4 && p <= 20,
      s"logLogEstimate: p must be in [4,20] (m >= 16), got $p")
    val m = 1 << p
    val alpha =
      if (m == 16) 0.673
      else if (m == 32) 0.697
      else if (m == 64) 0.709
      else 0.7213 / (1 + 1.079 / m)
    val z = (0 until m).map(b =>
      math.pow(2.0, -registers.getOrElse(b, 0).toDouble)).sum
    alpha * m * m / z
  }
}
