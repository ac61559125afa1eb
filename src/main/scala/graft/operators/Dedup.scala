package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.{Checkpoints, IndexCache, LocalFinish}
import graft.text.Analysis

/** Deduplication operators for training-data pipelines.
  *
  * Scale design:
  *  - exact dedup is a single hash-aggregate on a 128-bit content
  *    hash — shuffles the hash + tiny payload, never the documents;
  *  - MinHash-LSH shuffles (doc, band-signature) pairs, so candidate
  *    generation is O(docs × bands), never O(docs²); only candidate
  *    pairs pay the exact-Jaccard verification join;
  *  - all hash functions are content-derived (md5), so results are
  *    deterministic across partitionings, retries, and engines — no
  *    RNG in the data path.
  */
object Dedup {

  /** Distinct-intersection size of two hashed-shingle arrays via the
    * [[graft.expressions.IntersectCountI64]] primitive-table probe —
    * `size(array_intersect(a, b))` without materializing the
    * intersection array (parity in ExpressionSpec); the sets-verify
    * Jaccard hot core for d13/d20 (measured in SCALE.md, round 9
    * coda 4).
    */
  private[graft] def intersectCountI64(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge._
    column(graft.expressions.IntersectCountI64(
      expression(a), expression(b)))
  }

  /** Exact dedup groups: one row per distinct content, with the
    * surviving (minimum) id and the duplicate count. Group on the md5
    * so 100 TB of text shuffles 16-byte keys, not documents.
    */
  def exactGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(count(lit(1)).as("n_copies"), min(col(idCol)).as("keep_id"))

  /** (doc, shingle) pairs: distinct word n-grams per document,
    * computed in-row (no explode-then-distinct shuffle of raw grams —
    * `array_distinct` collapses in-row first).
    *
    * The token expression is bound to its own projected column BEFORE
    * n-gram assembly: `ngrams` reads its input array 3x per gram via
    * `element_at`, and Catalyst inlines a raw Column expression at
    * every reference — with `tokenize`'s split+filter that meant
    * re-running the regex split ~3·|grams| times per document
    * (measured 9.3 s of d03's 11.7 s at sf0.1). Against a bound
    * attribute each read is an O(1) array access; CollapseProject
    * keeps the boundary because the inner expression is non-cheap and
    * multiply-referenced.
    */
  def shingles(docs: DataFrame, idCol: String, tokens: Column,
               n: Int = 3): DataFrame =
    docs.select(col(idCol).as("doc_id"), tokens.as("__toks"))
      .select(col("doc_id"),
        explode(array_distinct(Analysis.ngrams(col("__toks"), n)))
          .as("shingle"))

  /** MinHash-LSH band signatures computed IN-ROW — the md5-chunk
    * minhash profile and band digests of the aggregation form
    * (`DedupComposed.lshBandSignatures` in the specs; value parity
    * asserted there) — as an array of (b, sig) structs per document.
    * This is the form a STREAMING dedup needs: Structured Streaming
    * forbids an aggregation upstream of a stateful operator in append
    * mode, so
    * the per-doc signature must come out of the scan projection, not
    * a group-by. Cost is identical in aggregate terms (numHashes
    * array passes over the doc's shingle set). Docs with no shingles
    * yield an empty array (the aggregation form drops them too).
    *
    * Computed by the native one-sweep kernel
    * [[graft.expressions.MinHashBandsExpr]] (ceil(numHashes/4) md5
    * digests per shingle against a thread-local MessageDigest); the
    * composed form, `DedupComposed.bandSignaturesInRowComposed` in the
    * specs, is its executable spec.
    */
  def bandSignaturesInRow(shingles: Column, numHashes: Int,
                          rowsPerBand: Int): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge._
    column(graft.expressions.MinHashBandsExpr(
      expression(shingles), numHashes, rowsPerBand))
  }

  /** Exact n-gram Jaccard near-dup pairs (a < b, jaccard ≥ threshold).
    * O(Σ per-shingle df²) pair volume — the exact baseline for toy/
    * verification scale. At 100 TB a hot shingle (df ~ 10⁶) is a
    * cartesian bomb: either pass `maxShingleDf` to drop stop-shingles
    * from the *intersection* counts (denominators stay exact; the
    * resulting jaccard is a lower bound, so this trades a bounded
    * false-negative rate for survival — the win is proven on a
    * hot-shingle skew fixture in DedupSimilaritySpec), or use
    * [[minhashLshPairsDocs]], which only ever verifies LSH candidates.
    */
  def jaccardPairs(sh: DataFrame, threshold: Double,
                   maxShingleDf: Option[Int] = None): DataFrame = {
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    scoreJaccard(sharedShingles(sh, maxShingleDf), sizes, threshold)
  }

  /** Shared-shingle counts `(a, b, i)` of every doc pair (a < b), with
    * the shingles above `maxShingleDf` dropped first (the hot-shingle
    * survival mode of [[jaccardPairs]] and [[containmentPairs]]).
    *
    * No self-join: group docs per shingle once (one shuffle of |sh|),
    * then emit each shingle's doc pairs through TWO chained generators
    * — posexplode picks `a`, a second explode of the tail slice
    * streams each `b`. Pair volume matches the join's output, but peak
    * per-row memory is O(df) (the doc list itself; 8 MB at df = 10⁶),
    * never the O(df²) a single flattened in-row pair array would
    * materialize before exploding. Beyond that df, `maxShingleDf` is
    * the survival mode.
    */
  private def sharedShingles(sh: DataFrame,
                             maxShingleDf: Option[Int]): DataFrame = {
    val kept = maxShingleDf match {
      case Some(cap) =>
        val hot = sh.groupBy(col("shingle"))
          .agg(count(lit(1)).as("df")).filter(col("df") > cap)
          .select(col("shingle"))
        sh.join(hot, Seq("shingle"), "left_anti")
      case None => sh
    }
    kept.groupBy(col("shingle"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ds"))
      .select(col("ds"), posexplode(col("ds")).as(Seq("pos", "a")))
      .select(col("a"),
        explode(slice(col("ds"), col("pos") + lit(2), size(col("ds"))))
          .as("b"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("i"))
  }

  /** MinHash estimator CALIBRATION (d21): for every exact-Jaccard
    * pair ≥ `minJaccard`, the number of agreeing slots in the two
    * docs' `numHashes`-slot MinHash signatures — the estimator's raw
    * statistic (E[matches/k] = J, Broder 1997) laid beside the exact
    * value it estimates. Because the md5-chunk permutation profile is
    * deterministic and oracle-mirrored, the estimate itself
    * hash-verifies: the gate certifies the engine's approximation
    * machinery, not just its exact operators (the error BAND over the
    * corpus is then a spec-side assertion on this output). Signatures
    * come from the mergeable [[graft.expressions.MinHashAgg]] sketch;
    * slot agreement is one in-row zip.
    */
  def minhashCalibration(sh: DataFrame, numHashes: Int,
                         minJaccard: Double): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge._
    val sketch = column(graft.expressions.MinHashAgg(
      expression(col("shingle")), numHashes).toAggregateExpression())
    val sigs = sh.groupBy(col("doc_id")).agg(sketch.as("mh"))
    jaccardPairs(sh, minJaccard)
      .join(sigs.select(col("doc_id").as("a"), col("mh").as("ma")), "a")
      .join(sigs.select(col("doc_id").as("b"), col("mh").as("mb")), "b")
      .select(col("a"), col("b"), col("jaccard"),
        size(filter(zip_with(col("ma"), col("mb"), (x, y) => x === y),
          p => p)).as("est_matches"))
  }

  /** Asymmetric shingle-containment pairs: containment(a→b) =
    * |S(a)∩S(b)| / |S(a)| ≥ threshold, emitted DIRECTED (both a→b
    * and b→a can qualify independently). The dedup signal Jaccard
    * misses: a short document quoted whole inside a long one has
    * containment ≈ 1 while its Jaccard ≈ |S(a)|/|S(b)| can sit far
    * under any near-dup threshold (Broder 1997 distinguishes
    * resemblance from containment for exactly this).
    *
    * Same pair-generation shape as [[jaccardPairs]] — per-shingle doc
    * lists through chained generators, never a shingle self-join —
    * each undirected candidate is scored once and emitted in both
    * directions (the two denominators differ). Same hot-shingle
    * survival mode (`maxShingleDf`) as the Jaccard baseline.
    */
  def containmentPairs(sh: DataFrame, threshold: Double,
                       maxShingleDf: Option[Int] = None): DataFrame = {
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val inter = sharedShingles(sh, maxShingleDf)
    // both directions emitted in ONE pass over the intersection
    // aggregate (a union of two reads would re-execute the whole
    // shingle pipeline per branch — the dupClustersStar lesson)
    val directed = inter.select(explode(array(
        struct(col("a"), col("b"), col("i")),
        struct(col("b").as("a"), col("a").as("b"), col("i")))).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"), col("p.i").as("i"))
    directed
      .join(sizes.as("sa"), col("a") === col("sa.doc_id"))
      .select(col("a"), col("b"),
        (col("i").cast("double") / col("sa.n")).as("containment"))
      .filter(col("containment") >= threshold)
  }

  /** The prefix-filter join (`prefixFilterStagesHashed`) on string
    * shingles, with the pin-release handle: the result plan's verify
    * join reads the internally persisted corpus-sized `docSets`
    * table, so the pin lives until the caller consumes the result and
    * calls `release()` ([[graft.core.Leased]]).
    */
  def prefixFilterPairsLeased(sh: DataFrame,
                              threshold: Double): graft.core.Leased = {
    val st = prefixFilterStages(sh, threshold)
    graft.core.Leased(st.result, Seq(st.docSets))
  }

  /** Intermediate frames of the prefix-filter join, exposed for
    * stage-level tests and plan audits. */
  private[graft] case class PrefixStages(docSets: DataFrame,
                                         cands: DataFrame,
                                         survivors: DataFrame,
                                         result: DataFrame)

  /** Cost-based exact Jaccard self-join (round 15, VERDICT r14 #5):
    * the identical lossless `jaccard ≥ threshold` relation is
    * computable two ways, and SCALE.md's measured strategy matrix
    * says which wins where — all-shared-shingle emission
    * ([[jaccardPairs]] unbounded) on a benign shingle-frequency
    * profile (pseudo-sf1: 11.9 s vs the prefix path's 41.7 s, because
    * the prefix path pays a df join, a per-doc rarest-first sort and
    * a candidate verify join for pruning a benign corpus barely
    * needs), prefix filtering (`prefixFilterStagesHashed`) under a
    * heavy-tailed df (one hot shingle makes the emission's pair
    * volume quadratic — the planted-skew spec measures a >1000×
    * volume ratio — while rarest-first prefixes exclude it with NO
    * lossy cap). This operator reads the decision off the observed df
    * distribution itself: the emission's EXACT pre-dedup candidate
    * volume is Σ_shingle df·(df−1)/2, one narrow aggregate over the
    * df table the prefix path needs anyway, and emission wins while
    * that volume stays within `emissionBudgetPerOcc` candidates per
    * shingle OCCURRENCE (the linear-work unit both paths share). The
    * default 16 sits an order of magnitude inside either measured
    * regime (DedupSimilaritySpec pins the decision on both fixture
    * shapes; both paths are spec-equal to the string-relation
    * jaccardPairs, so the choice is invisible to results — only the
    * plan changes with the corpus, which is the point).
    *
    * The hashed shingle frame is persisted: the decision aggregate
    * and both paths' 2-3 consumers read one materialization instead
    * of re-running the upstream tokenize+explode per consumer.
    * Callers (bench/verify sweeps, session stop) release it like
    * every query-lifetime pin.
    */
  def exactJaccardPairsAuto(shStr: DataFrame, threshold: Double,
      emissionBudgetPerOcc: Double = 16.0): DataFrame = {
    val sh = hashedShingles(shStr).persist()
    val dfTab = sh.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
    if (emissionWins(dfTab, emissionBudgetPerOcc))
      jaccardPairs(sh, threshold)
    else
      prefixFilterStagesHashed(sh, dfTab, threshold).result
  }

  /** Emission's exact pre-dedup candidate volume Σ df·(df−1)/2 and
    * the total occurrences Σ df of a (shingle, df) table; None for an
    * empty table. Both sums run in Double, exact below 2^53 and free
    * of overflow above it: a Long df·(df−1) overflows at df ≈ 3.04e9,
    * which ANSI mode turns into a query failure.
    */
  private[graft] def emissionStats(dfTab: DataFrame): Option[(Double, Double)] = {
    val df = col("df").cast("double")
    val row = dfTab.agg(
      sum(df * (df - lit(1.0))).as("pairs2"),
      sum(df).as("occ")).collect()(0)
    if (row.isNullAt(0) || row.isNullAt(1)) None
    else Some((row.getDouble(0) / 2.0, row.getDouble(1)))
  }

  /** The [[exactJaccardPairsAuto]] decision, exposed for the spec:
    * [[emissionStats]]' candidate volume vs the budget × total
    * occurrences. An empty corpus picks emission.
    */
  private[graft] def emissionWins(dfTab: DataFrame,
                                  emissionBudgetPerOcc: Double): Boolean =
    emissionStats(dfTab).forall { case (pairs, occ) =>
      pairs <= emissionBudgetPerOcc * occ
    }

  // shingles ride as xxhash64 i64s from here on: prefix-filter
  // COMPLETENESS only needs a consistent global order (Bayardo et
  // al. 2007 — any fixed order works; rarest-first is the good
  // heuristic and df is hash-invariant), and Jaccard over hashed
  // sets equals Jaccard over the strings absent a 64-bit collision
  // (which would perturb one pair's jaccard and fail the standing
  // d20 oracle loudly — ~2^-64·pairs odds). Longs cut the verify
  // join's array bytes ~3× vs shingle strings and make the
  // intersect a primitive-table probe (IntersectCountI64); the
  // ≡ jaccardPairs losslessness spec runs on the STRING relation,
  // so it also cross-checks the hashing end to end.
  private def hashedShingles(shStr: DataFrame): DataFrame =
    shStr.select(col("doc_id"), xxhash64(col("shingle")).as("shingle"))

  private[graft] def prefixFilterStages(shStr: DataFrame,
                                        threshold: Double): PrefixStages = {
    val sh = hashedShingles(shStr)
    prefixFilterStagesHashed(sh,
      sh.groupBy(col("shingle")).agg(count(lit(1)).as("df")), threshold)
  }

  /** The EXACT set-similarity self-join via prefix filtering (the
    * AllPairs/PPJoin family — Bayardo et al. 2007; Xiao et al. 2008
    * Lemma 1): same relation as [[jaccardPairs]] — (a < b,
    * jaccard ≥ threshold), NO false negatives — but candidates come
    * only from shared PREFIX elements. Order every doc's shingle set
    * rarest-first (global (df, shingle) order) and keep the first
    * n − ⌈t·n⌉ + 1 elements: any pair with J ≥ t must intersect in
    * both prefixes (a no-prefix-overlap pair has all common elements
    * inside both suffixes, so i ≤ ⌈t·n⌉ − 1 < t·n ≤ i —
    * contradiction). The exact LOSSLESS scale path between d02's
    * all-shared-shingle emission and d03's probabilistic LSH.
    *
    * Scale shape: the df table is one shuffle of shingle counts;
    * per-doc rarest-first sort is doc-local; candidate emission
    * reuses the chained-generator per-shingle doc lists, but over
    * PREFIX occurrences only — a stop-shingle shared by every doc
    * sits at the END of the frequency order, outside almost every
    * prefix, so the hot-shingle cartesian bomb that forces d02's
    * `maxShingleDf` cap largely defuses itself (planted-skew
    * measurement in DedupSimilaritySpec). Verification is one in-row
    * `array_intersect` per surviving candidate over the persisted
    * per-doc rarest-first shingle arrays (the
    * [[sortedNeighborhoodPairsSets]] pattern — the exploded
    * (pair × shingle) join re-shuffled corpus shingles once per
    * verify side). Two lossless pre-verify prunes run with NO extra
    * join — each prefix occurrence carries its (position, set-size)
    * ints through the candidate shuffle: the Arasu et al. 2006 length
    * filter (J ≥ t forces t·max(na,nb) ≤ min(na,nb)) and the PPJoin
    * POSITIONAL filter (Xiao et al. 2008: the first shared element's
    * positions bound the overlap by min(na−ia, nb−jb), which must
    * reach t/(1+t)·(na+nb)) — at the t=0.5 operating point the
    * prefix is half of every doc, so the positional bound does the
    * heavy candidate pruning. Losslessness (≡ [[jaccardPairs]]) is
    * asserted on random corpora in DedupSimilaritySpec.
    */
  private[graft] def prefixFilterStagesHashed(
      sh: DataFrame, dfTab: DataFrame,
      threshold: Double): PrefixStages = {
    require(threshold > 0 && threshold <= 1,
      s"threshold must be in (0, 1], got $threshold")
    // per-doc shingle array in rarest-first (df, shingle) order — the
    // prefix reads the order, the verify reads the set; persisted
    // because three consumers would otherwise re-run the df join +
    // doc aggregation over the corpus. Released by
    // prefixFilterPairsLeased's handle, or by the caller's sweep.
    val docSets = sh.join(dfTab, "shingle")
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("df"), col("shingle"))))
        .as("ss"))
      .select(col("doc_id"),
        transform(col("ss"), p => p("shingle")).as("shset"))
      .persist()
    // prefix occurrences carry their 0-based position in the
    // rarest-first array AND the doc's set size: both ride the
    // per-shingle shuffle as two ints so the candidate filters below
    // need NO join against a corpus-sized `sizes` table (the original
    // form shuffled the full candidate set twice just to learn na/nb)
    val prefixes = docSets
      .select(col("doc_id"), size(col("shset")).as("n"),
        posexplode(slice(col("shset"), lit(1),
          (size(col("shset")) -
            ceil(lit(threshold) * size(col("shset"))) + 1).cast("int")))
          .as(Seq("pos", "shingle")))
    // chained-generator pair emission over each prefix shingle's
    // sorted (doc, pos, n) list; one aggregate folds the per-shared-
    // shingle duplicates (the old `.distinct()`) AND computes the
    // first-shared-element positions: positions within each doc are
    // monotone in the global (df, shingle) order, so min(pa) and
    // min(pb) over shared prefix shingles are attained at the SAME
    // (globally rarest) shared element.
    // Pair emission allocates INDEX sequences, not element copies
    // (round 11): the earlier `posexplode(ds)` + `explode(slice(ds,
    // i+2, m))` shape copied the struct TAIL of the doc list for
    // every outer element — Σ(m−i) ≈ m²/2 struct copies (~40 B each
    // in UnsafeArrayData) per shingle group, the allocation burst
    // behind d20's GC-pacing bimodality (SCALE.md round-11 forked
    // study, finding 3). `sequence` + `element_at` emits the same
    // (i < j) pair stream from 4-byte index arrays and O(1) array
    // probes — same codegen pipeline, ~10× fewer allocated bytes in
    // the emission stage. The size ≥ 2 guard is load-bearing:
    // Spark's `sequence(1, 0)` would DESCEND, not return empty.
    val cands = prefixes.groupBy(col("shingle"))
      .agg(sort_array(collect_list(
        struct(col("doc_id"), col("pos"), col("n")))).as("ds"))
      .filter(size(col("ds")) >= 2)
      .select(col("ds"),
        explode(sequence(lit(1), size(col("ds")) - lit(1))).as("i"))
      .select(col("ds"), element_at(col("ds"), col("i")).as("pa"),
        explode(sequence(col("i") + lit(1), size(col("ds")))).as("j"))
      .select(col("pa"), element_at(col("ds"), col("j")).as("pb"))
      .groupBy(col("pa.doc_id").as("a"), col("pb.doc_id").as("b"))
      .agg(min(col("pa.pos")).as("ia"), min(col("pb.pos")).as("jb"),
        max(col("pa.pos")).as("la"), max(col("pb.pos")).as("lb"),
        count(lit(1)).as("alpha"),
        max(col("pa.n")).as("na"), max(col("pb.n")).as("nb"))
    // Three lossless prunes, all from ints already riding the
    // candidate aggregate — no joins:
    //  1. Arasu length filter: J ≥ t ⇒ t·max(na,nb) ≤ min(na,nb).
    //  2. PPJoin positional filter (Xiao et al. 2008 Lemma 2), FIRST
    //     shared element: no shared element precedes the first shared
    //     one in either array ⇒ overlap ≤ min(na − ia, nb − jb).
    //  3. Suffix-capacity filter from the LAST shared prefix element
    //     (round 10 — the PPJoin accumulated-overlap accounting, free
    //     here because the pair aggregate already folds the shared
    //     prefix shingles): `alpha` = |prefix(a) ∩ prefix(b)| is the
    //     group's row count, and every OTHER shared element sits
    //     strictly after position la in a AND lb in b — both arrays
    //     are sorted by the same global (df, shingle) order, so an
    //     element in a's prefix below la but in b's suffix would have
    //     to order both before and after the la/lb elements, a
    //     contradiction. Hence overlap ≤ alpha +
    //     min(na−1−la, nb−1−lb), strictly tighter than #2 whenever
    //     alpha ≥ 2 (equal at alpha = 1, where la = ia).
    // J ≥ t needs overlap ≥ t/(1+t)·(na+nb) in all three.
    val survivors = cands
      .filter(lit(threshold) * greatest(col("na"), col("nb")) <=
        least(col("na"), col("nb")))
      .filter((lit(1.0) + lit(threshold)) *
        least(col("na") - col("ia"), col("nb") - col("jb")) >=
        lit(threshold) * (col("na") + col("nb")))
      .filter((lit(1.0) + lit(threshold)) *
        (col("alpha") +
          least(col("na") - lit(1) - col("la"),
            col("nb") - lit(1) - col("lb"))) >=
        lit(threshold) * (col("na") + col("nb")))
      .select(col("a"), col("b"))
    val sa = docSets.select(col("doc_id").as("a"), col("shset").as("__sa"))
    val sb = docSets.select(col("doc_id").as("b"), col("shset").as("__sb"))
    val result = survivors.join(sa, Seq("a")).join(sb, Seq("b"))
      .select(col("a"), col("b"),
        intersectCountI64(col("__sa"), col("__sb")).as("__i"),
        size(col("__sa")).as("__na"), size(col("__sb")).as("__nb"))
      .select(col("a"), col("b"),
        (col("__i").cast("double") /
          (col("__na") + col("__nb") - col("__i"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
    PrefixStages(docSets, cands, survivors, result)
  }

  private[graft] def scoreJaccard(inter: DataFrame, sizes: DataFrame,
                                  threshold: Double): DataFrame =
    inter
      .join(sizes.as("sa"), col("a") === col("sa.doc_id"))
      .join(sizes.as("sb"), col("b") === col("sb.doc_id"))
      .select(col("a"), col("b"),
        (col("i").cast("double") /
          (col("sa.n") + col("sb.n") - col("i"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)

  /** Band signatures on the production hash profile, computed IN-ROW
    * from a shingle-set array by the native one-sweep kernel
    * [[graft.expressions.MinHashBandsFastExpr]] — same FNV-1a+fmix64
    * permutations, same signed-long minima, same `'|'`-joined band
    * FNV as the group-by form (`DedupComposed.lshBandSignaturesFast`
    * in the specs; parity in ExpressionSpec); the
    * [[bandSignaturesInRow]] analogue for the production hash profile.
    */
  def bandSignaturesInRowFast(shingles: Column, numHashes: Int,
                              rowsPerBand: Int): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge._
    column(graft.expressions.MinHashBandsFastExpr(
      expression(shingles), numHashes, rowsPerBand))
  }

  /** [[minhashLshPairsDocs]] on the FNV-1a production profile — the
    * zero-corpus-shuffle form of the exploded-row pipeline
    * (`DedupComposed.minhashLshPairsFast` in the specs; identical
    * output, parity in DedupSimilaritySpec).
    */
  def minhashLshPairsFastDocs(docs: DataFrame, idCol: String,
                              tokens: Column, n: Int = 3,
                              numHashes: Int = 16, rowsPerBand: Int = 4,
                              threshold: Double = 0.5): DataFrame =
    lshPairsFromSets(shingleSets(docs, idCol, tokens, n),
      bandSignaturesInRowFast(col("shset"), numHashes, rowsPerBand),
      threshold)

  /** Candidate pairs from shared LSH buckets (a < b, distinct). */
  def lshCandidates(bands: DataFrame): DataFrame =
    bands.as("x").join(bands.as("y"),
        col("x.b") === col("y.b") && col("x.sig") === col("y.sig") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .distinct()

  /** Exact Jaccard computed ONLY for the given candidate pairs: each
    * candidate pulls its two shingle sets through equi-joins, so the
    * intersection work is O(Σ_cand |shingles|), never the all-pairs
    * self-join. This is what makes LSH pay off — the verification
    * cost scales with the candidates the bands produced, not with the
    * corpus.
    */
  def verifyJaccard(sh: DataFrame, cands: DataFrame,
                    threshold: Double,
                    sizesOpt: Option[DataFrame] = None): DataFrame = {
    val sizes = sizesOpt.getOrElse(
      sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n")))
    val inter = cands
      .join(sh.as("x"), col("a") === col("x.doc_id"))
      .join(sh.as("y"),
        col("b") === col("y.doc_id") &&
          col("x.shingle") === col("y.shingle"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("i"))
    scoreJaccard(inter, sizes, threshold)
  }

  /** Per-doc distinct shingle SETS (one array row per doc), the
    * zero-explode complement of [[shingles]] — token expression bound
    * before gram assembly for the same inline-blowup reason.
    */
  def shingleSets(docs: DataFrame, idCol: String, tokens: Column,
                  n: Int = 3): DataFrame =
    docs.select(col(idCol).as("doc_id"), tokens.as("__toks"))
      .select(col("doc_id"),
        array_distinct(Analysis.ngrams(col("__toks"), n)).as("shset"))

  /** Full MinHash-LSH near-dup pipeline computed from the documents
    * themselves with ZERO corpus-sized shuffle — the relation of the
    * exploded-row pipeline (`DedupComposed.minhashLshPairs` in the
    * specs: same bands, same candidates, same exact-Jaccard
    * verification; parity asserted in DedupSimilaritySpec).
    *
    * Where the exploded-row form shuffles every (doc, shingle) row into
    * a group-by to aggregate minhashes, here the band signatures come
    * straight out of the scan projection
    * ([[bandSignaturesInRow]], the native one-sweep kernel), so the
    * only full-width exchange is the (doc_id, b, sig) band
    * self-join — numBands small rows per document. Exact-Jaccard
    * verification then re-shingles ONLY candidate documents: the
    * candidate-id semi-join is pushed below the shingle projection
    * (doc_id is a pass-through column), so the expensive gram pass
    * runs once over the corpus (bands) plus once over the candidates
    * (verify) instead of four corpus-sized times. Set sizes are
    * `size(shset)` in-row — the separate count group-by disappears
    * too.
    */
  def minhashLshPairsDocs(docs: DataFrame, idCol: String,
                          tokens: Column, n: Int = 3,
                          numHashes: Int = 16, rowsPerBand: Int = 4,
                          threshold: Double = 0.5): DataFrame =
    lshPairsFromSets(shingleSets(docs, idCol, tokens, n),
      bandSignaturesInRow(col("shset"), numHashes, rowsPerBand), threshold)

  /** The body of [[minhashLshPairsDocs]] and [[minhashLshPairsFastDocs]]
    * over per-doc shingle `sets`, given the in-row band-signature
    * column of either hash profile.
    */
  private def lshPairsFromSets(sets: DataFrame, bandSigs: Column,
                               threshold: Double): DataFrame = {
    val bands = sets
      .select(col("doc_id"), explode(bandSigs).as("bs"))
      .select(col("doc_id"), col("bs.b").as("b"), col("bs.sig").as("sig"))
    val cands = lshCandidates(bands)
    val candIds = cands
      .select(explode(array(col("a"), col("b"))).as("doc_id")).distinct()
    val candSets = sets.join(candIds, Seq("doc_id"), "left_semi")
    val candSh = candSets
      .select(col("doc_id"), explode(col("shset")).as("shingle"))
    val sizes = candSets.select(col("doc_id"), size(col("shset")).as("n"))
    verifyJaccard(candSh, cands, threshold, Some(sizes))
  }

  /** Persist a MinHash-LSH near-dup index for
    * [[incrementalNearDupsSets]] from per-doc shingle SETS
    * ([[shingleSets]]): the production-profile band signatures
    * (in-row kernel, ≡ the specs' `DedupComposed.lshBandSignaturesFast`
    * group-by) and the
    * shingle rows the exact-Jaccard verify needs. Build-once /
    * dedupe-many: the corpus is shingled and hashed exactly once, and
    * every incoming batch afterwards pays only its own shingling plus
    * a candidates-bounded verify against the stored rows — the
    * existing corpus is never re-hashed. Overwriting a path drops its
    * cached reads (`core.IndexCache`).
    */
  def writeNearDupIndexSets(sets: DataFrame, path: String,
                            numHashes: Int = 16,
                            rowsPerBand: Int = 4): Unit = {
    sets.select(col("doc_id"),
        explode(bandSignaturesInRowFast(col("shset"), numHashes,
          rowsPerBand)).as("bs"))
      .select(col("doc_id"), col("bs.b").as("b"), col("bs.sig").as("sig"))
      .write.mode("overwrite").parquet(s"$path/bands")
    sets.select(col("doc_id"), explode(col("shset")).as("shingle"))
      .write.mode("overwrite").parquet(s"$path/shingles")
    IndexCache.invalidate(sets.sparkSession, path)
  }

  /** Near-dup pairs between a NEW batch of docs, given as shingle
    * SETS, and a persisted [[writeNearDupIndexSets]] index — exactly
    * the exploded-row relation (`DedupComposed.minhashLshPairsFast` in
    * the specs) restricted to batch×index pairs (the d12 oracle
    * asserts that identity; the exploded-row index it replaced is the
    * parity spec). Id spaces must be disjoint,
    * batch ids below index ids, to keep the a<b pair convention.
    *
    * The index tables are read once per session and path
    * (`core.IndexCache`), so a warm probe lists nothing and reads no
    * schema. The index is only scanned — never shuffled, never
    * broadcast. The batch is the small side: its in-row band
    * signatures are broadcast, and the stored band rows stream through
    * that hash join; the distinct (batch, index) candidate pairs are
    * broadcast, each stored shingle row of a candidate index doc meets
    * them, and a broadcast of the batch's shingle rows marks the
    * shared ones. One aggregate per pair then gives the intersection
    * and the index doc's set size (its stored rows are its distinct
    * shingles). Only aggregated pairs cross a shuffle. A batch doc
    * with no shingle has no band and so no pair, as in the join form.
    */
  def incrementalNearDupsSets(spark: SparkSession, path: String,
                              newSets: DataFrame, numHashes: Int = 16,
                              rowsPerBand: Int = 4,
                              threshold: Double = 0.5): DataFrame = {
    val idxBands = IndexCache.read(spark, s"$path/bands")
    val idxSh = IndexCache.read(spark, s"$path/shingles")
    val newBands = newSets.select(col("doc_id").as("a"),
        size(col("shset")).as("na"),
        explode(bandSignaturesInRowFast(col("shset"), numHashes,
          rowsPerBand)).as("bs"))
    val cands = idxBands.join(broadcast(newBands),
        col("b") === col("bs.b") && col("sig") === col("bs.sig"))
      .select(col("a"), col("na"), col("doc_id").as("b"))
      .distinct()
    val newSh = newSets.select(col("doc_id").as("x_a"),
      explode(col("shset")).as("x_shingle"))
    idxSh.join(broadcast(cands), col("doc_id") === col("b"))
      .join(broadcast(newSh), col("a") === col("x_a") &&
        col("shingle") === col("x_shingle"), "left_outer")
      .groupBy(col("a"), col("b"), col("na"))
      .agg(count(col("x_a")).as("i"), count(lit(1)).as("nb"))
      .filter(col("i") > 0)
      .select(col("a"), col("b"),
        (col("i").cast("double") /
          (col("na") + col("nb") - col("i"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** The full tokens→fingerprint chain as ONE codegen'd expression
    * ([[graft.expressions.SimHashText]]): md5 + top-60-bit hash + vote
    * loop fused, no interpreted HOF pass and no intermediate hash
    * array. Value-identical to the composed chain
    * (`DedupComposed.simhash` in the specs).
    */
  def simhashTextNative(tokens: Column): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.expressions.SimHashText(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(tokens)))

  /** Hamming distance between two simhash fingerprints. */
  def hammingDist(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup pairs within a Hamming radius, multi-band exact:
    * the 60-bit fingerprint splits into `numBands` disjoint bands and
    * docs are bucketed once per (band index, band bits). By
    * pigeonhole, any pair within Hamming distance ≤ numBands−1 agrees
    * exactly on at least one band — with the default 4×15-bit bands,
    * recall is 1.0 for maxDist ≤ 3 (asserted by a planted-pair spec).
    * Each band join is bucket-local; a pair sharing several bands is
    * deduped by the group-by. At 100 TB, widen numBands to keep the
    * per-bucket population flat (recall guarantee then covers
    * numBands−1 flips).
    */
  def simhashPairs(docs: DataFrame, idCol: String, tokens: Column,
                   maxDist: Int = 3, numBands: Int = 4): DataFrame = {
    require(maxDist <= numBands - 1,
      s"recall guarantee needs numBands > maxDist (got $numBands bands, dist $maxDist)")
    val bandBits = 60 / numBands
    val mask = (1L << bandBits) - 1
    val fp = docs
      .select(col(idCol).as("doc_id"), simhashTextNative(tokens).as("fp"))
    val bands = (0 until numBands).map(b =>
      struct(lit(b).as("band"),
        shiftright(col("fp"), b * bandBits).bitwiseAND(mask).as("bits")))
    val bucketed = fp.select(col("doc_id"), col("fp"),
      explode(array(bands: _*)).as("bb"))
    bucketed.as("x").join(bucketed.as("y"),
        col("x.bb") === col("y.bb") &&
          col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .agg(first(hammingDist(col("x.fp"), col("y.fp"))).as("dist"))
      .filter(col("dist") <= maxDist)
  }

  /** Benchmark-contamination check (test-set decontamination): for
    * every corpus document sharing at least one shingle with the eval
    * set, report the overlap count and the contaminated fraction of
    * its shingles. Scale shape: the eval side (a benchmark suite) is
    * small by nature, so its distinct shingles are broadcast — the
    * 100 TB corpus side joins map-side and never shuffles; the only
    * shuffles are the two per-doc count aggregations on doc_id.
    */
  def contamination(corpusSh: DataFrame, evalSh: DataFrame): DataFrame = {
    val evalShingles = evalSh.select(col("shingle")).distinct()
    val sizes = corpusSh.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"))
    val overlap = corpusSh.join(broadcast(evalShingles), Seq("shingle"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_overlap"))
    overlap.join(sizes, Seq("doc_id"))
      .select(col("doc_id"), col("n_overlap"),
        (col("n_overlap").cast("double") / col("n_shingles"))
          .as("contamination"))
  }

  /** [[contamination]] for when the eval suite is itself too large to
    * broadcast as an exact shingle set (many benchmarks × many
    * shingles): the two-phase runtime-filter pattern, with identical
    * output.
    *
    * Phase 1 reduces the eval shingles to Spark's own runtime-filter
    * sketch — `BloomFilterAggregate` over `xxhash64`, a distributed
    * agg whose result is a fixed `numBits` of bloom bits however big
    * the eval side is. Phase 2 prunes the corpus scan with
    * `might_contain` — codegen'd, map-side, zero shuffle, exactly
    * what AQE's InjectRuntimeFilter builds for shuffle joins, here
    * applied deliberately. Phase 3 exact-confirms only the surviving
    * candidates with a semi join, so bloom false positives never
    * reach the result: output ≡ [[contamination]] row for row, which
    * is what lets d08 share d07's DuckDB oracle.
    */
  def contaminationBloom(corpusSh: DataFrame, evalSh: DataFrame,
      expectedItems: Long = 1L << 22,
      numBits: Long = 1L << 25): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{
      BloomFilterMightContain, Literal}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.graftbridge.ColumnBridge
    import org.apache.spark.sql.types.BinaryType
    val bloomAgg = ColumnBridge.column(
      new BloomFilterAggregate(
        ColumnBridge.expression(xxhash64(col("shingle"))),
        Literal(expectedItems), Literal(numBits)).toAggregateExpression())
    val bloomBits = evalSh.select(bloomAgg.as("bf")).head.getAs[Array[Byte]](0)
    val mightContain = ColumnBridge.column(new BloomFilterMightContain(
      Literal.create(bloomBits, BinaryType),
      ColumnBridge.expression(xxhash64(col("shingle")))))
    val sizes = corpusSh.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"))
    val overlap = corpusSh.filter(mightContain)
      .join(evalSh.select(col("shingle")).distinct(), Seq("shingle"),
        "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_overlap"))
    overlap.join(sizes, Seq("doc_id"))
      .select(col("doc_id"), col("n_overlap"),
        (col("n_overlap").cast("double") / col("n_shingles"))
          .as("contamination"))
  }

  /** Connected components over a near-dup pair list: every document
    * that appears in some pair is labeled with the minimum doc id of
    * its duplicate cluster — the canonical representative a keep-one
    * dedup pass retains. Pair lists don't close over transitivity
    * (A~B, B~C need not include A~C), so grouping needs components,
    * not just the pairs.
    *
    * Algorithm: iterative min-label propagation. Each round every
    * node takes the min of its own label and its neighbors' labels —
    * one equi-join of the (persisted) symmetric edge list against the
    * label table plus one hash-aggregate, i.e. two key shuffles, no
    * data-dependent fan-out. The label table is `localCheckpoint`ed
    * per round so the loop's lineage stays O(1) (on a cluster with a
    * checkpoint dir, `checkpoint` — same contract). Convergence takes
    * ≤ diameter rounds; LSH dup clusters are near-cliques (diameter
    * ~2), so this beats the O(log n)-round large-star/small-star
    * scheme (Kiveris et al., "Connected Components in MapReduce and
    * Beyond") on its constant factor; swap that in for adversarially
    * chainy graphs — `maxIters` is the guard that detects one.
    * Measured rounds-vs-diameter (DupClustersSpec, planted paths):
    * a diameter-d chain needs `maxIters = d` exactly — converges at
    * d, trips the guard at d-1 — so the default 25 tolerates any
    * graph of diameter ≤ 25, vastly beyond near-dup cliques.
    *
    * Bounded local finish ([[graft.core.LocalFinish]]): the pair list
    * is materialized once and, when it fits, closed on the driver by
    * [[componentRoots]] — union by minimum id, the same min-id-per-
    * component relation for any graph shape (parity in
    * DupClustersSpec). `maxIters` and its fail-loud guard apply to
    * the distributed rounds only.
    *
    * Pin contract: the loop holds O(1) storage ([[graft.core.Checkpoints.roll]])
    * and the result plan is backed by the FINAL label checkpoint —
    * callers done with the materialized result free it with
    * `Checkpoints.release(result)` (harness sweeps do this between
    * queries; sessions free everything at stop).
    */
  def dupClusters(pairs: DataFrame, maxIters: Int = 25,
                  localFinishRows: Long = LocalFinish.MaxRows): DataFrame = {
    val p = pairs.select(col("a"), col("b")).persist()
    val nPairs = p.count()
    if (LocalFinish.fits(nPairs, EdgeBytes * nPairs, 1, localFinishRows)) {
      val es = p.collect().map(r => (r.getLong(0), r.getLong(1)))
      p.unpersist()
      val spark = pairs.sparkSession
      import spark.implicits._
      return componentRoots(es).toSeq.toDF("doc_id", "cluster_id")
    }
    val edges = p.select(col("a").as("src"), col("b").as("dst"))
      .union(p.select(col("b").as("src"), col("a").as("dst")))
      .persist()
    edges.count() // materialize once; every round re-reads this
    p.unpersist()
    // init fused with round 1: label(x) = min(x, min neighbor) is one
    // aggregation over the edge list — the separate distinct-nodes
    // pass and the first loop round would each cost the same shuffle.
    var labels = edges.groupBy(col("src"))
      .agg(min(col("dst")).as("nmin"))
      .select(col("src").as("node"),
        least(col("src"), col("nmin")).as("label"))
      .localCheckpoint()
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < maxIters) {
      val nbrMin = edges
        .join(labels.withColumnRenamed("node", "dst"), Seq("dst"))
        .groupBy(col("src")).agg(min(col("label")).as("nmin"))
        .withColumnRenamed("src", "node")
      // roll: the eager checkpoint materializes this round before the
      // previous round's blocks are freed — O(1) pinned storage across
      // the loop instead of one pinned label table per round.
      val merged = Checkpoints.roll(labels
        .join(nbrMin, Seq("node"), "left")
        .select(col("node"), col("label").as("old"),
          least(col("label"), coalesce(col("nmin"), col("label")))
            .as("label")), labels)
      changed = merged.filter(col("label") < col("old")).count()
      labels = merged.select(col("node"), col("label"))
      iter += 1
    }
    require(changed == 0,
      s"dupClusters did not converge in $maxIters rounds — graph " +
        "diameter exceeds the near-dup-cluster assumption; use " +
        "dupClustersStar for this input")
    edges.unpersist()
    labels.select(col("node").as("doc_id"), col("label").as("cluster_id"))
  }

  /** Driver bytes of one collected edge row: two Longs. */
  private val EdgeBytes = 16.0

  /** Driver union-find over a collected edge list: every node that
    * appears in an edge → its component's minimum id. Union by
    * minimum id makes each root that minimum, so the relation is
    * exact for any graph shape.
    */
  private def componentRoots(es: Array[(Long, Long)]): Array[(Long, Long)] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x
      while (parent.getOrElse(c, c) != c) {
        val nxt = parent.getOrElse(c, c); parent(c) = r; c = nxt
      }
      r
    }
    es.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) {
        if (ra < rb) parent(rb) = ra else parent(ra) = rb
      }
    }
    es.iterator.flatMap(e => Iterator(e._1, e._2)).toArray.distinct
      .map(nd => (nd, find(nd)))
  }

  /** One large-star round: every node u hangs its strictly-larger
    * neighbors off m = min(Γ(u) ∪ u). Edges come and go canonical
    * (bigger id first).
    */
  private def largeStar(e: DataFrame): DataFrame = {
    val sym = e.select(col("u"), col("v"))
      .union(e.select(col("v").as("u"), col("u").as("v")))
    val m = sym.groupBy(col("u")).agg(min(col("v")).as("nmin"))
      .select(col("u"), least(col("u"), col("nmin")).as("m"))
    // No distinct here: the follow-on small-star round min-aggregates
    // (duplicate-insensitive) and ends with its own distinct, so an
    // intermediate dedup would only add a shuffle per round.
    sym.join(m, Seq("u")).filter(col("v") > col("u"))
      .select(col("v").as("u"), col("m").as("v"))
  }

  /** One small-star round: every node u (as the larger endpoint of
    * its edges) hangs its smaller neighbors — and itself — off the
    * minimum among them.
    */
  private def smallStar(e: DataFrame): DataFrame = {
    val keyed = e.select(greatest(col("u"), col("v")).as("u"),
      least(col("u"), col("v")).as("v"))
    val m = keyed.groupBy(col("u")).agg(min(col("v")).as("m"))
    keyed.join(m, Seq("u"))
      .select(col("v").as("n"), col("m"))
      .union(m.select(col("u").as("n"), col("m")))
      .filter(col("n") =!= col("m"))
      .select(col("n").as("u"), col("m").as("v"))
      .distinct()
  }

  /** Connected components by alternating large-star/small-star
    * contraction (Kiveris et al., "Connected Components in MapReduce
    * and Beyond") — the escape hatch [[dupClusters]]'s guard points
    * at: O(log n) rounds on ANY graph shape, including paths whose
    * diameter would exhaust label propagation. Same output contract
    * as [[dupClusters]] (every node in some pair → its component's
    * min id); DupClustersSpec asserts equivalence on random graphs,
    * and d09 runs it against d06's recursive-CTE oracle.
    *
    * Each round is two groupBy+join passes over the current edge
    * list; the list only shrinks toward the star set (n-1 edges per
    * component), and convergence is detected by edge-set fixpoint
    * (count match + empty except, both cheap on the contracted set).
    * Per-round `localCheckpoint` keeps lineage O(1) — use
    * `checkpoint` on a real cluster.
    *
    * Bounded local finish ([[graft.core.LocalFinish]]): once the
    * contracted edge list fits, [[componentRoots]] closes it on the
    * driver — union by minimum id, so every root is its component's
    * min id, the same star forest the fixpoint reaches (the
    * GraphFrames/GraphX "finish small components locally" design).
    *
    * Pin contract: O(1) storage across rounds (rolling release); the
    * result plan references the `canon` checkpoint (and, on the
    * converged path, the final edge checkpoint) — callers free them
    * after consumption with `Checkpoints.release(result)`, which
    * finds every checkpoint leaf in the plan.
    */
  def dupClustersStar(pairs: DataFrame, maxIters: Int = 30,
      localFinishRows: Long = LocalFinish.MaxRows): DataFrame = {
    // Materialize the canonical pair list ONCE: both `selfOnly` (only
    // consumed at the very end) and the contraction loop's seed edges
    // hang off it, and without this the entire upstream pair pipeline
    // (LSH candidate generation + verify) re-executes per consumer.
    val canon = pairs
      .select(greatest(col("a"), col("b")).as("u"),
        least(col("a"), col("b")).as("v"))
      .localCheckpoint()
    // A node appearing ONLY in self-pairs (a == b) has no real edge,
    // so contraction never sees it — but dupClusters (label
    // propagation) would emit it as its own singleton cluster. Keep
    // the two output contracts identical by unioning those nodes back
    // at the end (minhashLshPairs guarantees a < b, so this is a
    // no-op filter for LSH-produced pair lists).
    val selfOnly = canon.filter(col("u") === col("v"))
      .select(col("u").as("n")).distinct()
    var edges = canon
      .filter(col("u") =!= col("v")).distinct()
      .localCheckpoint()
    var n = edges.count()
    var converged = false
    var iter = 0
    def fits = LocalFinish.fits(n, EdgeBytes * n, 1, localFinishRows)
    while (!converged && !fits && iter < maxIters) {
      val next = smallStar(largeStar(edges)).localCheckpoint()
      val nNext = next.count()
      converged = nNext == n && next.exceptAll(edges).isEmpty
      // the fixpoint check above was this round's last read of the old
      // edge snapshot — free its blocks so the loop pins O(1) storage
      Checkpoints.release(edges)
      edges = next
      n = nNext
      iter += 1
    }
    require(converged || fits,
      s"dupClustersStar did not converge in $maxIters rounds — the " +
        "proven worst-case bound for alternating large-star/small-star " +
        "is O(log² n) rounds, so an extremely deep pathological " +
        "graph can legitimately need more; raise maxIters before " +
        "suspecting a bug")
    // at the fixpoint the edge set is a star forest: u → root v
    val star =
      if (converged) edges
      else {
        val es = edges.collect().map(r => (r.getLong(0), r.getLong(1)))
        // the edge list now lives on the driver; free the pinned copy
        Checkpoints.release(edges)
        val spark = pairs.sparkSession
        import spark.implicits._
        componentRoots(es).filter { case (nd, r) => nd != r }.toSeq
          .toDF("u", "v")
      }
    val lone = selfOnly
      .join(star.select(col("u").as("n"))
          .union(star.select(col("v").as("n"))),
        Seq("n"), "left_anti")
    star.select(col("u").as("doc_id"), col("v").as("cluster_id"))
      .union(star.select(col("v").as("doc_id"),
        col("v").as("cluster_id")).distinct())
      .union(lone.select(col("n").as("doc_id"), col("n").as("cluster_id")))
  }

  /** Quality-aware duplicate resolution: decide, for every clustered
    * document, whether it is the cluster's keeper — the member with
    * the highest quality score, ties broken by lowest id. Returns
    * `(doc_id, cluster_id, quality, kept)` for every cluster member.
    *
    * Scale shape: the winner per cluster is a single hash aggregate —
    * `min(struct(-quality, doc_id))` — with map-side partial
    * aggregation, NOT a per-cluster window sort, so one pathological
    * mega-cluster (a boilerplate template with 10⁸ copies) costs a
    * combine instead of a single-reducer sort. Quality should be an
    * integer-valued column (token count, rule score) so cross-engine
    * comparisons are exact; float quality risks tie-order divergence.
    */
  def resolveClusters(clusters: DataFrame, docQuality: DataFrame): DataFrame = {
    val member = clusters.join(docQuality, Seq("doc_id"))
    val winners = member.groupBy(col("cluster_id"))
      .agg(min(struct((-col("quality")).as("nq"), col("doc_id")))
        .as("best"))
      .select(col("cluster_id"), col("best.doc_id").as("keep_id"))
    member.join(winners, Seq("cluster_id"))
      .select(col("doc_id"), col("cluster_id"), col("quality"),
        (col("doc_id") === col("keep_id")).as("kept"))
  }

  /** Dense global rank of every document under a cheap blocking key —
    * the sort stage of sorted-neighborhood dedup (Hernández & Stolfo,
    * SIGMOD '95 "The Merge/Purge Problem"). Returns (id, rank) with
    * rank 0..n−1 ordered by (key, id) — the id tie-break makes the
    * ranking (and everything downstream) deterministic.
    *
    * Scale shape: `sortBy` is Spark's range-partitioned distributed
    * sort (sampled range boundaries, every partition sorts locally —
    * the TeraSort shape, linear scale-out), and `zipWithIndex` derives
    * global offsets from one per-partition count pass — NO single-
    * reducer global window, which is what a naive
    * `row_number() OVER (ORDER BY key)` would be. Only (key, id)
    * pairs ride the sort, never document payloads.
    */
  def sortedNeighborhoodRanks(docs: DataFrame, idCol: String,
                              sortKey: Column): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(idCol).cast("long").as("id"),
        sortKey.cast("string").as("k"))
      .as[(Long, String)].rdd
      .map { case (id, k) => ((k, id), id) }
      .sortByKey()
      .values.zipWithIndex()
      .toDF("id", "rank")
  }

  /** Candidate pairs whose ranks differ by less than `window`,
    * normalized to (a, b) = (min id, max id). Each rank joins its own
    * and its predecessor rank-block of size `window`, so every pair
    * within the sliding window is met exactly once and each block
    * holds ≤ 2·window rows — the join fans out n/window well-spread
    * keys instead of windowing over a global order. Candidate count
    * is n·(window−1): linear in the corpus by construction.
    */
  def sortedNeighborhoodCands(ranked: DataFrame, window: Int): DataFrame = {
    require(window >= 2, s"window must be >= 2, got $window")
    val blk = floor(col("rank") / window).cast("long")
    val a = ranked.select(col("id").as("ida"), col("rank").as("ra"),
      blk.as("blk"))
    val b = ranked.select(col("id").as("idb"), col("rank").as("rb"),
      explode(array(blk, blk - 1)).as("blk"))
    a.join(b, "blk")
      .filter(col("rb") > col("ra") && col("rb") - col("ra") < window)
      .select(least(col("ida"), col("idb")).as("a"),
        greatest(col("ida"), col("idb")).as("b"))
  }

  /** Sorted-neighborhood near-dup pairs with verification on per-doc
    * shingle SET arrays (the exploded-row form,
    * `DedupComposed.sortedNeighborhoodPairs` in the specs, is its
    * parity spec): each candidate pair joins its two `shset` arrays and
    * the intersection is one in-row `array_intersect` instead of the
    * exploded (pair × shingle) join + re-aggregation. SNM emits
    * O(n·window) candidates — at 500k docs that is 5M pairs, and the
    * exploded verify materializes ~|shingles|-per-doc rows PER PAIR
    * before the count — so the in-row intersection removes the
    * verify's row blowup entirely; the gram pass also drops from
    * three persisted reads to two. Identical output for
    * `threshold > 0` (zero-intersection pairs: inner-join drops them
    * in the exploded form, the filter drops them here — parity in
    * DedupSimilaritySpec).
    */
  def sortedNeighborhoodPairsSets(docs: DataFrame, idCol: String,
                                  sortKey: Column, tokens: Column,
                                  window: Int,
                                  threshold: Double): DataFrame =
    sortedNeighborhoodPairsSetsLeased(docs, idCol, sortKey, tokens,
      window, threshold).df

  /** [[sortedNeighborhoodPairsSets]] with the pin-release handle: the
    * result joins the internally persisted hashed-set table twice, so
    * long-lived sessions consume this form and `release()`.
    */
  def sortedNeighborhoodPairsSetsLeased(docs: DataFrame, idCol: String,
      sortKey: Column, tokens: Column, window: Int,
      threshold: Double): graft.core.Leased = {
    require(threshold > 0,
      "threshold must be > 0 (zero-intersection pairs are dropped)")
    // shingle sets ride as xxhash64 i64s (the d20 discipline, see
    // prefixFilterStages): Jaccard over collision-free hashed sets
    // equals Jaccard over the strings, so the output relation — and
    // the standing d13 oracle row — is unchanged, while the persisted
    // set table and the two verify-join exchanges shrink ~3× and the
    // intersect probes a primitive long table. The hash runs inside
    // the one-time per-doc build (74-element arrays), not per pair.
    val sets = shingleSets(docs, idCol, tokens)
      .select(col("doc_id"),
        transform(col("shset"), s => xxhash64(s)).as("shset"))
      .persist()
    val cands = sortedNeighborhoodCands(
      sortedNeighborhoodRanks(docs, idCol, sortKey), window)
    val sa = sets.select(col("doc_id").as("a"), col("shset").as("__sa"))
    val sb = sets.select(col("doc_id").as("b"), col("shset").as("__sb"))
    val result = cands.join(sa, Seq("a")).join(sb, Seq("b"))
      .select(col("a"), col("b"),
        intersectCountI64(col("__sa"), col("__sb")).as("__i"),
        size(col("__sa")).as("__na"), size(col("__sb")).as("__nb"))
      .select(col("a"), col("b"),
        (col("__i").cast("double") /
          (col("__na") + col("__nb") - col("__i"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
    graft.core.Leased(result, Seq(sets))
  }

  /** Fuzzy self-join on a short key: all id pairs whose keys are
    * within edit distance 1 (insert/delete/substitute), found via the
    * FastSS deletion neighborhood (Bocek et al., 2007) — NO crossJoin
    * and no all-pairs `levenshtein`. Each key expands in-row to
    * itself plus its ≤`maxLen` single-character-deletion variants;
    * two keys are within distance 1 iff they collide on a variant
    * (equal → the key itself; substitution at i → both delete i;
    * insert/delete → the longer one's deletion equals the shorter
    * key), so an equi-join on the variant column is a COMPLETE
    * candidate generator and the final `levenshtein` filter only
    * confirms. Emits (a, b, dist), a < b.
    *
    * Scale shape: the variant join runs over DISTINCT key values, so
    * duplicate keys (exact-dup groups — the common case in a crawl)
    * cost ONE row in the join no matter the group size; variant-
    * bucket fan-out is bounded by genuinely-colliding distinct keys
    * (every collision is a true distance ≤ 2 key pair — deletion
    * neighborhoods are hash-free, no false buckets), never
    * |corpus|². Expanding key pairs back to id pairs is pure output
    * materialization: Θ(Σ group²) rows is what the pair-listing
    * CONTRACT asks for, not join work (a key owning a huge slice of
    * the corpus should be exact-deduped (d01) before fuzzy matching,
    * same as d02's hot-shingle discipline).
    */
  def fuzzyKeyJoin(df: DataFrame, idCol: String, key: Column,
                   maxLen: Int): DataFrame = {
    val keyed = df.select(col(idCol).cast("long").as("id"),
      key.cast("string").as("k"))
    val deletions = (1 to maxLen).map(i =>
      when(length(col("k")) >= i,
        concat(substring(col("k"), 1, i - 1),
          substring(col("k"), i + 1, maxLen))))
    val variants = keyed.select(col("k")).distinct()
      .select(col("k"), explode(array_distinct(array_compact(
        array((col("k") +: deletions): _*)))).as("v"))
    val keyPairs = variants.as("x").join(variants.as("y"),
        col("x.v") === col("y.v") && col("x.k") < col("y.k"))
      .select(col("x.k").as("ka"), col("y.k").as("kb"))
      .distinct()
      .select(col("ka"), col("kb"),
        levenshtein(col("ka"), col("kb")).as("dist"))
      .filter(col("dist") <= 1)
    val cross = keyPairs
      .join(keyed.select(col("k").as("ka"), col("id").as("ia")),
        Seq("ka"))
      .join(keyed.select(col("k").as("kb"), col("id").as("ib")),
        Seq("kb"))
      .select(least(col("ia"), col("ib")).as("a"),
        greatest(col("ia"), col("ib")).as("b"), col("dist"))
    val same = keyed.as("x").join(keyed.as("y"),
        col("x.k") === col("y.k") && col("x.id") < col("y.id"))
      .select(col("x.id").as("a"), col("y.id").as("b"),
        lit(0).as("dist"))
    cross.union(same)
  }

  /** Cross-document exact duplicated-substring spans — the windowed,
    * distributable form of ExactSubstr dedup (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better",
    * arXiv:2107.06499). Unlike near-dup pair listing (d02/d03, which
    * judges WHOLE documents similar) this finds the exact REGIONS
    * shared between otherwise-different documents — boilerplate,
    * quoted passages, license headers — so a curation pass can cut
    * the span and keep the rest of the document.
    *
    * Semantics: every length-`window` token run is an occurrence;
    * occurrences of content appearing ≥ 2 times corpus-wide are
    * duplicates, EXCEPT the one canonical occurrence (lexicographic
    * min (doc, pos) — "keep first, cut the rest", the same policy as
    * d01's keep-min exact dedup). Per document, surviving duplicate
    * positions whose windows overlap or touch merge into maximal
    * spans (gaps-and-islands). Returns (doc_id, span_start, span_end,
    * n_tokens), positions 1-based inclusive.
    *
    * Scale shape: Lee et al.'s suffix array is a single-machine
    * construction; the windowed hash form is the standard distributed
    * approximation (it finds every duplicated run ≥ `window` tokens,
    * as the union of its duplicated windows). Windows are fingerprinted
    * in-row by `xxhash64` over the sliced token array (seed-chained
    * per element, so element boundaries can't alias; no string
    * concatenation, 8-byte fingerprints — measured 2.3× over
    * md5-of-joined-text at pseudo-sf1) — the fingerprint is engine-
    * internal grouping only, the ORACLE groups by window content, so
    * a collision would surface as a gate mismatch rather than hide.
    * The shuffle carries (doc, pos, hash) — never text, and exactly
    * ONCE: frequency + canonical-occurrence pick ride one
    * count/min window over the hash partitioning (the groupBy+join
    * alternative shuffles the occurrence table twice and scans the
    * corpus twice; a same-content window group is duplication-sized,
    * and d01's exact-dedup pre-pass is the documented guard against a
    * pathological single-content corpus — the same discipline as
    * d02's hot-shingle cap). Span merging windows over pos
    * PARTITIONED BY doc — no global window anywhere. Positions pack
    * into doc·2^20+pos for the single-column min, bounding docs at
    * 2^20 windows (≈1M tokens) — enforced, not assumed.
    */
  def substringSpans(docs: DataFrame, idCol: String, tokens: Column,
                     window: Int = 5): DataFrame = {
    val occ = windowOccurrences(docs, idCol, tokens, window)
    val byHash = Window.partitionBy("h")
    val marked = occ
      .withColumn("__c", count(lit(1)).over(byHash))
      .withColumn("__canon", min(packedPos).over(byHash))
      .filter(col("__c") >= 2 && packedPos =!= col("__canon"))
      .select("doc_id", "pos")
    mergeIslands(marked, window)
  }

  /** (doc_id, pos, h): every length-`window` token run, fingerprinted
    * in-row (transform before posexplode, so the explode duplicates
    * 8-byte hashes, not token arrays). Positions are 1-based.
    */
  private def windowOccurrences(docs: DataFrame, idCol: String,
                                tokens: Column, window: Int): DataFrame = {
    require(window >= 2, s"window must be >= 2, got $window")
    val W = window
    docs.select(col(idCol).cast("long").as("doc_id"),
        tokens.as("__toks"))
      .filter(size(col("__toks")) >= W)
      .select(col("doc_id"), posexplode(transform(
        sequence(lit(1), size(col("__toks")) - W + 1),
        p => xxhash64(slice(col("__toks"), p, lit(W))))))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("pos"),
        col("col").as("h"))
  }

  /** (doc, pos) packed into one orderable long for the canonical-min
    * aggregate; bounds docs at 2^20 windows (≈1M tokens) — enforced.
    */
  private def packedPos: Column =
    when(col("pos") < lit(1048576L),
      col("doc_id") * lit(1048576L) + col("pos"))
      .otherwise(raise_error(
        lit("substringSpans: doc exceeds 2^20 windows")).cast("long"))

  /** Gaps-and-islands over marked (doc_id, pos) rows: positions whose
    * length-`window` windows overlap or touch merge into maximal
    * spans. Windows over pos PARTITIONED BY doc — never global.
    */
  private def mergeIslands(marked: DataFrame, window: Int): DataFrame = {
    val W = window
    val byDoc = Window.partitionBy("doc_id").orderBy("pos")
    val brk = when(col("pos") >
      coalesce(lag(col("pos"), 1).over(byDoc), lit(-W.toLong)) + W,
      1).otherwise(0)
    marked.withColumn("__island",
        sum(brk).over(byDoc.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("doc_id"), col("__island"))
      .agg(min("pos").as("span_start"),
        (max("pos") + W - 1).as("span_end"),
        (max("pos") + W - min("pos")).as("n_tokens"))
      .select("doc_id", "span_start", "span_end", "n_tokens")
  }

  /** Persist the corpus-side fingerprint set for
    * [[incrementalSubstringSpans]]: the DISTINCT window hashes — the
    * corpus is window-scanned exactly once, and the index is
    * content-diversity-sized (distinct runs), not corpus-sized.
    */
  def writeSubstringIndex(docs: DataFrame, idCol: String,
                          tokens: Column, path: String,
                          window: Int = 5): Unit =
    windowOccurrences(docs, idCol, tokens, window)
      .select("h").distinct()
      .write.mode("overwrite").parquet(path)

  /** Ingest-time substring dedup: spans for a NEW batch against an
    * immutable, already-ingested corpus ([[writeSubstringIndex]]).
    * Policy: a batch window is cut if its content exists ANYWHERE in
    * the corpus (the corpus is immutable, so its occurrence is always
    * the canonical one — regardless of id order), OR it duplicates
    * content within the batch and is not the batch's own keep-first
    * canonical. With an empty index this is exactly
    * [[substringSpans]] of the batch (spec-asserted).
    *
    * Scale shape: only the batch is window-scanned; the index joins
    * on 8-byte hashes (a small batch broadcasts, the index never
    * shuffles), and the batch-internal frequency rides the same
    * one-window pass as d15.
    */
  def incrementalSubstringSpans(spark: SparkSession, path: String,
                                batch: DataFrame, idCol: String,
                                tokens: Column,
                                window: Int = 5): DataFrame = {
    val idx = spark.read.parquet(path)
      .select(col("h"), lit(true).as("__in_idx"))
    val occ = windowOccurrences(batch, idCol, tokens, window)
    val byHash = Window.partitionBy("h")
    val marked = occ
      .withColumn("__c", count(lit(1)).over(byHash))
      .withColumn("__canon", min(packedPos).over(byHash))
      .join(idx, Seq("h"), "left")
      .filter(coalesce(col("__in_idx"), lit(false)) ||
        (col("__c") >= 2 && packedPos =!= col("__canon")))
      .select("doc_id", "pos")
    mergeIslands(marked, window)
  }

  /** Apply [[substringSpans]]' cuts: rebuild every document with its
    * duplicated spans removed — the "cut the span, keep the document"
    * curation pass (vs d10's whole-document drop). Returns
    * (doc_id, clean_text, n_removed); a doc whose entire text is a
    * duplicated span survives as an empty string (dropping it is the
    * caller's policy call), docs without spans pass through intact.
    *
    * Scale shape: the span list is duplication-sized, far smaller
    * than the corpus, and joins back by doc id (equi-join, AQE
    * broadcasts it when small); the splice itself is in-row — each
    * token position tested against its OWN doc's few spans inside
    * higher-order functions, no per-token shuffle, no re-explode of
    * the corpus.
    */
  def substringStrip(docs: DataFrame, idCol: String, tokens: Column,
                     window: Int = 5): DataFrame = {
    val spans = substringSpans(docs, idCol, tokens, window)
      .groupBy("doc_id")
      .agg(collect_list(struct(col("span_start").as("s"),
        col("span_end").as("e"))).as("__spans"))
    val t = docs.select(col(idCol).cast("long").as("doc_id"),
      tokens.as("__toks"))
    t.join(spans, Seq("doc_id"), "left")
      .withColumn("__spans", coalesce(col("__spans"),
        array().cast("array<struct<s:bigint,e:bigint>>")))
      .select(col("doc_id"),
        concat_ws(" ", transform(
          filter(
            transform(col("__toks"),
              (tok, i) => struct(tok.as("w"), (i + 1).cast("long").as("p"))),
            tp => !exists(col("__spans"),
              sp => tp("p") >= sp("s") && tp("p") <= sp("e")))
          , tp => tp("w"))).as("clean_text"),
        aggregate(col("__spans"), lit(0L),
          (acc, sp) => acc + sp("e") - sp("s") + 1).as("n_removed"))
  }

  /** WITHIN-document repeated-window strip — the doc-local complement
    * of [[substringStrip]] (d16 cuts runs duplicated ACROSS the
    * corpus; this cuts runs a document repeats INTERNALLY, the
    * "remove repeated boilerplate inside the page" pass of
    * C4/CCNet-style curation, cf. Raffel et al. 2020 §2.2's repeated
    * three-sentence rule). Policy matches d15/d16: keep the FIRST
    * occurrence, cut every later start whose `window`-token content
    * already appeared in the same doc; covered token positions are
    * spliced out in-row. Returns (doc_id, clean_text, n_removed) for
    * EVERY document (untouched docs pass through, n_removed = 0).
    *
    * Scale shape: the whole operator is IN-ROW — each doc sorts its
    * own (window-content, pos) structs (`array_sort`, O(n log n) per
    * doc) and marks all-but-first per content group by comparing
    * neighbours in the sorted order, so there is NO explode, NO
    * shuffle, NO join: embarrassingly parallel over the corpus, the
    * plan is a single projection (PLANS.md d19: EX=0). Contrast d15,
    * whose cross-corpus frequency needs one corpus-wide shuffle of
    * window hashes — doc-locality is exactly what buys the exchange
    * away. Comparisons are on window CONTENT (token-array equality),
    * not hashes — no collision risk, and the DuckDB oracle groups by
    * the same content. Memory per row is O(n·W) for the window
    * structs; for the ≥100k-token outliers of a web corpus, cap
    * upstream with the t10 chunker (the d15 2^20-window bound
    * discipline).
    */
  def intraDocStrip(docs: DataFrame, idCol: String, tokens: Column,
                    window: Int = 3): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge._
    val t = docs.select(col(idCol).cast("long").as("doc_id"),
      tokens.as("__toks"))
    // native one-pass seen-set kernel (expressions/IntraDocStripExpr)
    // — the composed array_sort form below is its executable spec
    // (random-corpus parity in ExpressionSpec); measured 86.9 → a few
    // seconds at pseudo-sf10 (SCALE.md)
    val st = column(graft.expressions.IntraDocStripExpr(
      expression(col("__toks")), window))
    t.select(col("doc_id"), st.as("__r"))
      .select(col("doc_id"),
        col("__r")("clean_text").as("clean_text"),
        col("__r")("n_removed").as("n_removed"))
  }

  /** Fixed-point PageRank-style centrality over the undirected
    * near-dup pair graph (Page et al. 1999; power iteration with
    * damping 0.85) — a canonical-pick signal to rank d10's
    * per-cluster keeper choice by connectivity: inside a duplicate
    * cluster, the copy most near-dup-linked to the rest is the
    * least-truncated / least-mangled representative.
    *
    * ALL arithmetic is integer — rank numerators in Q40 fixed point
    * (Scale = 2^40), per-edge contribution `r div deg`, damping
    * `(85·s) div 100`, base `((Scale·15) div 100) div n` — so sums
    * are order-independent and the whole trajectory is bit-identical
    * under any partitioning or engine: the e17 quantize-then-
    * integer-sum discipline applied to power iteration, which is
    * what lets a 5-round run be DuckDB-hash-verified (d18) instead
    * of tolerance-banded.
    *
    * Scale shape: one shuffle builds the degree table; each round is
    * edges ⋈ ranks on the node key + a dst-keyed partial-agg sum —
    * the Pregel cost, E-sized join and V-sized rank state per round,
    * nothing driver-side except the two scalar counts. Rounds are a
    * fixed literal (plan depth ∝ iters; for iters beyond ~50 insert
    * a localCheckpoint every ~16 rounds, the dupClusters
    * discipline). In a symmetric graph every node has deg ≥ 1 and
    * receives mass, so the per-round joins are total — no
    * outer-join patch-up.
    */
  def centralityFixedPoint(pairs: DataFrame, iters: Int,
      localFinishRows: Long = LocalFinish.MaxRows): DataFrame = {
    val Scale = 1L << 40
    // the pair derivation upstream (shingle → minhash → band join) is
    // the expensive part; checkpoint the symmetric edge list ONCE so
    // the 6 downstream consumers (deg + one join per round) read a
    // materialized V+E-sized table instead of re-running the LSH
    // pipeline per reference (first cut: 7.2 s at sf0.1; with the
    // checkpoint 1.7 s). Freed before return — the result is itself
    // checkpointed, so it survives the release (rolling discipline,
    // core/Checkpoints).
    val edges = pairs.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(pairs.select(col("b").as("src"), col("a").as("dst")))
      .distinct().localCheckpoint()
    // Bounded local finish (graft.core.LocalFinish): ALL arithmetic
    // is Q40 integer (order-independent, truncating div), so the power
    // iteration runs on the driver bit-identically when the symmetric
    // edge list fits (parity in DupClustersSpec).
    val nEdges = edges.count()
    if (LocalFinish.fits(nEdges, EdgeBytes * nEdges, iters,
        localFinishRows)) {
      val es = edges.collect().map(r => (r.getLong(0), r.getLong(1)))
      graft.core.Checkpoints.release(edges)
      val deg = scala.collection.mutable.Map.empty[Long, Long]
      es.foreach { case (s, _) => deg(s) = deg.getOrElse(s, 0L) + 1L }
      val n = deg.size.toLong
      require(n > 0, "centrality needs a non-empty pair graph")
      val base = (Scale * 15L / 100L) / n
      var r = deg.iterator.map { case (k, _) => k -> Scale / n }.toMap
      for (_ <- 1 to iters) {
        val s = scala.collection.mutable.Map.empty[Long, Long]
        es.foreach { case (src, dst) =>
          s(dst) = s.getOrElse(dst, 0L) + r(src) / deg(src)
        }
        // s.getOrElse, not s(k): the symmetric edge list built above
        // guarantees every node both sends and receives (the
        // LOAD-BEARING invariant of this local path), so the default
        // never fires on inputs this method constructs. It exists so
        // a future non-symmetrized caller gets a defined value (base
        // rank) instead of NoSuchElementException (ADVICE r14) — note
        // the distributed path would instead drop such a node via its
        // inner join, so symmetry is still required for parity.
        r = deg.iterator.map { case (k, _) =>
          k -> (base + 85L * s.getOrElse(k, 0L) / 100L) }.toMap
      }
      val spark = pairs.sparkSession
      import spark.implicits._
      return r.toSeq.map { case (k, v) => (k, v) }
        .toDF("doc_id", "rank_fp")
    }
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val n = deg.count()
    require(n > 0, "centrality needs a non-empty pair graph")
    var ranks = deg.select(col("src").as("id"), col("deg"),
      lit(Scale / n).as("r"))
    val base = (Scale * 15L / 100L) / n
    for (_ <- 1 to iters) {
      val sums = edges.join(ranks, edges("src") === ranks("id"))
        .select(col("dst"), expr("r div deg").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("s"))
      ranks = deg.join(sums, deg("src") === sums("dst"))
        .select(deg("src").as("id"), col("deg"),
          (lit(base) + expr("(85 * s) div 100")).as("r"))
    }
    // result is checkpoint-backed (V-sized); callers free it after
    // consumption with Checkpoints.release(result) — same contract as
    // dupClusters/dupClustersStar
    val out = ranks.select(col("id").as("doc_id"), col("r").as("rank_fp"))
      .localCheckpoint()
    graft.core.Checkpoints.release(edges)
    out
  }
}
