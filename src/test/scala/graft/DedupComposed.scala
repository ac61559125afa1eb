package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.operators.Dedup
import graft.operators.Dedup._

/** Executable specs of [[graft.operators.Dedup]]'s near-dup paths,
  * which only specs read: the exploded-row MinHash-LSH pipeline and
  * its band signatures (md5-chunk and FNV-1a profiles, and the
  * mergeable-sketch form), the composed Catalyst-HOF forms of the
  * in-row kernels, the SimHash chain the native kernels must match,
  * the string-shingle prefix filter and the exploded sorted
  * neighborhood, and keep-first and keep-best resolution over a
  * whole corpus.
  */
object DedupComposed {

  /** The composed Catalyst-HOF reference form of
    * [[bandSignaturesInRow]] (parity in ExpressionSpec). It runs one
    * `transform` pass per PERMUTATION — numHashes array passes, each
    * re-digesting every shingle, because subexpression elimination
    * cannot reach inside separate lambda scopes — so production call
    * sites use the kernel.
    *
    * Bind `shingles` to its own projected column first — it is read
    * numHashes times (the [[shingles]] / Ngrams token-binding rule).
    */
  def bandSignaturesInRowComposed(shingles: Column, numHashes: Int,
                                  rowsPerBand: Int): Column = {
    require(numHashes % rowsPerBand == 0,
      "numHashes must be a multiple of rowsPerBand")
    val mins = (0 until numHashes).map(h =>
      array_min(transform(shingles, s => minhashChunk(s, h))))
    val bands = (0 until numHashes / rowsPerBand).map { b =>
      struct(lit(b).as("b"),
        md5(concat((b * rowsPerBand until (b + 1) * rowsPerBand)
          .map(mins): _*)).as("sig"))
    }
    when(size(shingles) > 0, array(bands: _*))
      .otherwise(array().cast("array<struct<b:int,sig:string>>"))
  }

  /** The composed Catalyst-HOF reference form of [[intraDocStrip]] —
    * kept as the kernel's executable spec (ExpressionSpec asserts
    * parity on random corpora); the kernel replaced it in the d19
    * query path after the sort+exists chain measured 86.9 s at
    * pseudo-sf10.
    */
  def intraDocStripComposed(docs: DataFrame, idCol: String,
                            tokens: Column,
                            window: Int = 3): DataFrame = {
    require(window >= 2, s"window must be >= 2, got $window")
    val W = window
    val t = docs.select(col(idCol).cast("long").as("doc_id"),
      tokens.as("__toks"))
    val n = size(col("__toks"))
    // (content, pos) per window start; array_sort orders structs
    // field-by-field → content groups adjacent, first occurrence
    // (min pos) leading each group. Docs shorter than the window get
    // an EXPLICIT empty array — sequence(1, 0) would descend [1, 0].
    val wins = when(n >= lit(W), transform(
      sequence(lit(1), n - W + 1),
      p => struct(slice(col("__toks"), p, lit(W)).as("w"),
        p.cast("long").as("p"))))
      .otherwise(array().cast("array<struct<w:array<string>,p:bigint>>"))
    // all-but-first per content group: element i (0-based) is marked
    // iff its predecessor in sorted order carries the same content.
    // greatest(i,1) keeps element_at's 1-based index legal under ANSI
    // when i = 0 (the i > 0 conjunct already excludes that element).
    // The sorted array and the cut list are let-bound via Bind.once —
    // lambda VARIABLES, not project aliases — because Catalyst's
    // project collapsing would inline a column alias into the
    // downstream `exists(...)` consumer, which sits inside the
    // per-token filter lambda: the whole sort would then re-run per
    // TOKEN (measured ~60×: 7.1 s → 0.6 s at sf0.1 with the binding).
    import graft.expressions.Bind
    val keep = Bind.once(array_sort(wins)) { sw =>
      Bind.once(filter(
        transform(sw, (x, i) =>
          when(i > lit(0) &&
            element_at(sw, greatest(i, lit(1)))("w") === x("w"),
            x("p"))),
        e => e.isNotNull)) { cut =>
        filter(
          transform(col("__toks"),
            (tok, i) => struct(tok.as("w"), (i + 1).cast("long").as("p"))),
          tp => !exists(cut,
            p => tp("p") >= p && tp("p") <= p + lit(W - 1).cast("long")))
      }
    }
    t.select(col("doc_id"), col("__toks"), keep.as("__keep"))
      .select(col("doc_id"),
        concat_ws(" ", transform(col("__keep"), tp => tp("w")))
          .as("clean_text"),
        (size(col("__toks")) - size(col("__keep"))).cast("long")
          .as("n_removed"))
  }

  /** Per-doc LSH band signatures in ONE aggregation pass: the
    * `numHashes` MinHash permutations (chunked md5, see
    * [[minhashChunk]] — the lexicographic min of a uniform hash is a
    * valid MinHash, and deterministic/engine-portable) are
    * `numHashes` parallel `min` aggregates over a single doc_id
    * group-by, and each band signature is the md5 of its
    * `rowsPerBand` consecutive minhashes computed in the same
    * projection. One shuffle of |sh| rows total — no hash-id
    * cross-join row blowup, no second shuffle for banding.
    */
  def lshBandSignatures(sh: DataFrame, numHashes: Int,
                        rowsPerBand: Int): DataFrame = {
    require(numHashes % rowsPerBand == 0,
      "numHashes must be a multiple of rowsPerBand")
    val minCols = (0 until numHashes).map(h =>
      min(minhashChunk(col("shingle"), h)).as(s"m$h"))
    val grouped = sh.groupBy(col("doc_id"))
      .agg(minCols.head, minCols.tail: _*)
    val bands = (0 until numHashes / rowsPerBand).map { b =>
      struct(lit(b).as("b"),
        md5(concat((b * rowsPerBand until (b + 1) * rowsPerBand)
          .map(h => col(s"m$h")): _*)).as("sig"))
    }
    grouped.select(col("doc_id"), explode(array(bands: _*)).as("bs"))
      .select(col("doc_id"), col("bs.b").as("b"), col("bs.sig").as("sig"))
  }

  /** [[lshBandSignatures]] with the production hash profile: FNV-1a-64
    * permutations (`graft_fnv64('<h>|' || shingle)`) and FNV-1a band
    * signatures over the '|'-joined minima instead of
    * chunked/concatenated md5. Identical LSH structure and cost
    * shape — one |sh| shuffle — but one multiply-per-character hash
    * per (shingle, permutation) instead of a cryptographic digest per
    * 4, and long-typed signatures instead of 32-hex strings (smaller
    * shuffle rows too). Unlike the round-6 xxhash64 basis, FNV-1a is
    * pure mod-2^64 arithmetic the DuckDB oracle reproduces exactly
    * (see [[graft.expressions.Fnv64]]), so the production profile is
    * itself oracle-checked end-to-end (d05) rather than rows-only.
    * The two profiles still bucket near-threshold pairs differently
    * (any single hash family's band collisions are probabilistic at
    * low jaccard); DedupSimilaritySpec asserts the production
    * contract — no false positives, no missed high-jaccard pair.
    */
  def lshBandSignaturesFast(sh: DataFrame, numHashes: Int,
                            rowsPerBand: Int): DataFrame = {
    require(numHashes % rowsPerBand == 0,
      "numHashes must be a multiple of rowsPerBand")
    def fnv(c: Column): Column =
      org.apache.spark.sql.graftbridge.ColumnBridge.column(
        graft.expressions.Fnv64(
          org.apache.spark.sql.graftbridge.ColumnBridge.expression(c)))
    val minCols = (0 until numHashes).map(h =>
      min(fnv(concat(lit(s"$h|"), col("shingle")))).as(s"m$h"))
    val grouped = sh.groupBy(col("doc_id"))
      .agg(minCols.head, minCols.tail: _*)
    val bands = (0 until numHashes / rowsPerBand).map { b =>
      struct(lit(b).as("b"),
        fnv(concat_ws("|", (b * rowsPerBand until (b + 1) * rowsPerBand)
          .map(h => col(s"m$h").cast("string")): _*)).as("sig"))
    }
    grouped.select(col("doc_id"), explode(array(bands: _*)).as("bs"))
      .select(col("doc_id"), col("bs.b").as("b"), col("bs.sig").as("sig"))
  }

  /** Band signatures computed through the mergeable
    * [[graft.expressions.MinHashAgg]] sketch (one buffer per group in
    * partial agg instead of numHashes min columns; usable in
    * streaming state and shard-union folds). Value-identical output
    * to [[lshBandSignatures]] — same md5 hash basis — asserted in
    * MinHashAggSpec.
    */
  def lshBandSignaturesSketch(sh: DataFrame, numHashes: Int,
                              rowsPerBand: Int): DataFrame = {
    require(numHashes % rowsPerBand == 0)
    val sketch = org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.expressions.MinHashAgg(
        org.apache.spark.sql.graftbridge.ColumnBridge
          .expression(col("shingle")), numHashes)
        .toAggregateExpression())
    val grouped = sh.groupBy(col("doc_id")).agg(sketch.as("mh"))
    val bands = (0 until numHashes / rowsPerBand).map { b =>
      struct(lit(b).as("b"),
        md5(concat((b * rowsPerBand until (b + 1) * rowsPerBand)
          .map(h => element_at(col("mh"), h + 1)): _*)).as("sig"))
    }
    grouped.select(col("doc_id"), explode(array(bands: _*)).as("bs"))
      .select(col("doc_id"), col("bs.b").as("b"), col("bs.sig").as("sig"))
  }

  /** 32-hex-digit md5 digests carved into 8-hex-char (32-bit) chunks:
    * permutation h draws chunk h%4 of md5("<h/4>|<shingle>"), so
    * `numHashes` permutations cost ceil(numHashes/4) digests per row
    * instead of numHashes — md5's diffusion makes the chunks
    * independent uniform hashes, and 32 bits is ample MinHash
    * resolution for any realistic shingle-set size. Mirrored
    * verbatim in the DuckDB oracle and in [[graft.expressions.MinHashAgg]].
    */
  def minhashChunk(shingle: Column, h: Int): Column =
    substring(md5(concat(lit(s"${h / 4}|"), shingle)), (h % 4) * 8 + 1, 8)

  /** Full MinHash-LSH near-dup pipeline: shingle → band signatures →
    * bucket-join candidates → exact-Jaccard verification *of the
    * candidates only*. Identical output to filtering the exact
    * all-pairs result by candidates (same intersection counts, same
    * denominators), but the all-pairs join never runs.
    */
  def minhashLshPairs(sh: DataFrame, numHashes: Int = 16,
                      rowsPerBand: Int = 4,
                      threshold: Double = 0.5): DataFrame = {
    // NOTE: sizes deliberately stays a separate count-only group-by —
    // fusing it into the minhash aggregation makes that (md5-heavy)
    // subtree a shared child consumed twice, and without caching
    // Spark recomputes it per consumer (measured +30% at sf0.1).
    val cands = lshCandidates(lshBandSignatures(sh, numHashes,
      rowsPerBand))
    verifyJaccard(sh, cands, threshold)
  }

  /** [[minhashLshPairs]] on the FNV-1a production profile — same
    * candidate→verify pipeline, cheaper hashing. Verification is
    * exact Jaccard either way, so the two profiles can differ only in
    * near-threshold recall via bucket collisions (spec: no false
    * positives, all high-jaccard pairs found).
    */
  def minhashLshPairsFast(sh: DataFrame, numHashes: Int = 16,
                          rowsPerBand: Int = 4,
                          threshold: Double = 0.5): DataFrame = {
    val cands = lshCandidates(lshBandSignaturesFast(sh, numHashes,
      rowsPerBand))
    verifyJaccard(sh, cands, threshold)
  }

  /** The prefix-filter join ([[Dedup.prefixFilterStagesHashed]]) on
    * string shingles; its result must equal [[Dedup.jaccardPairs]].
    */
  def prefixFilterPairs(sh: DataFrame, threshold: Double): DataFrame =
    prefixFilterStages(sh, threshold).result

  /** Full sorted-neighborhood near-dup pass: rank by `sortKey`,
    * window the ranking into candidate pairs, exact-verify Jaccard on
    * the candidates only. Complements MinHash-LSH (d03): SNM catches
    * what the blocking key co-locates at O(n·window) candidates with
    * zero hashing cost — the classic cheap first pass when near-dups
    * share prefixes (crawl snapshots, versioned docs).
    */
  def sortedNeighborhoodPairs(docs: DataFrame, idCol: String,
                              sortKey: Column, tokens: Column,
                              window: Int, threshold: Double): DataFrame = {
    // persisted: the verification reads the shingle table three times
    // (sizes + both intersection sides) — without the persist each
    // read re-runs tokenize+ngram over the corpus, which dominated
    // the 100× decade (253 s at pseudo-sf10, ~3× the shingling cost).
    // The result plan reads it, so the pin lives until a caller-side
    // storage sweep.
    val sh = shingles(docs, idCol, tokens).persist()
    val cands = sortedNeighborhoodCands(
      sortedNeighborhoodRanks(docs, idCol, sortKey), window)
    verifyJaccard(sh, cands, threshold)
  }

  /** Per-token 60-bit hashes (15 hex chars of md5 → fits a signed
    * long in every engine). Materialize this as its own column before
    * calling [[simhashFromHashes]] so the md5s are computed once per
    * row, not once per bit.
    */
  def tokenHashes(tokens: Column): Column =
    transform(tokens, t => conv(substring(md5(t), 1, 15), 16, 10)
      .cast("long"))

  /** 60-bit SimHash from pre-hashed tokens: per-bit ±1 votes, sign →
    * bit, packed with literal shifts. Pure in-row Catalyst HOFs —
    * no shuffle, scales with the scan.
    */
  def simhashFromHashes(hvs: Column): Column =
    (0 until 60).map { b =>
      val vote = aggregate(hvs, lit(0L), (acc, hv) =>
        acc + when(shiftright(hv, b).bitwiseAND(1L) === 1L, 1L)
          .otherwise(-1L))
      when(vote > 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))

  def simhash(tokens: Column): Column = simhashFromHashes(tokenHashes(tokens))

  /** [[simhashFromHashes]] as the one-pass native expression
    * [[graft.expressions.SimHash60]] — value-identical (ExpressionSpec
    * asserts parity against the composed form), but whole-stage
    * codegen instead of 60 interpreted HOF traversals per document.
    * This is what the production path ([[simhashPairs]]) uses; the
    * composed form stays as the executable spec of the bit math.
    */
  def simhashNative(hvs: Column): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.expressions.SimHash60(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(hvs)))

  /** Keep-best near-duplicate removal over a whole corpus: close the
    * near-dup `pairs` into clusters ([[dupClusters]]), keep each
    * cluster's highest-quality member ([[resolveClusters]]), and pass
    * unclustered documents through untouched. Returns the deduped
    * corpus with `docs`' original columns.
    *
    * The corpus is only ever touched by one anti join against the
    * dropped-id set (clustered non-winners — by near-dup construction
    * a small fraction of the corpus), so the 100 TB side never
    * shuffles and never carries cluster metadata.
    */
  def resolveDuplicates(docs: DataFrame, idCol: String,
                        pairs: DataFrame, quality: Column): DataFrame = {
    val q = docs.select(col(idCol).cast("long").as("doc_id"),
      quality.cast("long").as("quality"))
    val dropped = resolveClusters(dupClusters(pairs), q)
      .filter(!col("kept")).select(col("doc_id"))
    docs.join(dropped, docs(idCol) === dropped("doc_id"), "left_anti")
  }

  /** Keep-first exact dedup: drops all but the min-id row per content. */
  def exactDedup(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val keep = exactGroups(docs, idCol, textCol).select(col("keep_id"))
    docs.join(keep, docs(idCol) === col("keep_id"), "left_semi")
  }
}
