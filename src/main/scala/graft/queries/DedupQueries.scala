package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{IndexCache, Tables}
import graft.operators.{Dedup, Similarity, Splits}
import graft.text.TextOps

/** Dedup + similarity-search operator pack (the training-data-pipeline
  * extensions): exact dedup, n-gram Jaccard, MinHash-LSH (md5-based,
  * so even the LSH path is DuckDB-verifiable), SimHash, brute-force
  * cosine KNN, and LSH-bucketed ANN.
  */
object DedupQueries {
  type Q = (SparkSession, String) => DataFrame

  private def docTokens(s: SparkSession) = TextOps.tokenize(col("text"))

  /** Fixed seeded PQ codebooks for the e10/e11 oracle anchors:
    * 64 dims → 4 subspaces × 16 centroids × 16 dims. The trained
    * profile stays in the specs (`SimilarityComposed.pqTrain`), the
    * e05/e08 discipline.
    */
  private lazy val pqCbs: Similarity.Codebooks =
    Similarity.seededCodebooks(numSub = 4, k = 16, dsub = 16)

  val queries: Map[String, Q] = Map(
    // Exact dedup groups: shuffle 16-byte hashes, not documents.
    "d01_dedup_exact" -> ((s, d) =>
      Dedup.exactGroups(Tables.documents(s, d), "doc_id", "text")),

    // Exact n-gram Jaccard near-dup pairs (threshold 0.5) on a fixed
    // 500-doc slice: all-pairs exact Jaccard is the quadratic
    // verification baseline, so — like e03 — its registered input is
    // bounded by construction (constant work across sf). The unbounded
    // scale path for the same semantics is d03; the hot-shingle
    // survival mode (maxShingleDf) is proven on a skew fixture in
    // DedupSimilaritySpec.
    "d02_jaccard_pairs" -> ((s, d) => {
      val sh = Dedup.shingles(
        Tables.documents(s, d).filter(col("doc_id") < 500), "doc_id",
        docTokens(s))
      Dedup.jaccardPairs(sh, 0.5)
    }),

    // Asymmetric containment pairs on the same bounded slice as d02:
    // directed |S(a)∩S(b)|/|S(a)| — the quoted-whole/subset signal a
    // symmetric Jaccard threshold misses. Same chained-generator pair
    // emission, same survival mode.
    "d11_containment_pairs" -> ((s, d) => {
      val sh = Dedup.shingles(
        Tables.documents(s, d).filter(col("doc_id") < 500), "doc_id",
        docTokens(s))
      Dedup.containmentPairs(sh, 0.6)
    }),

    // Planted hot-shingle skew stress (round-6 audit item: the
    // pseudo-scale fixtures never grow a key's group): every 3rd doc
    // on the d02 slice gains the same trailing boilerplate sentence,
    // making ONE shingle's df ~n/3 — the cartesian bomb that turns
    // exact pair generation quadratic on a single key.
    // `maxShingleDf = 50` disarms it (the planted shingle is dropped
    // from intersections, denominators stay exact); oracle mirrors
    // the cap, and SCALE.md records the measured capped/uncapped pair
    // volume and wall ratio.
    "sk03_skew_hot_shingle" -> ((s, d) => {
      val docs = Tables.documents(s, d).filter(col("doc_id") < 500)
        .withColumn("text",
          when(pmod(col("doc_id"), lit(3)) === 0,
            concat(col("text"), lit(" zz yy xx")))
            .otherwise(col("text")))
      val sh = Dedup.shingles(docs, "doc_id", docTokens(s))
      Dedup.jaccardPairs(sh, 0.5, maxShingleDf = Some(50))
    }),

    // MinHash-LSH: shingle → 16 minhashes → 4 bands → bucket-join →
    // exact-Jaccard verify on candidates only.
    "d03_minhash_lsh_pairs" -> ((s, d) =>
      // zero-corpus-shuffle form: in-row kernel band signatures,
      // verify re-shingles only candidate docs (≡ minhashLshPairs —
      // parity in DedupSimilaritySpec; the oracle is plan-agnostic)
      Dedup.minhashLshPairsDocs(Tables.documents(s, d), "doc_id",
        docTokens(s), n = 3, numHashes = 16, rowsPerBand = 4,
        threshold = 0.5)),

    // MinHash-LSH production hash profile: FNV-1a-64 permutations +
    // long band signatures — same pipeline as d03 at a fraction of
    // the hash cost and with narrower shuffle rows. FNV-1a is pure
    // mod-2^64 arithmetic, so unlike round 6's xxhash64 basis the
    // oracle mirrors the ENTIRE pipeline (HUGEINT modular multiply in
    // SQL) and d05 is hash-checked end-to-end, not rows-only. Spec
    // contract on top (DedupSimilaritySpec): no false positives vs
    // exact Jaccard, recall ≥ 0.9 on this corpus's high-jaccard
    // pairs, and full recall on a planted fixture with clean
    // statistics — per-pair band collisions are probabilistic in ANY
    // single hash family, and this corpus's 31-word vocabulary
    // correlates the luck.
    "d05_minhash_lsh_fast" -> ((s, d) =>
      // zero-corpus-shuffle form (the d03 discipline, FNV profile)
      Dedup.minhashLshPairsFastDocs(Tables.documents(s, d), "doc_id",
        docTokens(s), n = 3, numHashes = 16, rowsPerBand = 4,
        threshold = 0.5)),

    // Incremental near-dup against a PERSISTED signature index: docs
    // ≥ 100 play the existing corpus (shingled + hashed once, written
    // to disk), docs < 100 play the incoming batch; output is d05's
    // relation restricted to batch×corpus pairs — the oracle computes
    // exactly that restriction, so persistence round-trip + split
    // candidate generation are both hash-verified.
    "d12_incremental_neardup" -> ((s, d) => {
      // sets form: index bands and batch bands all in-row —
      // no corpus-wide group-by on either side of the persistence
      val sets = Dedup.shingleSets(Tables.documents(s, d), "doc_id",
        docTokens(s))
      val path = IndexCache.newIndexDir("graft-lsh-idx-")
      Dedup.writeNearDupIndexSets(sets.filter(col("doc_id") >= 100), path)
      Dedup.incrementalNearDupsSets(s, path,
        sets.filter(col("doc_id") < 100), threshold = 0.5)
    }),

    // Sorted-neighborhood dedup (Hernández–Stolfo): rank the corpus
    // by a space-stripped 16-char prefix (distributed TeraSort-shape
    // sort + zipWithIndex — no global window), pair ranks within a
    // 10-wide sliding window, exact-verify Jaccard on the candidates
    // only. The complementary cheap first pass to d03's MinHash-LSH.
    "d13_sorted_neighborhood" -> ((s, d) =>
      // sets-verify form: in-row array_intersect per candidate pair
      // (≡ the exploded verify — parity in DedupSimilaritySpec)
      Dedup.sortedNeighborhoodPairsSets(Tables.documents(s, d), "doc_id",
        substring(translate(col("text"), " ", ""), 1, 16),
        docTokens(s), window = 10, threshold = 0.5)),

    // Cross-split near-dup leakage report: the d03 near-dup relation
    // joined to sp01's deterministic split assignment on both ends,
    // keeping pairs that STRADDLE splits — the train/test
    // contamination check every eval pipeline needs (near-dups of
    // test docs inside train inflate benchmarks). Splits are per-row
    // hash expressions (no extra shuffle); the pair list is tiny next
    // to the corpus, so both id joins broadcast at scale.
    "d14_split_leakage" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val pairs = Dedup.minhashLshPairsDocs(docs, "doc_id",
        docTokens(s), n = 3, numHashes = 16, rowsPerBand = 4,
        threshold = 0.5)
      val sp = docs.select(col("doc_id"),
        Splits.splitName(
          Splits.hashBucket(col("doc_id"), "graft-split", 100),
          trainPct = 80, valPct = 10).as("split"))
      pairs
        .join(sp.select(col("doc_id").as("a"),
          col("split").as("split_a")), Seq("a"))
        .join(sp.select(col("doc_id").as("b"),
          col("split").as("split_b")), Seq("b"))
        .filter(col("split_a") =!= col("split_b"))
        .select(col("a"), col("b"), col("jaccard"),
          col("split_a"), col("split_b"))
    }),

    // Cross-document exact duplicated-substring spans (Lee et al.
    // 2022 ExactSubstr, windowed): every 5-token run occurring ≥ 2
    // times corpus-wide is cut everywhere but its first occurrence;
    // surviving positions merge into maximal per-doc spans. The
    // region-level complement of d02/d03's whole-document pair
    // listing — finds shared boilerplate inside otherwise-different
    // docs. Shuffles (doc, pos, md5) only; span merge windows
    // per-doc.
    "d15_substring_spans" -> ((s, d) =>
      Dedup.substringSpans(Tables.documents(s, d), "doc_id",
        docTokens(s), window = 5)),

    // d15 applied: rebuild the corpus with the duplicated spans cut
    // out (keep the document, lose the boilerplate) — the in-row
    // splice tests each token position against its own doc's few
    // spans; the corpus never re-explodes.
    "d16_substring_strip" -> ((s, d) =>
      Dedup.substringStrip(Tables.documents(s, d), "doc_id",
        docTokens(s), window = 5)),

    // d15 at ingest: docs ≥ 100 play the already-ingested corpus
    // (window-scanned ONCE into a distinct-fingerprint index on
    // disk), docs < 100 the incoming batch. A batch window is cut if
    // the immutable corpus contains its content (corpus occurrences
    // are always canonical — ingested text can't be retro-cut) or if
    // it repeats within the batch off the batch's own keep-first.
    // The d12 persisted-index discipline applied to substring spans.
    "d17_incremental_substring" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val path = IndexCache.newIndexDir("graft-sub-idx-")
      Dedup.writeSubstringIndex(docs.filter(col("doc_id") >= 100),
        "doc_id", docTokens(s), path)
      Dedup.incrementalSubstringSpans(s, path,
        docs.filter(col("doc_id") < 100), "doc_id", docTokens(s))
    }),

    // MinHash calibration: exact Jaccard ≥ 0.2 pairs on the fixed
    // 500-doc slice (the d02 bounded-exact discipline) laid beside
    // their 16-slot signature agreement — the estimator statistic is
    // itself hash-verified via the oracle-mirrored md5-chunk profile.
    "d21_minhash_calibration" -> ((s, d) => {
      val sh = Dedup.shingles(
        Tables.documents(s, d).filter(col("doc_id") < 500),
        "doc_id", docTokens(s))
      Dedup.minhashCalibration(sh, numHashes = 16, minJaccard = 0.2)
    }),

    // EXACT corpus-wide Jaccard pairs — cost-based (round 15): the
    // operator reads the observed shingle-df distribution (one narrow
    // aggregate) and picks all-shared-shingle emission on a benign
    // profile or rarest-first prefix filtering (AllPairs/PPJoin)
    // under heavy-tailed df, both computing the identical lossless
    // relation — same as d02 but over the FULL corpus, no 500-doc
    // slice, no LSH miss probability, no df cap. The decision rule
    // and both regimes' measurements are in SCALE.md's strategy
    // matrix; DedupSimilaritySpec pins path parity and the choice on
    // both corpus shapes.
    "d20_prefix_filter_pairs" -> ((s, d) => {
      val sh = Dedup.shingles(Tables.documents(s, d), "doc_id",
        docTokens(s))
      Dedup.exactJaccardPairsAuto(sh, threshold = 0.5)
    }),

    // WITHIN-doc repeated-window strip: cut every 3-token run a
    // document repeats internally (keep-first), splice in-row — the
    // doc-local complement of d16's cross-corpus cuts. Entirely
    // in-row (per-doc array_sort + neighbour compare on window
    // CONTENT): no explode, no shuffle, no join — the plan is one
    // projection, embarrassingly parallel at any corpus size.
    "d19_intra_doc_strip" -> ((s, d) =>
      Dedup.intraDocStrip(Tables.documents(s, d), "doc_id",
        docTokens(s), window = 3)),

    // Fuzzy key self-join (edit distance ≤ 1) via the FastSS deletion
    // neighborhood — complete candidates from an equi-join on in-row
    // deletion variants, exact levenshtein confirm on candidates
    // only; no crossJoin, no all-pairs distance. The key is the
    // 16-token acronym (first letter of each leading token), under
    // which a one-word substitution is a one-char edit — both the
    // dist-0 and dist-1 paths fire on this corpus.
    "fj01_fuzzy_key_join" -> ((s, d) =>
      Dedup.fuzzyKeyJoin(Tables.documents(s, d), "doc_id",
        array_join(transform(slice(docTokens(s), 1, 16),
          w => substring(w, 1, 1)), ""),
        maxLen = 16)),

    // Duplicate-cluster assignment: near-dup pairs (the d03 pipeline)
    // closed into connected components, each doc labeled with its
    // cluster's minimum id — the keep-one representative. DuckDB
    // oracle walks the same pair list with a recursive CTE. Pairs
    // come from the zero-corpus-shuffle form (≡ minhashLshPairs,
    // parity in DedupSimilaritySpec) — same relation, no (doc,
    // shingle) group-by exchange.
    "d06_dup_clusters" -> ((s, d) =>
      Dedup.dupClusters(
        Dedup.minhashLshPairsDocs(Tables.documents(s, d), "doc_id",
          docTokens(s), n = 3, numHashes = 16, rowsPerBand = 4,
          threshold = 0.5))),

    // PageRank-style centrality over d06's pair graph, 5 rounds of
    // Q40 fixed-point power iteration — integer-only arithmetic, so
    // the trajectory hash-verifies (see Dedup.centralityFixedPoint).
    // The canonical-pick signal complementing d10's quality argmax.
    "d18_dup_centrality" -> ((s, d) =>
      Dedup.centralityFixedPoint(
        Dedup.minhashLshPairsDocs(Tables.documents(s, d), "doc_id",
          docTokens(s), n = 3, numHashes = 16, rowsPerBand = 4,
          threshold = 0.5), iters = 5)),

    // d06's relation computed by the O(log n)-round star-contraction
    // scheme instead of label propagation — the variant that survives
    // adversarially chainy graphs. Shares d06's recursive-CTE oracle
    // (same relation, different plan — the d07/d08 pattern).
    "d09_dup_clusters_star" -> ((s, d) =>
      Dedup.dupClustersStar(
        Dedup.minhashLshPairsDocs(Tables.documents(s, d), "doc_id",
          docTokens(s), n = 3, numHashes = 16, rowsPerBand = 4,
          threshold = 0.5))),

    // Quality-aware duplicate resolution: d06's clusters scored by
    // token count; each cluster's best member (ties → min id) is the
    // keeper. One hash aggregate per cluster (max_by via min(struct)),
    // never a per-cluster window sort — the shape that survives a
    // boilerplate mega-cluster.
    "d10_dedup_resolve" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val clusters = Dedup.dupClusters(
        Dedup.minhashLshPairsDocs(docs, "doc_id", docTokens(s),
          n = 3, numHashes = 16, rowsPerBand = 4, threshold = 0.5))
      val q = docs.select(col("doc_id"),
        size(docTokens(s)).cast("bigint").as("quality"))
      Dedup.resolveClusters(clusters, q)
    }),

    // Test-set decontamination: corpus docs (id >= 100) sharing
    // 3-gram shingles with the eval slice (id < 100) — overlap count
    // + contaminated fraction. Eval shingles broadcast; the corpus
    // never shuffles documents.
    "d07_decontaminate" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val corpusSh = Dedup.shingles(
        docs.filter(col("doc_id") >= 100), "doc_id", docTokens(s))
      val evalSh = Dedup.shingles(
        docs.filter(col("doc_id") < 100), "doc_id", docTokens(s))
      Dedup.contamination(corpusSh, evalSh)
    }),

    // d07's semantics through the runtime-filter scale path: bloom
    // sketch of the eval shingles (for when that side outgrows an
    // exact broadcast set) prunes the corpus map-side, then a semi
    // join confirms — false positives can't survive, so d08 shares
    // d07's oracle verbatim. Sized ~16 bits/shingle at sf scale.
    "d08_decontaminate_bloom" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val corpusSh = Dedup.shingles(
        docs.filter(col("doc_id") >= 100), "doc_id", docTokens(s))
      val evalSh = Dedup.shingles(
        docs.filter(col("doc_id") < 100), "doc_id", docTokens(s))
      Dedup.contaminationBloom(corpusSh, evalSh,
        expectedItems = 1L << 16, numBits = 1L << 20)
    }),

    // NOTE: jaccardPairs(maxShingleDf) — the hot-shingle survival mode
    // — is deliberately NOT benched on this corpus: the synthetic
    // 31-word vocabulary makes EVERY shingle hot (avg df ≈ 83 at
    // sf0.1), so the cap's extra df pass cannot pay for itself here.
    // The corpus shape the cap exists for (one rare-hot shingle in an
    // otherwise sparse df distribution) is constructed in
    // DedupSimilaritySpec's skew fixture, where the cap wins by
    // ~1000× pair volume; the unbounded scale path HERE is d03.

    // SimHash near-dup pairs within Hamming distance 3 (DuckDB-verified:
    // the whole 60-bit pipeline mirrors with native `>>`/`&`/xor/bit_count,
    // and hex→long via CAST('0x'||… AS BIGINT) ≡ Spark's conv(…,16,10)).
    "d04_simhash_pairs" -> ((s, d) =>
      Dedup.simhashPairs(Tables.documents(s, d), "doc_id",
        docTokens(s), maxDist = 3)),

    // Brute-force exact cosine top-10 for 10 query vectors.
    "e01_knn_brute" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.bruteForceKnn(emb, emb.filter(col("vec_id") < 10), k = 10)
    }),

    // Multi-table LSH ANN (DuckDB-verified: the seeded hyperplanes are
    // driver constants, injected into the SQL as parsed-string literals;
    // recall ≥ 0.9 vs e01 additionally asserted in DedupSimilaritySpec).
    "e02_knn_lsh" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.lshKnn(emb, emb.filter(col("vec_id") < 10), k = 10)
    }),

    // Exact embedding-cosine near-dup pairs on a fixed 500-vector
    // slice (constant work across sf; DuckDB-verified).
    "e03_cosine_dup_pairs" -> ((s, d) => {
      val emb = Tables.embeddings(s, d).filter(col("vec_id") < 500)
      Similarity.cosineDupPairsExact(emb, threshold = 0.4)
    }),

    // Multi-table LSH-bucketed cosine dup pairs — the 100 TB path for
    // e03's semantics (DuckDB-verified like e02; candidate-recall also
    // covered by spec).
    "e04_cosine_dup_lsh" -> ((s, d) => {
      val emb = Tables.embeddings(s, d).filter(col("vec_id") < 500)
      Similarity.cosineDupPairs(emb, threshold = 0.4)
    }),

    // IVF ANN: k-means coarse quantizer, nProbe-cell search. On the
    // pinned stack the full 100-row result hash-checks against the
    // E05Oracle literals; on a foreign JVM/BLAS (OracleEnv) the
    // k-means fit is not bit-reproducible, so the gate degrades to
    // the documented quality band — AGGREGATE recall vs the exact e01
    // scan ≥ 0.6 at the registered nProbe=4/16 config (the
    // DedupSimilaritySpec invariant: unstructured embeddings are
    // IVF's worst case, measured 0.67 @ 4 probes / 0.85 @ 8; a
    // per-query ≥ 0.9 bar is the nProbe=8 regime, not this one).
    "e05_knn_ivf" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val ivf = Similarity.ivfKnn(emb, emb.filter(col("vec_id") < 10),
        k = 10)
      if (graft.core.OracleEnv.bitExact) ivf
      else {
        val exact = Similarity.bruteForceKnn(emb,
          emb.filter(col("vec_id") < 10), k = 10)
        ivf.select(col("q_id"), col("n_id"))
          .join(exact.select(col("q_id"), col("n_id")), Seq("q_id", "n_id"))
          .agg(count(lit(1)).as("hits"))
          .select(lit(10L).as("n_queries"),
            (col("hits") >= lit(60L)).as("recall_ok"))
      }
    }),

    // IVF SEARCH stage with fixed seeded centroids (DuckDB-verified:
    // centroids are driver constants injected into the SQL as
    // parsed-string literals, like e02's hyperplanes) — closes the
    // oracle over everything in e05 except the k-means fit itself.
    "e08_ivf_scoring" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.ivfSearch(emb, emb.filter(col("vec_id") < 10),
        Similarity.randomPlanes(8, 64, seed = 7L), k = 10, nProbe = 4)
    }),

    // Persisted-index IVF: build the index once (cell-partitioned
    // parquet with precomputed norms), then search it — the
    // build-once / query-many vector-store shape. Probe-time the
    // scan reads ONLY the probed cells' directories (partition
    // pruning, pinned in PlanAuditSpec). Result-identical to e08
    // (same centroids, assignment, scoring, heap top-k), so it
    // shares e08's DuckDB oracle verbatim.
    "e16_ivf_persisted" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val ctrs = Similarity.randomPlanes(8, 64, seed = 7L)
      val path = IndexCache.newIndexDir("graft-ivf-idx-")
      Similarity.ivfWriteIndex(emb, ctrs, path)
      Similarity.ivfSearchIndexed(s, path,
        emb.filter(col("vec_id") < 10), ctrs, k = 10, nProbe = 4)
    }),

    // ANN recall@k as a first-class gate row: per-query hit count of
    // the e08 seeded-centroid IVF search against the e01 exact scan —
    // the eval every production ANN deployment runs before trusting
    // an index config. Both sides are deterministic (fixed centroids,
    // no k-means fit, shared tie rules), so unlike e05's banded
    // fallback this recall is hash-exact on ANY stack. Integer
    // outputs only (`hits` via count of matches, never sum — the
    // r12 sp13/st11 dtype lesson). At scale both sides are the
    // already-audited e01/e08 plans (broadcast queries + scan-side
    // TopKAgg heaps; exchange is |queries|·k rows), and the recall
    // join/agg runs on |queries|·k rows — driver-trivial.
    "e23_ann_recall" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val qs = emb.filter(col("vec_id") < 10)
      val ctrs = Similarity.randomPlanes(8, 64, seed = 7L)
      val exact = Similarity.bruteForceKnn(emb, qs, k = 10)
        .select(col("q_id"), col("n_id"))
      val approx = Similarity.ivfSearch(emb, qs, ctrs, k = 10, nProbe = 4)
        .select(col("q_id").as("a_qid"), col("n_id").as("a_id"))
      exact.join(approx,
          col("q_id") === col("a_qid") && col("n_id") === col("a_id"),
          "left")
        .groupBy(col("q_id"))
        .agg(count(lit(1)).cast("int").as("k_eval"),
          count(col("a_id")).as("hits"))
    }),

    // One k-means Lloyd iteration against the e08 seeded centroids,
    // with FIXED-POINT (1/2^24-grid long-sum) means — the update is
    // order-independent integer arithmetic, so it hash-matches the
    // DuckDB oracle exactly and is bit-reproducible under any
    // partitioning. Closes the oracle over the k-means FIT step that
    // e05/e08 left spec-land (assignment + mean update both verified;
    // only the multi-iteration convergence loop remains spec-only).
    "e17_kmeans_lloyd" -> ((s, d) =>
      Similarity.lloydStep(Tables.embeddings(s, d), col("embedding"),
        Similarity.randomPlanes(8, 64, seed = 7L))),

    // TWO Lloyd iterations — the iterated, data-dependent k-means fit
    // hash-verified end-to-end (not spec-banded): fixed-point steps
    // make the trajectory deterministic, so the oracle replays
    // assignment → integer means → dense cell renumber → reassignment
    // → means and lands on bit-identical centroids. The step that
    // e05's "trained quantizer stays spec-land" discipline existed
    // for is now itself in the oracle gate.
    "e18_kmeans_fit2" -> ((s, d) =>
      Similarity.lloydFit(Tables.embeddings(s, d), col("embedding"),
        Similarity.randomPlanes(8, 64, seed = 7L), iters = 2)),

    // Train → index → search, oracle-closed END-TO-END: the coarse
    // quantizer is the e18 fixed-point Lloyd fit (2 iterations from
    // the seeded init), whose collected centroids are bit-exact
    // driver doubles (hash-proven by e18); searching with them is
    // e08's plan against trained-instead-of-seeded cells. This is the
    // query e05 approximates with spark.ml k-means|| — same pipeline,
    // every stage in the DuckDB gate. Scale shape unchanged from e08:
    // fit is one scan + O(parts·K·D) agg per iteration, search is a
    // cell equi-join probing nProbe/numCells of the corpus.
    "e19_ivf_trained" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val trained = Similarity.collectCentroids(
        Similarity.lloydFit(emb, col("embedding"),
          Similarity.randomPlanes(8, 64, seed = 7L), iters = 2))
      Similarity.ivfSearch(emb, emb.filter(col("vec_id") < 10),
        trained, k = 10, nProbe = 4)
    }),

    // Embedding-space eval decontamination: corpus vectors within
    // cosine 0.4 of ANY eval vector (first 50 ids) are condemned and
    // anti-joined away — the similarity-space complement of d07's
    // shingle decontamination, for paraphrases that share no n-gram.
    // Eval broadcasts both times; the corpus never shuffles.
    "e20_embed_decontaminate" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.embedDecontaminate(
          emb.filter(col("vec_id") >= 50 && col("vec_id") < 550),
          emb.filter(col("vec_id") < 50), threshold = 0.4)
        .select(col("vec_id"), col("label"))
    }),

    // MMR diversity re-rank (Carbonell & Goldstein 1998): top-12
    // relevance candidates per query (bounded-heap KNN, corpus never
    // shuffles), then 5 greedy λ=0.7 rounds IN-ROW over the collected
    // candidate list — score = λ·rel − (1−λ)·max sim-to-selected,
    // ties → min id. Fully deterministic double arithmetic, so the
    // whole greedy trajectory is hash-verified by a 5-round unrolled
    // CTE oracle (the d18/e17 unroll discipline).
    "e21_mmr_rerank" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.mmrRerank(emb, emb.filter(col("vec_id") < 4),
        candK = 12, selK = 5, lambda = 0.7)
    }),

    // Cluster-balanced selection over the TRAINED quantizer: the e18
    // fixed-point Lloyd fit supplies the cells, then each cell keeps
    // its 40 lowest rows under a salted 52-bit md5 priority (exact in
    // a double; ties → smaller id) via the bounded TopKAgg heap — the
    // per-cluster-quota curation step of a DataComp-style pipeline,
    // with every stage (fit, assignment, priority, rank) in the
    // DuckDB gate. Corpus scans twice (fit reuses e18's shape) and
    // never sorts; only cells × quota rows cross the final exchange.
    "e22_cluster_balanced_sample" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val trained = Similarity.collectCentroids(
        Similarity.lloydFit(emb, col("embedding"),
          Similarity.randomPlanes(8, 64, seed = 7L), iters = 2))
      Similarity.clusterBalancedSample(emb, trained, quota = 40)
    }),

    // SemDeDup search stage: fixed coarse cells (e08's seeded
    // centroids), cell-local cosine pairs ≥ 0.4, closed into semantic
    // dup clusters. Same fixed-500 slice as e03/e04 — with literal
    // k=8 cells the per-cell term is the e03 quadratic; the scale
    // path is SimilarityComposed.semDedup with k ∝ √n trained cells
    // (recall vs the exact baseline asserted in spec).
    "e09_semdedup" -> ((s, d) => {
      val emb = Tables.embeddings(s, d).filter(col("vec_id") < 500)
      val pairs = Similarity.semDedupPairs(emb,
        Similarity.randomPlanes(8, 64, seed = 7L), threshold = 0.4)
      Dedup.dupClusters(pairs.select(col("a"), col("b")))
        .select(col("doc_id").as("vec_id"), col("cluster_id"))
    }),

    // PQ encode: 64 float dims → 4 code bytes, pure in-row Catalyst
    // against literal codebooks (unnested per subspace for the oracle
    // compare; the operator's native output is the code array).
    "e10_pq_encode" -> ((s, d) =>
      Tables.embeddings(s, d).select(col("vec_id"),
        posexplode(Similarity.pqEncode(col("embedding"), pqCbs))
          .as(Seq("m", "code")))),

    // ADC top-10: per-query M×K lookup tables on the broadcast side,
    // M table lookups per corpus code — the corpus float vectors are
    // never read during scoring.
    "e11_pq_adc_topk" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.pqAdcTopK(emb, emb.filter(col("vec_id") < 10),
        pqCbs, k = 10)
    }),

    // IVF-PQ composition (IVFADC): e08's coarse cells restrict the
    // candidates, e11's PQ asymmetric distance ranks them — the
    // vector-store architecture, fully literal-folded and so fully
    // oracle-checkable. Corpus payload per vector: one cell id + 4
    // code bytes.
    "e14_ivfpq_topk" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.ivfPqTopK(emb, emb.filter(col("vec_id") < 10),
        Similarity.randomPlanes(8, 64, seed = 7L), pqCbs,
        k = 10, nProbe = 4)
    }),

    // Residual-encoding IVFADC: PQ codes quantize vec − centroid
    // (cell), LUTs go per (query, probed cell) — the paper-faithful
    // refinement, still fully literal-folded and oracle-checked.
    "e15_ivfpq_residual" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.ivfPqResidualTopK(emb, emb.filter(col("vec_id") < 10),
        Similarity.randomPlanes(8, 64, seed = 7L), pqCbs,
        k = 10, nProbe = 4)
    }),

    // Per-label embedding centroids (map-side-combined dim-keyed agg).
    "e06_label_centroids" -> ((s, d) =>
      Similarity.labelCentroids(Tables.embeddings(s, d))),

    // Symmetric int8 embedding quantization, unnested per dim for the
    // oracle compare (the operator's native output is the in-row
    // struct). scale is pure IEEE arithmetic — exact cross-engine.
    "e07_quantize_int8" -> ((s, d) =>
      Tables.embeddings(s, d)
        .select(col("vec_id"),
          Similarity.quantizeInt8(col("embedding")).as("qz"))
        .select(col("vec_id"), col("qz.scale").as("scale"),
          posexplode(col("qz.q")).as(Seq("dim", "q")))),

    // Batch face of the streaming near-dup candidate detector
    // (CorpusStreams.streamingNearDupCands): same-band-bucket pairs
    // within an ingest horizon — here 60 ids ≈ 60 minutes at the
    // one-doc-per-minute ingest rate the streaming spec uses. The
    // streaming side converges to exactly this relation
    // (RocksDb/MemoryStream spec); the in-row signature builder it
    // requires is value-identical to the aggregation form here.
    "st08_stream_neardup_cands" -> ((s, d) => {
      // in-row kernel signatures out of the scan projection — the
      // exact shape the streaming side runs (and zero corpus shuffle;
      // ≡ the aggregation form, DedupComposed.lshBandSignatures, by
      // spec parity)
      val bands = Dedup
        .shingleSets(Tables.documents(s, d), "doc_id", docTokens(s))
        .select(col("doc_id"),
          explode(Dedup.bandSignaturesInRow(col("shset"), 16, 4))
            .as("bs"))
        .select(col("doc_id"), col("bs.b").as("b"),
          col("bs.sig").as("sig"))
      Dedup.lshCandidates(bands)
        .filter(col("b") - col("a") <= 60)
    }),

    // Binary sign-sketch Hamming top-k: 1 bit/dim (a 64-dim vector IS
    // one long), candidates ranked by popcount(xor) — no float math
    // in the corpus scan, 1/32 the bytes of brute cosine. Queries
    // broadcast; corpus never shuffles.
    "e13_hamming_topk" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.hammingTopK(emb, emb.filter(col("vec_id") < 100),
        k = 10)
    }),

    // Johnson–Lindenstrauss random projection 64 → 16 dims: seeded
    // ±1 sign rows as plan literals, 16 sequential-dot kernels
    // in-row — nothing shuffles (the e07 shape). √16 = 4 divides
    // exactly, so the projected doubles hash-match bit-for-bit.
    "e12_random_projection" -> ((s, d) =>
      Tables.embeddings(s, d)
        .select(col("vec_id"),
          Similarity.randomProject(col("embedding"), jlSigns).as("proj"))
        .select(col("vec_id"), posexplode(col("proj")).as(Seq("dim", "v")))),

    // Retrieval-quality report: per-query recall@10 and MRR of the
    // e02 LSH index against the e01 exact scan — the offline eval a
    // production ANN rollout gates on, computed in-engine at corpus
    // scale (both inputs are the engine's own bounded top-k lists;
    // the metrics stage is |Q|·k-row post-processing).
    "r03_retrieval_metrics" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val qs = emb.filter(col("vec_id") < 10)
      graft.operators.Retrieval.retrievalMetrics(
        Similarity.bruteForceKnn(emb, qs, k = 10),
        Similarity.lshKnn(emb, qs, k = 10), k = 10)
    })
  )

  /** e12's seeded sign matrix — shared with its oracle. */
  private lazy val jlSigns: Array[Array[Double]] =
    Similarity.rademacherSigns(outDim = 16, inDim = 64)

  /** Shared SQL fragments, mirrored from the Scala operators. */
  private val tokSql = "list_filter(string_split(text, ' '), w -> len(w) > 0)"

  // `sh` defaults to MATERIALIZED: every jaccard-family oracle
  // references it 2-4 times (sizes + both sides of the `inter`
  // self-join + minh), and DuckDB 1.0 re-inlines plain CTEs per
  // reference — at pseudo-sf1 that recompute is the difference
  // between d06 at 131 s and 20 s (and the d10/d18 480 s timeouts of
  // VERIFY_sf1_r14). Purely a physical hint; results byte-identical.
  // Opt OUT (materialized = false) when a LATER filter must push
  // through `sh` into the token scan: materialization is a pushdown
  // barrier in DuckDB 1.0, which costs d12 (whose eval side is the
  // final `jac.a < 100` predicate) more than the recompute saves.
  private def shingleCte(where: String = "",
                         src: String = "documents",
                         materialized: Boolean = true): String = {
    val hint = if (materialized) "MATERIALIZED " else ""
    s"""tok AS (
         SELECT doc_id, unnest($tokSql) AS w,
                generate_subscripts($tokSql, 1) AS pos
         FROM $src $where),
       sh AS $hint(
         SELECT DISTINCT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS shingle
         FROM tok a
         JOIN tok b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
         JOIN tok c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2)"""
  }

  private val jaccardCte =
    """sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
       inter AS (
         SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS i
         FROM sh x JOIN sh y
           ON x.shingle = y.shingle AND x.doc_id < y.doc_id
         GROUP BY 1, 2),
       jac AS (
         SELECT a, b, CAST(i AS DOUBLE) / (sa.n + sb.n - i) AS jaccard
         FROM inter
         JOIN sizes sa ON a = sa.doc_id
         JOIN sizes sb ON b = sb.doc_id)"""

  // FNV-1a-64 + fmix64 oracle mirror lives in [[FnvSql]] (shared
  // with t24's fast Count-Min cells); `FnvSql.stages` emits the full
  // signed(fmix64(fnv1a64(fs))) CTE chain.
  private def fnvStagesSql(p: String, src: String, keep: String): String =
    FnvSql.stages(p, src, keep)

  /** The d05 fast-profile candidates, mirrored from
    * [[Dedup.bandSignaturesInRowFast]]: per-permutation min of
    * `fnv('<h>|' || shingle)` as signed longs, band signature =
    * fnv over the '|'-joined minima (16 hashes × 4 rows/band).
    */
  private val fnvCandsCte: String =
    s"""pstr AS (
         SELECT doc_id, h.range AS h,
                CAST(h.range AS VARCHAR) || '|' || shingle AS fs
         FROM sh, range(16) h),
       ${fnvStagesSql("ph", "pstr", "doc_id, h")},
       minh AS (
         SELECT doc_id, h, min(v) AS m FROM ph5 GROUP BY 1, 2),
       bstr AS (
         SELECT doc_id, CAST(h // 4 AS INTEGER) AS b,
                string_agg(CAST(m AS VARCHAR), '|' ORDER BY h) AS fs
         FROM minh GROUP BY doc_id, h // 4),
       ${fnvStagesSql("bh", "bstr", "doc_id, b")},
       bands AS (
         SELECT doc_id, b, v AS sig FROM bh5),
       cands AS (
         SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
         FROM bands x JOIN bands y
           ON x.b = y.b AND x.sig = y.sig AND x.doc_id < y.doc_id)"""

  /** MinHash → band-signature → bucket-join candidates, mirrored from
    * [[Dedup.bandSignaturesInRow]]/[[Dedup.lshCandidates]] (16 hashes
    * × 4 rows/band). Shared by d03 (pairs) and d06 (clusters). */
  private val minhashCandsCte: String =
    """minh AS (
         SELECT doc_id, h.range AS h,
                min(substring(md5(CAST(h.range // 4 AS VARCHAR)
                      || '|' || shingle),
                    CAST(h.range % 4 AS INTEGER) * 8 + 1, 8)) AS m
         FROM sh, range(16) h GROUP BY 1, 2),
       bands AS (
         SELECT doc_id, h // 4 AS b,
                md5(string_agg(m, '' ORDER BY h)) AS sig
         FROM minh GROUP BY doc_id, h // 4),
       cands AS (
         SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
         FROM bands x JOIN bands y
           ON x.b = y.b AND x.sig = y.sig AND x.doc_id < y.doc_id)"""

  /** float64 sequential dot product — bit-identical to Spark's
    * `aggregate(zip_with(...))`. */
  private def dotSql(a: String, b: String): String =
    s"""list_sum(list_transform(list_zip($a, $b),
        x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))"""

  private def normSql(a: String): String =
    s"sqrt(list_sum(list_transform($a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"

  /** e21: the 5 greedy MMR rounds unrolled into a CTE chain. λ and
    * 1−λ are emitted from the SAME Scala doubles the Spark side uses
    * (shortest-roundtrip toString; 1−0.7 is 0.30000000000000004, NOT
    * the decimal 0.3), and every score is the identical IEEE
    * expression λ·rel − (1−λ)·max(sim) with min-id tie-break — so the
    * whole selection trajectory hash-matches.
    */
  private def mmrOracleSql: String = {
    val lam = 0.7
    val lamS = lam.toString
    val omS = (1.0 - lam).toString
    val simS = s"""${dotSql("c.v", "s.v")} / (c.nrm * s.nrm)"""
    val rounds = (2 to 5).map { k =>
      s"""p$k AS (
            SELECT c.q_id, c.n_id,
                   $lamS * max(c.rel) - $omS * max($simS) AS score
            FROM cand c JOIN acc${k - 1} s USING (q_id)
            WHERE NOT EXISTS (SELECT 1 FROM acc${k - 1} x
                              WHERE x.q_id = c.q_id
                                AND x.n_id = c.n_id)
            GROUP BY c.q_id, c.n_id),
          sel$k AS (
            SELECT c.q_id, c.n_id, c.v, c.nrm, c.rel, $k AS sel_rank
            FROM (SELECT q_id, n_id FROM p$k
                  QUALIFY row_number() OVER (
                    PARTITION BY q_id
                    ORDER BY score DESC, n_id) = 1) w
            JOIN cand c USING (q_id, n_id)),
          acc$k AS (SELECT * FROM acc${k - 1}
                    UNION ALL SELECT * FROM sel$k)"""
    }.mkString(",\n          ")
    s"""WITH q AS (
          SELECT vec_id AS q_id, embedding AS q_vec
          FROM embeddings WHERE vec_id < 4),
        scored AS (
          SELECT q_id, e.vec_id AS n_id, e.embedding AS v,
                 ${dotSql("q_vec", "e.embedding")} /
                 (${normSql("q_vec")} * ${normSql("e.embedding")}) AS rel
          FROM embeddings e, q WHERE e.vec_id <> q_id),
        cand AS (
          SELECT q_id, n_id, v, ${normSql("v")} AS nrm, rel FROM scored
          QUALIFY row_number() OVER (
            PARTITION BY q_id ORDER BY rel DESC, n_id) <= 12),
        sel1 AS (
          SELECT q_id, n_id, v, nrm, rel, 1 AS sel_rank FROM cand
          QUALIFY row_number() OVER (
            PARTITION BY q_id ORDER BY rel DESC, n_id) = 1),
        acc1 AS (SELECT * FROM sel1),
        $rounds
        SELECT q_id, CAST(sel_rank AS INTEGER) AS sel_rank, n_id, rel
        FROM acc5"""
  }

  /** A hyperplane as a DuckDB DOUBLE[] literal. Coefficients go through
    * VARCHAR → `CAST(x AS DOUBLE)` (correctly-rounded decimal parse of
    * Java's shortest-roundtrip `Double.toString`), NOT a bare numeric
    * list literal — DuckDB would parse those as DECIMAL first and the
    * bucket dot-product signs must match Spark's plan literals exactly.
    */
  private def planeSqlArr(p: Array[Double]): String =
    s"list_transform(string_split('${p.mkString(",")}', ','), x -> CAST(x AS DOUBLE))"

  /** Sign-pattern bucket id — mirrors [[Similarity.lshBucket]]: bit i
    * set iff vec · planes(i) ≥ 0. Bits are disjoint so the bitwiseOR
    * reduce mirrors as a plain sum.
    */
  private def bucketSql(vec: String, planes: Array[Array[Double]]): String =
    planes.zipWithIndex.map { case (p, i) =>
      s"(CASE WHEN ${dotSql(vec, planeSqlArr(p))} >= 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString("(", " + ", ")")

  /** All `numTables` bucket ids of a vector as one SQL list — the seeds
    * reproduce [[Similarity.lshKnn]]/[[Similarity.cosineDupPairs]]
    * (seed + 1000·t per table, 64-dim corpus).
    */
  private def bucketsSql(vec: String, numPlanes: Int, numTables: Int,
                         seed: Long = 42L): String =
    (0 until numTables).map(t =>
      bucketSql(vec, Similarity.randomPlanes(numPlanes, 64, seed + 1000L * t)))
      .mkString("[", ", ", "]")

  /** Element-wise `vec − ctr` as a DOUBLE[] — mirrors the zip_with
    * residual in [[Similarity.ivfPqResidualTopK]] (same IEEE
    * subtraction per element).
    */
  private def residualSql(vec: String, ctr: String): String =
    s"""list_transform(list_zip($vec, $ctr),
        x -> CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))"""

  /** Sequential-order squared L2 distance to a DOUBLE[] column —
    * mirrors [[Similarity.sqDistLit]]'s `(x-y)·(x-y)` accumulate.
    */
  private def sqDistSql(vec: String, ctr: String): String =
    s"""list_sum(list_transform(list_zip($vec, $ctr),
        x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)) *
             (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))))"""

  /** The e10/e11 codebooks as an (m, k, cvec) inline table, through
    * the same VARCHAR→DOUBLE literal parse as [[planeSqlArr]].
    */
  private def pqCodebookTableSql: String =
    pqCbs.zipWithIndex.flatMap { case (cb, m) =>
      cb.zipWithIndex.map { case (ctr, k) =>
        s"SELECT $m AS m, $k AS k, ${planeSqlArr(ctr)} AS cvec"
      }
    }.mkString(" UNION ALL ")

  /** Shared by e10 and e11: per-(vec, subspace) nearest-codebook-entry
    * assignment, mirroring [[Similarity.pqEncode]]'s (dist, code)
    * ordering. */
  private val pqCodesCtes: String =
    s"""cb AS ($pqCodebookTableSql),
        sub AS (
          SELECT vec_id, CAST(m.range AS INTEGER) AS m,
                 list_slice(embedding,
                   CAST(m.range * 16 + 1 AS INTEGER),
                   CAST(m.range * 16 + 16 AS INTEGER)) AS sv
          FROM embeddings, range(4) m),
        codes AS (
          SELECT vec_id, m, k AS code FROM (
            SELECT sub.vec_id, sub.m, cb.k, CAST(row_number() OVER (
              PARTITION BY sub.vec_id, sub.m
              ORDER BY ${sqDistSql("sv", "cvec")}, cb.k)
              AS INTEGER) AS rn
            FROM sub JOIN cb ON sub.m = cb.m)
          WHERE rn = 1)"""

  /** The e08 fixed centroids as a (cell, cvec) inline table — the
    * same `randomPlanes(8, 64, seed=7)` constants the Spark plan
    * folds in, through the VARCHAR→DOUBLE parse of [[planeSqlArr]].
    */
  private def centroidTableSql: String =
    Similarity.randomPlanes(8, 64, seed = 7L).zipWithIndex.map {
      case (ctr, i) => s"SELECT $i AS cell, ${planeSqlArr(ctr)} AS cvec"
    }.mkString(" UNION ALL ")

  /** Components of the ≥0.5-Jaccard LSH pair graph, each node labeled
    * with its component min, walked with a recursive CTE. Tractable
    * for the oracle because the LSH pair list is tiny; the Spark side
    * converges by label propagation (d06) or star contraction (d09).
    */
  private val dupClusterCtes: String =
    s"""${shingleCte()}, $jaccardCte, $minhashCandsCte,
        pairs AS MATERIALIZED (
          SELECT jac.a, jac.b
          FROM jac JOIN cands ON jac.a = cands.a AND jac.b = cands.b
          WHERE jac.jaccard >= 0.5),
        edges AS MATERIALIZED (
          SELECT a, b FROM pairs
          UNION SELECT b AS a, a AS b FROM pairs),
        reach AS (
          SELECT a AS node, a AS root FROM edges
          UNION
          SELECT e.b AS node, r.root
          FROM reach r JOIN edges e ON e.a = r.node),
        clusters AS MATERIALIZED (
          SELECT node AS doc_id, min(root) AS cluster_id
          FROM reach GROUP BY node)"""

  private val dupClustersOracleSql: String =
    s"""WITH RECURSIVE $dupClusterCtes
        SELECT doc_id, cluster_id FROM clusters"""

  /** d18: 5 unrolled fixed-point power-iteration rounds over d06's
    * pair graph — the bpe01 discipline (iterated fit as a CTE chain).
    * Every step is integer ('//' and sums of BIGINT), so the chain
    * lands on Spark's bytes exactly; HUGEINT sums cast back to
    * BIGINT.
    */
  private val centralityOracleSql: String = {
    val scale = 1L << 40
    val rounds = (1 to 5).map { k =>
      val p = s"r${k - 1}"
      s"""s$k AS (
            SELECT e.b AS t,
                   CAST(sum($p.r // $p.deg) AS BIGINT) AS s
            FROM edges e JOIN $p ON e.a = $p.id GROUP BY e.b),
          r$k AS (
            SELECT d.a AS id, d.deg,
                   ((($scale * 15) // 100) // nn.n)
                     + CAST((85 * s$k.s) // 100 AS BIGINT) AS r
            FROM deg d JOIN s$k ON d.a = s$k.t, nn)"""
    }.mkString(",\n")
    s"""WITH ${shingleCte()}, $jaccardCte, $minhashCandsCte,
        pairs AS MATERIALIZED (
          SELECT jac.a, jac.b
          FROM jac JOIN cands ON jac.a = cands.a AND jac.b = cands.b
          WHERE jac.jaccard >= 0.5),
        edges AS MATERIALIZED (
          SELECT a, b FROM pairs
          UNION SELECT b AS a, a AS b FROM pairs),
        deg AS MATERIALIZED (SELECT a, count(*) AS deg FROM edges GROUP BY a),
        nn AS (SELECT count(*) AS n FROM deg),
        r0 AS (
          SELECT a AS id, deg, $scale // nn.n AS r FROM deg, nn),
        $rounds
        SELECT id AS doc_id, r AS rank_fp FROM r5"""
  }

  /** Shared by d07 (exact broadcast set) and d08 (bloom + confirm):
    * the two plans compute the same relation.
    */
  private val decontaminateSql =
    s"""WITH ${shingleCte()},
        ev AS (SELECT DISTINCT shingle FROM sh WHERE doc_id < 100),
        corp AS (SELECT * FROM sh WHERE doc_id >= 100),
        sizes AS (SELECT doc_id, count(*) AS n FROM corp GROUP BY 1),
        ov AS (
          SELECT doc_id, count(*) AS n_overlap
          FROM corp JOIN ev USING (shingle) GROUP BY 1)
        SELECT ov.doc_id, ov.n_overlap,
               CAST(ov.n_overlap AS DOUBLE) / sizes.n AS contamination
        FROM ov JOIN sizes ON ov.doc_id = sizes.doc_id"""

  /** The IVF search CTE chain — assignment, probing, scoring,
    * ranking — against whatever centroid table the prefix bound as
    * `ctr`. Shared by e08/e16 (seeded literal centroids) and e19
    * (fit-derived centroids).
    */
  private def ivfSearchBodySql: String =
    s"""c AS (
          SELECT vec_id AS n_id, embedding AS n_vec FROM embeddings),
        q AS (
          SELECT vec_id AS q_id, embedding AS q_vec
          FROM embeddings WHERE vec_id < 10),
        cc AS (
          SELECT n_id, cell FROM (
            SELECT n_id, ctr.cell, CAST(row_number() OVER (
              PARTITION BY n_id
              ORDER BY ${sqDistSql("n_vec", "cvec")}, ctr.cell)
              AS INTEGER) AS rn
            FROM c, ctr)
          WHERE rn = 1),
        qc AS (
          SELECT q_id, cell FROM (
            SELECT q_id, ctr.cell, CAST(row_number() OVER (
              PARTITION BY q_id
              ORDER BY ${sqDistSql("q_vec", "cvec")}, ctr.cell)
              AS INTEGER) AS rn
            FROM q, ctr)
          WHERE rn <= 4),
        cand AS (
          SELECT q_id, n_id FROM cc JOIN qc USING (cell)
          WHERE n_id <> q_id),
        scored AS (
          SELECT cand.q_id, cand.n_id,
                 ${dotSql("q_vec", "n_vec")} /
                 (${normSql("q_vec")} * ${normSql("n_vec")}) AS cos
          FROM cand
          JOIN c ON cand.n_id = c.n_id
          JOIN q ON cand.q_id = q.q_id),
        ranked AS (
          SELECT q_id, n_id, cos, CAST(row_number() OVER (
            PARTITION BY q_id ORDER BY cos DESC, n_id ASC) AS INTEGER) AS rn
          FROM scored)
        SELECT q_id, n_id, cos, rn FROM ranked WHERE rn <= 10"""

  /** IVF search-stage oracle over the fixed seeded centroids —
    * shared by e08 (in-flight index) and e16 (persisted index): both
    * plans compute the same relation.
    */
  private def ivfScoringOracleSql: String =
    s"""WITH ctr AS ($centroidTableSql),
        $ivfSearchBodySql"""

  /** e19: the e18 two-iteration fixed-point fit CTEs derive the
    * trained centroid table, then the e08 search body runs against
    * it — train → index → search replayed end-to-end in SQL. The
    * collected doubles on the Spark side are bit-identical to the
    * m2-CTE means (e18's hash gate is exactly that proof), so cell
    * assignment and scoring agree exactly.
    */
  /** The e18 two-iteration fixed-point Lloyd fit as a CTE chain
    * ending in `ctr(cell, cvec)` — shared by the e19 trained-search
    * and e22 cluster-balanced-sample oracles.
    */
  private def trainedCtrCtes: String =
    s"""ctr0 AS ($centroidTableSql),
        cc1 AS (
          SELECT vec_id, cell, embedding FROM (
            SELECT vec_id, ctr0.cell, embedding,
                   CAST(row_number() OVER (
                     PARTITION BY vec_id
                     ORDER BY ${sqDistSql("embedding", "cvec")},
                              ctr0.cell) AS INTEGER) AS rn
            FROM embeddings, ctr0)
          WHERE rn = 1),
        p1 AS (
          SELECT cell,
                 CAST(generate_subscripts(embedding, 1) - 1
                      AS INTEGER) AS dim,
                 CAST(floor(CAST(unnest(embedding) AS DOUBLE)
                      * 16777216.0) AS BIGINT) AS q
          FROM cc1),
        m1 AS (
          SELECT cell, dim,
                 CAST(CAST(sum(q) AS BIGINT) AS DOUBLE)
                   / CAST(count(*) AS DOUBLE) / 16777216.0 AS c
          FROM p1 GROUP BY cell, dim),
        ctr1 AS (
          SELECT CAST(dense_rank() OVER (ORDER BY cell) - 1
                      AS INTEGER) AS cell,
                 list(c ORDER BY dim) AS cvec
          FROM m1 GROUP BY cell),
        cc2 AS (
          SELECT vec_id, cell, embedding FROM (
            SELECT vec_id, ctr1.cell, embedding,
                   CAST(row_number() OVER (
                     PARTITION BY vec_id
                     ORDER BY ${sqDistSql("embedding", "cvec")},
                              ctr1.cell) AS INTEGER) AS rn
            FROM embeddings, ctr1)
          WHERE rn = 1),
        p2 AS (
          SELECT cell,
                 CAST(generate_subscripts(embedding, 1) - 1
                      AS INTEGER) AS dim,
                 CAST(floor(CAST(unnest(embedding) AS DOUBLE)
                      * 16777216.0) AS BIGINT) AS q
          FROM cc2),
        m2 AS (
          SELECT cell, dim,
                 CAST(CAST(sum(q) AS BIGINT) AS DOUBLE)
                   / CAST(count(*) AS DOUBLE) / 16777216.0 AS c
          FROM p2 GROUP BY cell, dim),
        ctr AS (
          SELECT CAST(dense_rank() OVER (ORDER BY cell) - 1
                      AS INTEGER) AS cell,
                 list(c ORDER BY dim) AS cvec
          FROM m2 GROUP BY cell)"""

  private def ivfTrainedOracleSql: String =
    s"""WITH $trainedCtrCtes,
        $ivfSearchBodySql"""

  /** e22's oracle: trained cells + nearest-cell assignment (the
    * shared tie rule: squared distance, then cell), the 52-bit
    * salted md5 priority, and a per-cell rank capped at the quota —
    * each stage the exact mirror of the Spark operator chain.
    */
  private def clusterBalancedOracleSql: String =
    s"""WITH $trainedCtrCtes,
        asg AS (
          SELECT vec_id, cell FROM (
            SELECT vec_id, ctr.cell,
                   CAST(row_number() OVER (
                     PARTITION BY vec_id
                     ORDER BY ${sqDistSql("embedding", "cvec")},
                              ctr.cell) AS INTEGER) AS rn
            FROM embeddings, ctr)
          WHERE rn = 1),
        pri AS (
          SELECT cell, vec_id,
                 CAST(('0x' || substring(md5(CAST(vec_id AS VARCHAR)
                   || '|e22'), 1, 13)) AS BIGINT) AS priority
          FROM asg),
        ranked AS (
          SELECT cell, vec_id, priority,
                 CAST(row_number() OVER (
                   PARTITION BY cell ORDER BY priority, vec_id)
                   AS INTEGER) AS pick_rank
          FROM pri)
        SELECT cell, vec_id, priority, pick_rank
        FROM ranked WHERE pick_rank <= 40"""

  // def, not val: e05's entry switches on OracleEnv.bitExact, which
  // specs flip via system property — a val would freeze first read
  def oracleSql: Map[String, String] = Map(
    "d01_dedup_exact" ->
      """SELECT md5(text) AS content_hash, count(*) AS n_copies,
         min(doc_id) AS keep_id
         FROM documents GROUP BY md5(text)""",
    "d02_jaccard_pairs" ->
      s"""WITH ${shingleCte("WHERE doc_id < 500")}, $jaccardCte
          SELECT a, b, jaccard FROM jac WHERE jaccard >= 0.5""",
    // d20: the same exact relation, FULL corpus — the oracle knows
    // nothing about prefixes; a lost candidate = a missing row
    "d20_prefix_filter_pairs" ->
      s"""WITH ${shingleCte()}, $jaccardCte
          SELECT a, b, jaccard FROM jac WHERE jaccard >= 0.5""",
    // d21: exact pairs + the 16 mirrored md5-chunk minima per doc;
    // est_matches = slot-agreement count
    "d21_minhash_calibration" -> {
      val mins = (0 until 16).map(h =>
        s"min(substring(md5('${h / 4}|' || shingle), " +
          s"${(h % 4) * 8 + 1}, 8)) AS m$h").mkString(", ")
      val eq = (0 until 16)
        .map(h => s"CASE WHEN sa.m$h = sb.m$h THEN 1 ELSE 0 END")
        .mkString(" + ")
      s"""WITH ${shingleCte("WHERE doc_id < 500")}, $jaccardCte,
          sig AS (SELECT doc_id, $mins FROM sh GROUP BY doc_id)
          SELECT jac.a, jac.b, jac.jaccard,
                 CAST($eq AS INTEGER) AS est_matches
          FROM jac
          JOIN sig sa ON jac.a = sa.doc_id
          JOIN sig sb ON jac.b = sb.doc_id
          WHERE jac.jaccard >= 0.2"""
    },
    // the planted-boilerplate cap row: denominators from the FULL
    // (planted) shingle sets, intersections only from shingles at or
    // under the df cap — exactly jaccardPairs(maxShingleDf = 50)
    "sk03_skew_hot_shingle" ->
      s"""WITH docs2 AS (
            SELECT doc_id,
                   CASE WHEN doc_id % 3 = 0 THEN text || ' zz yy xx'
                        ELSE text END AS text
            FROM documents WHERE doc_id < 500),
          ${shingleCte(src = "docs2")},
          hot AS (SELECT shingle FROM sh
                  GROUP BY shingle HAVING count(*) > 50),
          shc AS (SELECT sh.doc_id, sh.shingle FROM sh
                  LEFT JOIN hot USING (shingle)
                  WHERE hot.shingle IS NULL),
          sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
          inter AS (
            SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS i
            FROM shc x JOIN shc y
              ON x.shingle = y.shingle AND x.doc_id < y.doc_id
            GROUP BY 1, 2),
          jac AS (
            SELECT a, b, CAST(i AS DOUBLE) / (sa.n + sb.n - i) AS jaccard
            FROM inter
            JOIN sizes sa ON a = sa.doc_id
            JOIN sizes sb ON b = sb.doc_id)
          SELECT a, b, jaccard FROM jac WHERE jaccard >= 0.5""",
    // directed: each candidate scored against BOTH endpoint sizes
    "d11_containment_pairs" ->
      s"""WITH ${shingleCte("WHERE doc_id < 500")},
          sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
          inter AS (
            SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS i
            FROM sh x JOIN sh y
              ON x.shingle = y.shingle AND x.doc_id <> y.doc_id
            GROUP BY 1, 2)
          SELECT a, b, CAST(i AS DOUBLE) / sa.n AS containment
          FROM inter JOIN sizes sa ON a = sa.doc_id
          WHERE CAST(i AS DOUBLE) / sa.n >= 0.6""",
    "d03_minhash_lsh_pairs" ->
      s"""WITH ${shingleCte()}, $jaccardCte, $minhashCandsCte
          SELECT jac.a, jac.b, jac.jaccard
          FROM jac JOIN cands ON jac.a = cands.a AND jac.b = cands.b
          WHERE jac.jaccard >= 0.5""",
    // the FNV-1a production profile, mirrored hash-for-hash (the
    // round-6 xxhash64 basis had no DuckDB equivalent and kept this
    // entry rows-only)
    "d05_minhash_lsh_fast" ->
      s"""WITH ${shingleCte()}, $jaccardCte, $fnvCandsCte
          SELECT jac.a, jac.b, jac.jaccard
          FROM jac JOIN cands ON jac.a = cands.a AND jac.b = cands.b
          WHERE jac.jaccard >= 0.5""",
    // d12 = d05 restricted to batch (<100) × corpus (≥100) pairs;
    // band signatures are per-doc, so the split changes nothing else
    "d12_incremental_neardup" ->
      s"""WITH ${shingleCte(materialized = false)}, $jaccardCte, $fnvCandsCte
          SELECT jac.a, jac.b, jac.jaccard
          FROM jac JOIN cands ON jac.a = cands.a AND jac.b = cands.b
          WHERE jac.jaccard >= 0.5
            AND jac.a < 100 AND jac.b >= 100""",
    // d14 = d03's pair relation × sp01's split assignment (same
    // "graft-split" salt + 15-hex-char md5 bucket as SplitQueries),
    // filtered to straddling pairs
    "d14_split_leakage" -> {
      val b = "CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)" +
        " || '|graft-split'), 1, 15)) AS BIGINT) % 100"
      s"""WITH ${shingleCte()}, $jaccardCte, $minhashCandsCte,
          pairs AS (
            SELECT jac.a, jac.b, jac.jaccard
            FROM jac JOIN cands ON jac.a = cands.a AND jac.b = cands.b
            WHERE jac.jaccard >= 0.5),
          sp AS (
            SELECT doc_id,
                   CASE WHEN $b < 80 THEN 'train'
                        WHEN $b < 90 THEN 'val'
                        ELSE 'test' END AS split
            FROM documents)
          SELECT p.a, p.b, p.jaccard,
                 sa.split AS split_a, sb.split AS split_b
          FROM pairs p
          JOIN sp sa ON p.a = sa.doc_id
          JOIN sp sb ON p.b = sb.doc_id
          WHERE sa.split <> sb.split"""
    },
    // fj01: the oracle replays the SAME deletion-neighborhood
    // blocking in SQL (complete for distance ≤ 1), then the same
    // exact levenshtein confirm
    "fj01_fuzzy_key_join" ->
      s"""WITH k AS (
            SELECT doc_id, array_to_string(list_transform(
              ($tokSql)[1:16], w -> w[1:1]), '') AS k
            FROM documents),
          v AS (
            SELECT doc_id, k,
                   unnest(list_distinct(list_append(
                     list_transform(range(1, len(k) + 1),
                       i -> substr(k, 1, i - 1) || substr(k, i + 1)),
                     k))) AS v
            FROM k),
          cand AS (
            SELECT DISTINCT x.doc_id AS a, y.doc_id AS b,
                   x.k AS ka, y.k AS kb
            FROM v x JOIN v y
              ON x.v = y.v AND x.doc_id < y.doc_id)
          SELECT a, b, CAST(levenshtein(ka, kb) AS INTEGER) AS dist
          FROM cand WHERE levenshtein(ka, kb) <= 1""",
    // d15: identical window-hash → frequency → keep-first → islands
    // chain; the span merge is standard SQL gaps-and-islands (break
    // when the previous duplicated position can no longer overlap,
    // i.e. pos > prev + W)
    "d15_substring_spans" ->
      """WITH t AS (
           SELECT doc_id,
                  list_filter(string_split(text, ' '),
                    w -> len(w) > 0) AS toks
           FROM documents),
         occ AS (
           SELECT doc_id, CAST(p AS BIGINT) AS pos,
                  md5(array_to_string(toks[p:p+4], ' ')) AS h
           FROM t, unnest(range(1, len(toks) - 3)) AS u(p)
           WHERE len(toks) >= 5),
         freq AS (
           SELECT h, count(*) AS c,
                  min(doc_id * 1048576 + pos) AS canon
           FROM occ GROUP BY h),
         marked AS (
           SELECT o.doc_id, o.pos FROM occ o JOIN freq f ON o.h = f.h
           WHERE f.c >= 2 AND o.doc_id * 1048576 + o.pos <> f.canon),
         isl AS (
           SELECT doc_id, pos,
                  CASE WHEN pos > coalesce(lag(pos) OVER
                         (PARTITION BY doc_id ORDER BY pos), -5) + 5
                       THEN 1 ELSE 0 END AS brk
           FROM marked),
         grp AS (
           SELECT doc_id, pos,
                  sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
                                 ROWS UNBOUNDED PRECEDING) AS island
           FROM isl)
         SELECT doc_id, min(pos) AS span_start,
                max(pos) + 4 AS span_end,
                max(pos) + 5 - min(pos) AS n_tokens
         FROM grp GROUP BY doc_id, island""",

    // d17: same chain, but grouped by window CONTENT with the
    // corpus/batch split — corpus membership always cuts, batch
    // frequency follows d15's keep-first
    "d17_incremental_substring" ->
      """WITH t AS (
           SELECT doc_id,
                  list_filter(string_split(text, ' '),
                    w -> len(w) > 0) AS toks
           FROM documents),
         occ AS (
           SELECT doc_id, CAST(p AS BIGINT) AS pos,
                  array_to_string(toks[p:p+4], ' ') AS w
           FROM t, unnest(range(1, len(toks) - 3)) AS u(p)
           WHERE len(toks) >= 5),
         cw AS (SELECT DISTINCT w FROM occ WHERE doc_id >= 100),
         bocc AS (SELECT * FROM occ WHERE doc_id < 100),
         bfreq AS (
           SELECT w, count(*) AS c,
                  min(doc_id * 1048576 + pos) AS canon
           FROM bocc GROUP BY w),
         marked AS (
           SELECT b.doc_id, b.pos
           FROM bocc b JOIN bfreq f ON b.w = f.w
           LEFT JOIN cw ON b.w = cw.w
           WHERE cw.w IS NOT NULL
              OR (f.c >= 2 AND b.doc_id * 1048576 + b.pos <> f.canon)),
         isl AS (
           SELECT doc_id, pos,
                  CASE WHEN pos > coalesce(lag(pos) OVER
                         (PARTITION BY doc_id ORDER BY pos), -5) + 5
                       THEN 1 ELSE 0 END AS brk
           FROM marked),
         grp AS (
           SELECT doc_id, pos,
                  sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
                                 ROWS UNBOUNDED PRECEDING) AS island
           FROM isl)
         SELECT doc_id, min(pos) AS span_start,
                max(pos) + 4 AS span_end,
                max(pos) + 5 - min(pos) AS n_tokens
         FROM grp GROUP BY doc_id, island""",

    // d16: d15's span chain, then reassemble keeping positions no
    // span covers; a LEFT JOIN from the full doc list keeps docs
    // whose text was entirely cut (empty string) and untouched docs
    "d16_substring_strip" ->
      """WITH t AS (
           SELECT doc_id,
                  list_filter(string_split(text, ' '),
                    w -> len(w) > 0) AS toks
           FROM documents),
         occ AS (
           SELECT doc_id, CAST(p AS BIGINT) AS pos,
                  md5(array_to_string(toks[p:p+4], ' ')) AS h
           FROM t, unnest(range(1, len(toks) - 3)) AS u(p)
           WHERE len(toks) >= 5),
         freq AS (
           SELECT h, count(*) AS c,
                  min(doc_id * 1048576 + pos) AS canon
           FROM occ GROUP BY h),
         marked AS (
           SELECT o.doc_id, o.pos FROM occ o JOIN freq f ON o.h = f.h
           WHERE f.c >= 2 AND o.doc_id * 1048576 + o.pos <> f.canon),
         isl AS (
           SELECT doc_id, pos,
                  CASE WHEN pos > coalesce(lag(pos) OVER
                         (PARTITION BY doc_id ORDER BY pos), -5) + 5
                       THEN 1 ELSE 0 END AS brk
           FROM marked),
         grp AS (
           SELECT doc_id, pos,
                  sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
                                 ROWS UNBOUNDED PRECEDING) AS island
           FROM isl),
         spans AS (
           SELECT doc_id, min(pos) AS s, max(pos) + 4 AS e
           FROM grp GROUP BY doc_id, island),
         pos AS (
           SELECT doc_id, unnest(toks) AS w,
                  CAST(generate_subscripts(toks, 1) AS BIGINT) AS p
           FROM t),
         keep AS (
           SELECT pos.doc_id, pos.w, pos.p
           FROM pos LEFT JOIN spans
             ON pos.doc_id = spans.doc_id
            AND pos.p BETWEEN spans.s AND spans.e
           WHERE spans.doc_id IS NULL),
         agg AS (
           SELECT doc_id, string_agg(w, ' ' ORDER BY p) AS clean_text,
                  count(*) AS n_kept
           FROM keep GROUP BY doc_id)
         SELECT t.doc_id, coalesce(agg.clean_text, '') AS clean_text,
                len(t.toks) - coalesce(agg.n_kept, 0) AS n_removed
         FROM t LEFT JOIN agg ON t.doc_id = agg.doc_id""",

    // d19: within-doc keep-first over window CONTENT (row_number per
    // doc+content — all-but-first marked), then d16's splice tail.
    // Window = 3 tokens.
    "d19_intra_doc_strip" ->
      """WITH t AS (
           SELECT doc_id,
                  list_filter(string_split(text, ' '),
                    w -> len(w) > 0) AS toks
           FROM documents),
         occ AS (
           SELECT doc_id, CAST(p AS BIGINT) AS pos,
                  array_to_string(toks[p:p+2], ' ') AS w
           FROM t, unnest(range(1, len(toks) - 1)) AS u(p)
           WHERE len(toks) >= 3),
         marked AS (
           SELECT doc_id, pos FROM occ
           QUALIFY row_number() OVER
             (PARTITION BY doc_id, w ORDER BY pos) > 1),
         pos AS (
           SELECT doc_id, unnest(toks) AS w,
                  CAST(generate_subscripts(toks, 1) AS BIGINT) AS p
           FROM t),
         keep AS (
           SELECT pos.doc_id, pos.w, pos.p
           FROM pos LEFT JOIN marked
             ON pos.doc_id = marked.doc_id
            AND pos.p BETWEEN marked.pos AND marked.pos + 2
           WHERE marked.pos IS NULL),
         agg AS (
           SELECT doc_id, string_agg(w, ' ' ORDER BY p) AS clean_text,
                  count(*) AS n_kept
           FROM keep GROUP BY doc_id)
         SELECT t.doc_id, coalesce(agg.clean_text, '') AS clean_text,
                CAST(len(t.toks) - coalesce(agg.n_kept, 0) AS BIGINT)
                  AS n_removed
         FROM t LEFT JOIN agg ON t.doc_id = agg.doc_id""",

    // d13: the oracle ranks with a plain global window (fine at
    // oracle scale; the Spark side uses the distributed sort), pairs
    // ranks within the window, and restricts the same exact-Jaccard
    // relation to those candidates
    "d13_sorted_neighborhood" ->
      s"""WITH ${shingleCte()}, $jaccardCte,
          keyed AS (
            SELECT doc_id, substr(replace(text, ' ', ''), 1, 16) AS k
            FROM documents),
          ranked AS (
            SELECT doc_id,
                   row_number() OVER (ORDER BY k, doc_id) - 1 AS r
            FROM keyed),
          cands AS (
            SELECT least(x.doc_id, y.doc_id) AS a,
                   greatest(x.doc_id, y.doc_id) AS b
            FROM ranked x JOIN ranked y
              ON y.r > x.r AND y.r - x.r < 10)
          SELECT jac.a, jac.b, jac.jaccard
          FROM jac JOIN cands ON jac.a = cands.a AND jac.b = cands.b
          WHERE jac.jaccard >= 0.5""",
    // Connected components via a recursive reachability CTE: root r
    // reaches node n ⇒ (n, r) ∈ reach; min(r) per node = the
    // component's minimum id (reachability is symmetric on the
    // undirected edge list). Tractable for the oracle because the
    // LSH pair list is tiny; the Spark side converges by label
    // propagation instead.
    "d06_dup_clusters" -> dupClustersOracleSql,
    // same relation, different Spark plan (star contraction)
    "d09_dup_clusters_star" -> dupClustersOracleSql,
    "d18_dup_centrality" -> centralityOracleSql,
    // clusters → token-count quality → per-cluster argmax (quality
    // desc, doc_id asc); kept ⇔ the member IS the winner
    "d10_dedup_resolve" ->
      s"""WITH RECURSIVE $dupClusterCtes,
          q AS (
            SELECT doc_id, CAST(len($tokSql) AS BIGINT) AS quality
            FROM documents),
          member AS MATERIALIZED (
            SELECT c.doc_id, c.cluster_id, q.quality
            FROM clusters c JOIN q USING (doc_id)),
          win AS (
            SELECT cluster_id, doc_id AS keep_id FROM (
              SELECT cluster_id, doc_id, row_number() OVER (
                PARTITION BY cluster_id
                ORDER BY quality DESC, doc_id ASC) AS rn
              FROM member)
            WHERE rn = 1)
          SELECT m.doc_id, m.cluster_id, m.quality,
                 m.doc_id = w.keep_id AS kept
          FROM member m JOIN win w USING (cluster_id)""",
    "d07_decontaminate" -> decontaminateSql,
    // same oracle by design: the bloom phase only prunes, the semi
    // join confirms — the result set must be identical to d07's
    "d08_decontaminate_bloom" -> decontaminateSql,
    "e01_knn_brute" ->
      s"""WITH q AS (
            SELECT vec_id AS q_id, embedding AS q_vec
            FROM embeddings WHERE vec_id < 10),
          scored AS (
            SELECT q_id, e.vec_id AS n_id,
                   ${dotSql("q_vec", "e.embedding")} /
                   (${normSql("q_vec")} * ${normSql("e.embedding")}) AS cos
            FROM embeddings e, q WHERE e.vec_id <> q_id),
          ranked AS (
            SELECT q_id, n_id, cos, CAST(row_number() OVER (
              PARTITION BY q_id ORDER BY cos DESC, n_id ASC) AS INTEGER) AS rn
            FROM scored)
          SELECT q_id, n_id, cos, rn FROM ranked WHERE rn <= 10""",
    "d04_simhash_pairs" ->
      s"""WITH tok AS (
            SELECT doc_id, unnest($tokSql) AS w FROM documents),
          hv AS (
            SELECT doc_id,
                   CAST(('0x' || substring(md5(w), 1, 15)) AS BIGINT) AS hv
            FROM tok),
          votes AS (
            SELECT doc_id, CAST(b.range AS INTEGER) AS b,
                   sum(CASE WHEN (hv >> CAST(b.range AS INTEGER)) & 1 = 1
                       THEN 1 ELSE -1 END) AS vote
            FROM hv, range(60) b GROUP BY 1, 2),
          fp AS (
            SELECT doc_id,
                   CAST(sum(CASE WHEN vote > 0 THEN (1::BIGINT << b)
                            ELSE 0 END) AS BIGINT) AS fp
            FROM votes GROUP BY 1),
          bands AS (
            SELECT doc_id, fp, CAST(b.range AS INTEGER) AS band,
                   (fp >> CAST(b.range * 15 AS INTEGER)) & 32767 AS bits
            FROM fp, range(4) b),
          pairs AS (
            SELECT x.doc_id AS a, y.doc_id AS b,
                   CAST(bit_count(xor(x.fp, y.fp)) AS INTEGER) AS dist
            FROM bands x JOIN bands y
              ON x.band = y.band AND x.bits = y.bits
                 AND x.doc_id < y.doc_id
            GROUP BY 1, 2, 3)
          SELECT a, b, dist FROM pairs WHERE dist <= 3""",
    "e02_knn_lsh" ->
      s"""WITH c AS (
            SELECT vec_id AS n_id, embedding AS n_vec FROM embeddings),
          q AS (
            SELECT vec_id AS q_id, embedding AS q_vec
            FROM embeddings WHERE vec_id < 10),
          cb AS (
            SELECT n_id, generate_subscripts(bk, 1) AS t, unnest(bk) AS bkt
            FROM (SELECT n_id, ${bucketsSql("n_vec", 4, 16)} AS bk FROM c)),
          qb AS (
            SELECT q_id, generate_subscripts(bk, 1) AS t, unnest(bk) AS bkt
            FROM (SELECT q_id, ${bucketsSql("q_vec", 4, 16)} AS bk FROM q)),
          cand AS (
            SELECT DISTINCT q_id, n_id
            FROM cb JOIN qb ON cb.t = qb.t AND cb.bkt = qb.bkt
            WHERE n_id <> q_id),
          scored AS (
            SELECT cand.q_id, cand.n_id,
                   ${dotSql("q_vec", "n_vec")} /
                   (${normSql("q_vec")} * ${normSql("n_vec")}) AS cos
            FROM cand
            JOIN c ON cand.n_id = c.n_id
            JOIN q ON cand.q_id = q.q_id),
          ranked AS (
            SELECT q_id, n_id, cos, CAST(row_number() OVER (
              PARTITION BY q_id ORDER BY cos DESC, n_id ASC) AS INTEGER) AS rn
            FROM scored)
          SELECT q_id, n_id, cos, rn FROM ranked WHERE rn <= 10""",
    // r03: the retrieval-quality report is pure post-processing of
    // two rankings the gate already hash-verifies (e01 exact, e02
    // LSH), so its oracle just composes those two queries' CTEs and
    // replays the metrics math: recall@10 = |exact∩approx|/10 per
    // query; MRR = 1/approx-rank of the true nearest (exact rn = 1),
    // 0 on a miss. count/10.0 and 1.0/rn are single correctly-rounded
    // IEEE divides of integer-valued operands — engine-portable, so
    // this data-dependent metric hashes exactly at any SF.
    "r03_retrieval_metrics" ->
      s"""WITH q AS (
            SELECT vec_id AS q_id, embedding AS q_vec
            FROM embeddings WHERE vec_id < 10),
          ex_scored AS (
            SELECT q_id, e.vec_id AS n_id,
                   ${dotSql("q_vec", "e.embedding")} /
                   (${normSql("q_vec")} * ${normSql("e.embedding")}) AS cos
            FROM embeddings e, q WHERE e.vec_id <> q_id),
          ex AS (
            SELECT q_id, n_id, rn FROM (
              SELECT q_id, n_id, CAST(row_number() OVER (
                PARTITION BY q_id ORDER BY cos DESC, n_id ASC)
                AS INTEGER) AS rn
              FROM ex_scored)
            WHERE rn <= 10),
          c AS (
            SELECT vec_id AS n_id, embedding AS n_vec FROM embeddings),
          cb AS (
            SELECT n_id, generate_subscripts(bk, 1) AS t, unnest(bk) AS bkt
            FROM (SELECT n_id, ${bucketsSql("n_vec", 4, 16)} AS bk FROM c)),
          qb AS (
            SELECT q_id, generate_subscripts(bk, 1) AS t, unnest(bk) AS bkt
            FROM (SELECT q_id, ${bucketsSql("q_vec", 4, 16)} AS bk FROM q)),
          cand AS (
            SELECT DISTINCT q_id, n_id
            FROM cb JOIN qb ON cb.t = qb.t AND cb.bkt = qb.bkt
            WHERE n_id <> q_id),
          ap_scored AS (
            SELECT cand.q_id, cand.n_id,
                   ${dotSql("q_vec", "n_vec")} /
                   (${normSql("q_vec")} * ${normSql("n_vec")}) AS cos
            FROM cand
            JOIN c ON cand.n_id = c.n_id
            JOIN q ON cand.q_id = q.q_id),
          ap AS (
            SELECT q_id, n_id, rn FROM (
              SELECT q_id, n_id, CAST(row_number() OVER (
                PARTITION BY q_id ORDER BY cos DESC, n_id ASC)
                AS INTEGER) AS rn
              FROM ap_scored)
            WHERE rn <= 10),
          hits AS (
            SELECT ex.q_id, ex.rn, ap.rn AS a_rn
            FROM ex JOIN ap ON ex.q_id = ap.q_id AND ex.n_id = ap.n_id),
          recall AS (
            SELECT q_id, CAST(count(*) AS DOUBLE) / CAST(10 AS DOUBLE)
                     AS recall_at_k
            FROM hits GROUP BY 1),
          rr AS (
            SELECT q_id, 1.0 / CAST(a_rn AS DOUBLE) AS mrr
            FROM hits WHERE rn = 1)
          SELECT base.q_id,
                 coalesce(recall.recall_at_k, 0.0) AS recall_at_k,
                 coalesce(rr.mrr, 0.0) AS mrr
          FROM (SELECT DISTINCT q_id FROM ex) base
          LEFT JOIN recall ON base.q_id = recall.q_id
          LEFT JOIN rr ON base.q_id = rr.q_id""",
    // e05 trains its coarse quantizer with spark.ml k-means|| — not
    // SQL-expressible, so the result rows themselves are the oracle:
    // DeterminismProbe-stable across runs/core counts, pinned per
    // fixture via tools.OracleDump (see E05Oracle's scaladoc). On a
    // foreign stack (OracleEnv) the query degrades to per-query
    // recall-band booleans and this oracle to their literal truth.
    "e05_knn_ivf" -> (if (graft.core.OracleEnv.bitExact) E05Oracle.sql
      else """SELECT CAST(10 AS BIGINT) AS n_queries,
              true AS recall_ok"""),
    "e08_ivf_scoring" -> ivfScoringOracleSql,
    // e16 is result-identical to e08 by construction (persisted
    // index, same centroids/assignment/scoring) — same oracle.
    "e16_ivf_persisted" -> ivfScoringOracleSql,
    // e23: exact top-k (the e01 relation, id-only) LEFT JOIN the e08
    // IVF relation (ivfScoringOracleSql verbatim as a nested-WITH
    // CTE); hits via count(matched) — count, never sum, so both
    // engines emit BIGINT (the r12 dtype lesson).
    "e23_ann_recall" ->
      s"""WITH exact AS (
            WITH q AS (
              SELECT vec_id AS q_id, embedding AS q_vec
              FROM embeddings WHERE vec_id < 10),
            scored AS (
              SELECT q_id, e.vec_id AS n_id,
                     ${dotSql("q_vec", "e.embedding")} /
                     (${normSql("q_vec")} * ${normSql("e.embedding")})
                       AS cos
              FROM embeddings e, q WHERE e.vec_id <> q_id),
            ranked AS (
              SELECT q_id, n_id, row_number() OVER (
                PARTITION BY q_id ORDER BY cos DESC, n_id ASC) AS rn
              FROM scored)
            SELECT q_id, n_id FROM ranked WHERE rn <= 10),
          approx AS ($ivfScoringOracleSql)
          SELECT e.q_id, CAST(count(*) AS INTEGER) AS k_eval,
                 count(a.n_id) AS hits
          FROM exact e LEFT JOIN approx a
            ON e.q_id = a.q_id AND e.n_id = a.n_id
          GROUP BY e.q_id""",
    // e17: same nearest-cell assignment CTE as e08; the mean is an
    // INTEGER sum of 1/2^24-floor-quantized coordinates, divided in
    // the same double order as the Spark plan — exact, no rounding
    "e17_kmeans_lloyd" ->
      s"""WITH ctr AS ($centroidTableSql),
          cc AS (
            SELECT vec_id, cell, embedding FROM (
              SELECT vec_id, ctr.cell, embedding,
                     CAST(row_number() OVER (
                       PARTITION BY vec_id
                       ORDER BY ${sqDistSql("embedding", "cvec")},
                                ctr.cell) AS INTEGER) AS rn
              FROM embeddings, ctr)
            WHERE rn = 1),
          pts AS (
            SELECT cell,
                   CAST(generate_subscripts(embedding, 1) - 1
                        AS INTEGER) AS dim,
                   CAST(floor(CAST(unnest(embedding) AS DOUBLE)
                        * 16777216.0) AS BIGINT) AS q
            FROM cc)
          SELECT cell, dim, CAST(count(*) AS BIGINT) AS n,
                 CAST(CAST(sum(q) AS BIGINT) AS DOUBLE)
                   / CAST(count(*) AS DOUBLE) / 16777216.0 AS centroid
          FROM pts GROUP BY cell, dim""",
    // e18: iteration 1 = e17's CTEs; the computed means regroup into
    // DOUBLE[] centroids (dense renumber in cell order, list ordered
    // by dim — the exact doubles the Spark side collects, since the
    // integer sums and the division order are identical); iteration 2
    // re-assigns against the computed table and re-averages
    "e18_kmeans_fit2" ->
      s"""WITH ctr AS ($centroidTableSql),
          cc1 AS (
            SELECT vec_id, cell, embedding FROM (
              SELECT vec_id, ctr.cell, embedding,
                     CAST(row_number() OVER (
                       PARTITION BY vec_id
                       ORDER BY ${sqDistSql("embedding", "cvec")},
                                ctr.cell) AS INTEGER) AS rn
              FROM embeddings, ctr)
            WHERE rn = 1),
          p1 AS (
            SELECT cell,
                   CAST(generate_subscripts(embedding, 1) - 1
                        AS INTEGER) AS dim,
                   CAST(floor(CAST(unnest(embedding) AS DOUBLE)
                        * 16777216.0) AS BIGINT) AS q
            FROM cc1),
          m1 AS (
            SELECT cell, dim,
                   CAST(CAST(sum(q) AS BIGINT) AS DOUBLE)
                     / CAST(count(*) AS DOUBLE) / 16777216.0 AS c
            FROM p1 GROUP BY cell, dim),
          ctr1 AS (
            SELECT CAST(dense_rank() OVER (ORDER BY cell) - 1
                        AS INTEGER) AS cell,
                   list(c ORDER BY dim) AS cvec
            FROM m1 GROUP BY cell),
          cc2 AS (
            SELECT vec_id, cell, embedding FROM (
              SELECT vec_id, ctr1.cell, embedding,
                     CAST(row_number() OVER (
                       PARTITION BY vec_id
                       ORDER BY ${sqDistSql("embedding", "cvec")},
                                ctr1.cell) AS INTEGER) AS rn
              FROM embeddings, ctr1)
            WHERE rn = 1),
          p2 AS (
            SELECT cell,
                   CAST(generate_subscripts(embedding, 1) - 1
                        AS INTEGER) AS dim,
                   CAST(floor(CAST(unnest(embedding) AS DOUBLE)
                        * 16777216.0) AS BIGINT) AS q
            FROM cc2)
          SELECT cell, dim, CAST(count(*) AS BIGINT) AS n,
                 CAST(CAST(sum(q) AS BIGINT) AS DOUBLE)
                   / CAST(count(*) AS DOUBLE) / 16777216.0 AS centroid
          FROM p2 GROUP BY cell, dim""",
    "e19_ivf_trained" -> ivfTrainedOracleSql,
    "e22_cluster_balanced_sample" -> clusterBalancedOracleSql,
    "e10_pq_encode" ->
      s"""WITH $pqCodesCtes
          SELECT vec_id, m, code FROM codes""",
    // fixed-order chain (t0+t1)+t2)+t3 mirrors Spark's left-to-right
    // reduce so the IEEE sum is exact — never an unordered SUM()
    "e11_pq_adc_topk" ->
      s"""WITH $pqCodesCtes,
          q AS (
            SELECT vec_id AS q_id, embedding AS q_vec
            FROM embeddings WHERE vec_id < 10),
          qsub AS (
            SELECT q_id, CAST(m.range AS INTEGER) AS m,
                   list_slice(q_vec,
                     CAST(m.range * 16 + 1 AS INTEGER),
                     CAST(m.range * 16 + 16 AS INTEGER)) AS sv
            FROM q, range(4) m),
          lut AS (
            SELECT q_id, qsub.m, cb.k,
                   ${sqDistSql("sv", "cvec")} AS dist
            FROM qsub JOIN cb ON qsub.m = cb.m),
          terms AS (
            SELECT l.q_id, n.vec_id AS n_id, l.m, l.dist
            FROM codes n
            JOIN lut l ON l.m = n.m AND l.k = n.code
            WHERE n.vec_id <> l.q_id),
          scored AS (
            SELECT q_id, n_id,
                   max(CASE WHEN m = 0 THEN dist END) +
                   max(CASE WHEN m = 1 THEN dist END) +
                   max(CASE WHEN m = 2 THEN dist END) +
                   max(CASE WHEN m = 3 THEN dist END) AS adist
            FROM terms GROUP BY 1, 2),
          ranked AS (
            SELECT q_id, n_id, adist, CAST(row_number() OVER (
              PARTITION BY q_id ORDER BY adist ASC, n_id ASC)
              AS INTEGER) AS rn
            FROM scored)
          SELECT q_id, n_id, adist, rn FROM ranked WHERE rn <= 10""",
    "e21_mmr_rerank" -> mmrOracleSql,
    "e20_embed_decontaminate" ->
      s"""WITH c AS (
            SELECT vec_id, embedding, label FROM embeddings
            WHERE vec_id >= 50 AND vec_id < 550),
          e AS (
            SELECT embedding AS evec FROM embeddings WHERE vec_id < 50)
          SELECT vec_id, label FROM c
          WHERE NOT EXISTS (
            SELECT 1 FROM e
            WHERE ${dotSql("c.embedding", "e.evec")} /
                  (${normSql("c.embedding")} * ${normSql("e.evec")})
                  >= 0.4)""",
    "e09_semdedup" ->
      s"""WITH RECURSIVE ctr AS ($centroidTableSql),
          c AS (
            SELECT vec_id AS id, embedding AS vec
            FROM embeddings WHERE vec_id < 500),
          cc AS (
            SELECT id, cell FROM (
              SELECT id, ctr.cell, CAST(row_number() OVER (
                PARTITION BY id
                ORDER BY ${sqDistSql("vec", "cvec")}, ctr.cell)
                AS INTEGER) AS rn
              FROM c, ctr)
            WHERE rn = 1),
          sempairs AS (
            SELECT a, b FROM (
              SELECT x.id AS a, y.id AS b,
                     ${dotSql("ca.vec", "cb.vec")} /
                     (${normSql("ca.vec")} * ${normSql("cb.vec")}) AS cos
              FROM cc x
              JOIN cc y ON x.cell = y.cell AND x.id < y.id
              JOIN c ca ON ca.id = x.id
              JOIN c cb ON cb.id = y.id)
            WHERE cos >= 0.4),
          semedges AS (
            SELECT a, b FROM sempairs
            UNION SELECT b AS a, a AS b FROM sempairs),
          semreach AS (
            SELECT a AS node, a AS root FROM semedges
            UNION
            SELECT e.b AS node, r.root
            FROM semreach r JOIN semedges e ON e.a = r.node)
          SELECT node AS vec_id, min(root) AS cluster_id
          FROM semreach GROUP BY node""",
    "e04_cosine_dup_lsh" ->
      s"""WITH e AS (
            SELECT vec_id AS id, embedding AS vec
            FROM embeddings WHERE vec_id < 500),
          bb AS (
            SELECT id, generate_subscripts(bk, 1) AS t, unnest(bk) AS bkt
            FROM (SELECT id, ${bucketsSql("vec", 4, 12)} AS bk FROM e)),
          cand AS (
            SELECT DISTINCT x.id AS a, y.id AS b
            FROM bb x JOIN bb y
              ON x.t = y.t AND x.bkt = y.bkt AND x.id < y.id)
          SELECT * FROM (
            SELECT cand.a, cand.b,
                   ${dotSql("ea.vec", "eb.vec")} /
                   (${normSql("ea.vec")} * ${normSql("eb.vec")}) AS cos
            FROM cand
            JOIN e ea ON cand.a = ea.id
            JOIN e eb ON cand.b = eb.id)
          WHERE cos >= 0.4""",
    "e06_label_centroids" ->
      """SELECT label, CAST(pos - 1 AS INTEGER) AS dim,
         round(avg(CAST(v AS DOUBLE)), 6) AS centroid
         FROM (SELECT label, unnest(embedding) AS v,
                      generate_subscripts(embedding, 1) AS pos
               FROM embeddings)
         GROUP BY 1, 2""",
    "e07_quantize_int8" ->
      """WITH m AS (
           SELECT vec_id, embedding,
                  CAST(list_max(list_transform(embedding,
                    x -> abs(CAST(x AS DOUBLE)))) AS DOUBLE) AS maxabs
           FROM embeddings),
         s AS (
           SELECT vec_id, embedding, maxabs,
                  CASE WHEN maxabs > 0 THEN 127.0 / maxabs
                       ELSE 0.0 END AS scale
           FROM m)
         SELECT vec_id, scale, CAST(pos - 1 AS INTEGER) AS dim,
                CASE WHEN maxabs > 0
                  THEN CAST(floor(CAST(v AS DOUBLE) * scale + 0.5)
                       AS INTEGER)
                  ELSE 0 END AS q
         FROM (SELECT vec_id, scale, maxabs, unnest(embedding) AS v,
                      generate_subscripts(embedding, 1) AS pos
               FROM s)""",
    "e03_cosine_dup_pairs" ->
      s"""WITH e AS (
            SELECT vec_id, embedding FROM embeddings WHERE vec_id < 500)
          SELECT * FROM (
            SELECT x.vec_id AS a, y.vec_id AS b,
                   ${dotSql("x.embedding", "y.embedding")} /
                   (${normSql("x.embedding")} * ${normSql("y.embedding")}) AS cos
            FROM e x JOIN e y ON x.vec_id < y.vec_id)
          WHERE cos >= 0.4""",
    "st08_stream_neardup_cands" ->
      s"""WITH ${shingleCte()}, $minhashCandsCte
          SELECT a, b FROM cands WHERE b - a <= 60""",
    // e08's cell CTEs ∘ e11's LUT CTEs — candidates restricted to
    // probed cells, ranked by the same ADC pivot sum
    "e14_ivfpq_topk" ->
      s"""WITH $pqCodesCtes,
          ctr AS ($centroidTableSql),
          c AS (
            SELECT vec_id AS n_id, embedding AS n_vec FROM embeddings),
          cc AS (
            SELECT n_id, cell FROM (
              SELECT n_id, ctr.cell, CAST(row_number() OVER (
                PARTITION BY n_id
                ORDER BY ${sqDistSql("n_vec", "cvec")}, ctr.cell)
                AS INTEGER) AS rn
              FROM c, ctr)
            WHERE rn = 1),
          q AS (
            SELECT vec_id AS q_id, embedding AS q_vec
            FROM embeddings WHERE vec_id < 10),
          qc AS (
            SELECT q_id, cell FROM (
              SELECT q_id, ctr.cell, CAST(row_number() OVER (
                PARTITION BY q_id
                ORDER BY ${sqDistSql("q_vec", "cvec")}, ctr.cell)
                AS INTEGER) AS rn
              FROM q, ctr)
            WHERE rn <= 4),
          cand AS (
            SELECT q_id, n_id FROM cc JOIN qc USING (cell)
            WHERE n_id <> q_id),
          qsub AS (
            SELECT q_id, CAST(m.range AS INTEGER) AS m,
                   list_slice(q_vec,
                     CAST(m.range * 16 + 1 AS INTEGER),
                     CAST(m.range * 16 + 16 AS INTEGER)) AS sv
            FROM q, range(4) m),
          lut AS (
            SELECT q_id, qsub.m, cb.k,
                   ${sqDistSql("sv", "cvec")} AS dist
            FROM qsub JOIN cb ON qsub.m = cb.m),
          terms AS (
            SELECT l.q_id, n.vec_id AS n_id, l.m, l.dist
            FROM codes n
            JOIN lut l ON l.m = n.m AND l.k = n.code
            JOIN cand ON cand.n_id = n.vec_id AND cand.q_id = l.q_id),
          scored AS (
            SELECT q_id, n_id,
                   max(CASE WHEN m = 0 THEN dist END) +
                   max(CASE WHEN m = 1 THEN dist END) +
                   max(CASE WHEN m = 2 THEN dist END) +
                   max(CASE WHEN m = 3 THEN dist END) AS adist
            FROM terms GROUP BY 1, 2),
          ranked AS (
            SELECT q_id, n_id, adist, CAST(row_number() OVER (
              PARTITION BY q_id ORDER BY adist ASC, n_id ASC)
              AS INTEGER) AS rn
            FROM scored)
          SELECT q_id, n_id, adist, rn FROM ranked WHERE rn <= 10""",
    // e14's shape with residual encode: corpus codes argmin over
    // (vec − cell centroid) slices, LUTs per (query, probed cell)
    "e15_ivfpq_residual" ->
      s"""WITH cb AS ($pqCodebookTableSql),
          ctr AS ($centroidTableSql),
          c AS (
            SELECT vec_id AS n_id, embedding AS n_vec FROM embeddings),
          cc AS (
            SELECT n_id, cell FROM (
              SELECT n_id, ctr.cell, CAST(row_number() OVER (
                PARTITION BY n_id
                ORDER BY ${sqDistSql("n_vec", "cvec")}, ctr.cell)
                AS INTEGER) AS rn
              FROM c, ctr)
            WHERE rn = 1),
          crv AS (
            SELECT cc.n_id, cc.cell,
                   ${residualSql("n_vec", "cvec")} AS rvec
            FROM cc JOIN c USING (n_id) JOIN ctr USING (cell)),
          csub AS (
            SELECT n_id, cell, CAST(m.range AS INTEGER) AS m,
                   list_slice(rvec,
                     CAST(m.range * 16 + 1 AS INTEGER),
                     CAST(m.range * 16 + 16 AS INTEGER)) AS sv
            FROM crv, range(4) m),
          codes AS (
            SELECT n_id, cell, m, k AS code FROM (
              SELECT csub.n_id, csub.cell, csub.m, cb.k,
                     CAST(row_number() OVER (
                       PARTITION BY csub.n_id, csub.m
                       ORDER BY ${sqDistSql("sv", "cvec")}, cb.k)
                       AS INTEGER) AS rn
              FROM csub JOIN cb ON csub.m = cb.m)
            WHERE rn = 1),
          q AS (
            SELECT vec_id AS q_id, embedding AS q_vec
            FROM embeddings WHERE vec_id < 10),
          qc AS (
            SELECT q_id, cell FROM (
              SELECT q_id, ctr.cell, CAST(row_number() OVER (
                PARTITION BY q_id
                ORDER BY ${sqDistSql("q_vec", "cvec")}, ctr.cell)
                AS INTEGER) AS rn
              FROM q, ctr)
            WHERE rn <= 4),
          qrv AS (
            SELECT qc.q_id, qc.cell,
                   ${residualSql("q_vec", "cvec")} AS rq
            FROM qc JOIN q USING (q_id) JOIN ctr USING (cell)),
          qsub AS (
            SELECT q_id, cell, CAST(m.range AS INTEGER) AS m,
                   list_slice(rq,
                     CAST(m.range * 16 + 1 AS INTEGER),
                     CAST(m.range * 16 + 16 AS INTEGER)) AS sv
            FROM qrv, range(4) m),
          lut AS (
            SELECT q_id, cell, qsub.m, cb.k,
                   ${sqDistSql("sv", "cvec")} AS dist
            FROM qsub JOIN cb ON qsub.m = cb.m),
          terms AS (
            SELECT l.q_id, n.n_id, l.m, l.dist
            FROM codes n
            JOIN lut l ON l.cell = n.cell AND l.m = n.m
                      AND l.k = n.code
            WHERE n.n_id <> l.q_id),
          scored AS (
            SELECT q_id, n_id,
                   max(CASE WHEN m = 0 THEN dist END) +
                   max(CASE WHEN m = 1 THEN dist END) +
                   max(CASE WHEN m = 2 THEN dist END) +
                   max(CASE WHEN m = 3 THEN dist END) AS adist
            FROM terms GROUP BY 1, 2),
          ranked AS (
            SELECT q_id, n_id, adist, CAST(row_number() OVER (
              PARTITION BY q_id ORDER BY adist ASC, n_id ASC)
              AS INTEGER) AS rn
            FROM scored)
          SELECT q_id, n_id, adist, rn FROM ranked WHERE rn <= 10""",
    // sign bit i of dim i+1; bit 63 enters as BIGINT min so the
    // two's-complement value matches Spark's bitwiseOR fold exactly,
    // and popcount(xor) is engine-identical on the full 64-bit
    // pattern (bit_count(-1) = 64 in both)
    "e13_hamming_topk" -> {
      val sketch = (0 until 64).map { i =>
        val bit =
          if (i == 63) "-9223372036854775808"
          else (1L << i).toString
        s"(CASE WHEN embedding[${i + 1}] >= 0 THEN $bit ELSE 0 END)"
      }.mkString("(", " +\n             ", ")")
      s"""WITH sk AS (
            SELECT vec_id, $sketch AS s
            FROM embeddings),
          q AS (SELECT vec_id AS q_id, s AS q_sk FROM sk
                WHERE vec_id < 100),
          scored AS (
            SELECT q.q_id, c.vec_id AS n_id,
                   bit_count(xor(c.s, q.q_sk)) AS hamming
            FROM sk c JOIN q ON c.vec_id <> q.q_id),
          ranked AS (
            SELECT q_id, n_id, hamming,
                   row_number() OVER (PARTITION BY q_id
                     ORDER BY hamming, n_id) AS rn
            FROM scored)
          SELECT q_id, n_id, CAST(hamming AS INTEGER) AS hamming,
                 CAST(rn AS INTEGER) AS rn
          FROM ranked WHERE rn <= 10"""
    },
    // same literal sign rows as the Spark plan (planeSqlArr's
    // VARCHAR→DOUBLE cast discipline); /4 is exact; exploded to
    // scalar rows like e07 (the compare hashes scalars)
    "e12_random_projection" -> {
      val projs = jlSigns
        .map(s0 => s"${dotSql("embedding", planeSqlArr(s0))} / 4")
        .mkString("[\n            ", ",\n            ", "]")
      s"""SELECT vec_id, CAST(pos - 1 AS INTEGER) AS dim, v
          FROM (SELECT vec_id, unnest($projs) AS v,
                       generate_subscripts($projs, 1) AS pos
                FROM embeddings)"""
    }
  )
}
