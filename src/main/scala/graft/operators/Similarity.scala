package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`Array[Float]`).
  *
  * Baseline: brute-force cosine top-k — the queries side is broadcast,
  * so the big corpus never shuffles; cost is one scan × |queries|.
  * Scale path: random-hyperplane LSH bucketing — corpus and queries
  * are bucketed by sign-pattern, the join is bucket-local, and recall
  * is tuned with the number of planes / probe multipliers.
  *
  * All arithmetic is done in float64 with sequential `aggregate` so
  * results are bit-deterministic and engine-portable.
  */
object Similarity {

  private def kernel2(a: Column, b: Column,
      f: (org.apache.spark.sql.catalyst.expressions.Expression,
          org.apache.spark.sql.catalyst.expressions.Expression) =>
        org.apache.spark.sql.catalyst.expressions.Expression): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge._
    column(f(expression(a), expression(b)))
  }

  /** Sequential-order float64 dot product of two float-array columns —
    * left-to-right IEEE accumulation, same result on every engine
    * (reassociation-free). Runs as the native codegen'd
    * [[graft.expressions.DotF64]] kernel; the specs'
    * `SimilarityComposed.dotComposed` is the executable spec of the
    * same semantics (bit-parity asserted in ExpressionSpec).
    */
  def dot(a: Column, b: Column): Column =
    kernel2(a, b, graft.expressions.DotF64(_, _))

  /** Sequential-order L2 norm (native kernel; see [[dot]]). */
  def norm(a: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge._
    column(graft.expressions.NormF64(expression(a)))
  }

  /** Cosine from PRE-computed norms — identical IEEE ops and order to
    * `dot(a, b) / (norm(a) * norm(b))` (so oracle hashes are
    * unaffected), but the norms are bound to per-row columns once
    * instead of being re-derived for every scored pair: in an
    * all-pairs or candidate join each vector is scored against many
    * partners, and the inline form would re-run two full array passes
    * per pair.
    */
  def cosineFromNorms(a: Column, b: Column, na: Column,
                      nb: Column): Column = dot(a, b) / (na * nb)

  /** Per-query bounded top-k via [[graft.expressions.TopKAgg]] — the
    * two-stage ranking every scan-side top-k here shares. A
    * `row_number() over (partition by q_id)` window would shuffle the
    * ENTIRE scored set into ≤ |queries| reducers (the round-6 audit's
    * one scale-killer: with 100 queries, at most 100 active reducers
    * no matter the cluster); the bounded heap aggregates map-side, so
    * only |queries| × k rows per scan partition cross the exchange and
    * the final merge is |queries| tiny heap unions. Ordering (score
    * asc/desc, ties by smaller n_id) and therefore output hashes are
    * identical to the window form — pinned by the e01/e13 oracle rows
    * and PlanAuditSpec.
    */
  private[graft] def topKPerQuery(scored: DataFrame, scoreCol: String,
                                      scoreAsc: Boolean, k: Int): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge._
    val scoreType = scored.schema(scoreCol).dataType
    val agg = column(graft.expressions.TopKAgg(
      expression(col(scoreCol)), expression(col("n_id")), k, scoreAsc)
      .toAggregateExpression())
    scored.groupBy(col("q_id")).agg(agg.as("tk"))
      .select(col("q_id"), posexplode(col("tk")).as(Seq("p", "e")))
      .select(col("q_id"), col("e.id").as("n_id"),
        col("e.score").cast(scoreType).as(scoreCol),
        (col("p") + 1).as("rn"))
  }

  /** Brute-force exact top-k cosine neighbors for each query vector.
    *
    * @param corpus  (id, vec) big side — scanned once, never shuffled
    * @param queries (id, vec) small side — broadcast
    */
  def bruteForceKnn(corpus: DataFrame, queries: DataFrame, k: Int,
                    idCol: String = "vec_id",
                    vecCol: String = "embedding"): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("q_id"),
      col(vecCol).as("q_vec"), norm(col(vecCol)).as("q_nrm")))
    val scored = corpus
      .select(col(idCol).as("n_id"), col(vecCol).as("n_vec"),
        norm(col(vecCol)).as("n_nrm"))
      .join(q, col("n_id") =!= col("q_id"))
      .select(col("q_id"), col("n_id"),
        cosineFromNorms(col("q_vec"), col("n_vec"),
          col("q_nrm"), col("n_nrm")).as("cos"))
    topKPerQuery(scored, "cos", scoreAsc = false, k)
  }

  /** Maximal Marginal Relevance re-rank (Carbonell & Goldstein 1998):
    * greedy diversity-aware selection of `selK` results from each
    * query's `candK` relevance candidates — round 1 takes the top
    * relevance hit, round k takes
    * argmax λ·rel(c) − (1−λ)·max_{s∈selected} cos(c, s), ties → min
    * id. The selection loop every diverse-retrieval / diverse-sampling
    * pipeline runs on top of a KNN stage.
    *
    * Scale shape: the corpus is touched ONLY by the [[bruteForceKnn]]
    * candidate stage (broadcast queries, bounded TopKAgg heap, corpus
    * never shuffles); the greedy loop then runs IN-ROW over each
    * query's ≤`candK` collected candidates — |Q|·candK rows total, no
    * per-round shuffle, no iteration-count-many jobs. The rounds
    * unroll into one projection (plan depth ∝ selK·candK pairwise
    * sims — keep selK small; it is a top-of-funnel re-rank, the same
    * bounded-list contract as r01/r02).
    *
    * Determinism: every score is IEEE double computed in a fixed
    * order (λ·rel − (1−λ)·max sims; max is order-independent), and
    * argmax ties break on min id via a (score, −id) struct max — the
    * whole trajectory reproduces bit-identically in DuckDB, so a
    * 5-round greedy selection is hash-verifiable (e21).
    */
  def mmrRerank(corpus: DataFrame, queries: DataFrame, candK: Int,
                selK: Int, lambda: Double,
                idCol: String = "vec_id",
                vecCol: String = "embedding"): DataFrame = {
    require(selK >= 1 && selK <= candK,
      s"need 1 <= selK <= candK, got selK=$selK candK=$candK")
    val oneMinus = 1.0 - lambda
    val cands = bruteForceKnn(corpus, queries, candK, idCol, vecCol)
    val vecs = corpus.select(col(idCol).as("n_id"), col(vecCol).as("v"),
      norm(col(vecCol)).as("nrm"))
    val packed = cands.join(vecs, "n_id")
      .groupBy("q_id")
      .agg(collect_list(struct(col("n_id").as("id"),
        col("cos").as("rel"), col("v"), col("nrm"))).as("cs"))
    def sim(c: Column, s: Column): Column =
      dot(c("v"), s("v")) / (c("nrm") * s("nrm"))
    // argmax via struct max: (score, −id) — ties resolve to min id
    val first = array_max(transform(col("cs"),
      c => struct(c("rel").as("sc"), (-c("id")).as("ni"), c.as("c"))))("c")
    def next(sel: Column): Column =
      array_max(filter(transform(col("cs"), c =>
        when(!exists(sel, s => s("id") === c("id")),
          struct((lit(lambda) * c("rel") - lit(oneMinus) *
            array_max(transform(sel, s => sim(c, s)))).as("sc"),
            (-c("id")).as("ni"), c.as("c")))),
        x => x.isNotNull))("c")
    // The whole greedy loop runs inside ONE `aggregate` expression:
    // the selected-set accumulator is a lambda VARIABLE, so each
    // round reads the previous rounds' runtime VALUE. The per-round
    // withColumn formulation this replaces let Catalyst inline round
    // k's expression into round k+1's lambdas — optimized-plan size
    // grew 2.5× per round (41.6 kB at selK=5) and each inlined copy
    // re-evaluated per candidate: 0.25 s (selK=1) → 5.5 s (selK=5)
    // for 4 queries. With the runtime accumulator the plan is
    // constant-size in selK.
    val selArr =
      if (selK == 1) array(first)
      else aggregate(sequence(lit(1), lit(selK - 1)), array(first),
        (acc, _) => concat(acc, array(next(acc))))
    packed.select(col("q_id"), posexplode(selArr))
      .select(col("q_id"), (col("pos") + 1).as("sel_rank"),
        col("col")("id").as("n_id"), col("col")("rel").as("rel"))
  }

  /** Sign-pattern bucket id from `planes` fixed hyperplanes.
    * Hyperplanes are generated from a seeded RNG on the driver —
    * deterministic, shipped in the plan as literals.
    */
  def lshBucket(vec: Column, planes: Array[Array[Double]]): Column =
    planes.zipWithIndex.map { case (p, i) =>
      val d = dot(vec, typedLit(p.toSeq))
      when(d >= 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))

  def randomPlanes(numPlanes: Int, dim: Int, seed: Long = 42L): Array[Array[Double]] = {
    graft.core.PlanLiterals.requireDoubles(
      numPlanes.toLong * dim, "randomPlanes")
    val rng = new scala.util.Random(seed)
    Array.fill(numPlanes)(Array.fill(dim)(rng.nextGaussian()))
  }

  /** Approximate top-k via OR-composed multi-table LSH: `numTables`
    * independent sets of `numPlanes` hyperplanes; a corpus vector is a
    * candidate for a query iff they share a bucket in ANY table. With
    * per-table match probability p = (1−θ/π)^numPlanes for neighbors
    * at angle θ, recall = 1 − (1−p)^numTables — the defaults
    * (16 tables × 4 planes) give ≥0.9 recall out to θ ≈ 69°
    * neighbors (p ≈ 0.14 → recall 0.92), asserted against brute
    * force in the spec. Real corpora with closer neighbors need far
    * fewer tables — tune per corpus.
    *
    * Plan shape for scale: the query set is the SMALL side of an ANN
    * lookup by contract, so it is collected once (bounded by
    * `PlanLiterals`) and shipped as plan literals — id, vector, norm
    * and per-table bucket ids per query. The corpus is then scanned
    * exactly ONCE: each corpus row computes its own `numTables`
    * bucket ids in-row, probes the query literals with
    * `arrays_overlap`, and scores the matching queries in the same
    * row — no corpus explode ×numTables, no candidate-pair exchange,
    * no shuffle of corpus vectors at all; the only exchange is the
    * |queries|·k bounded-heap merge of [[topKPerQuery]]. The former
    * bucket-join form is the executable spec
    * (`SimilarityComposed.lshKnnJoined` in the specs,
    * value-parity-pinned in DedupSimilaritySpec).
    */
  def lshKnn(corpus: DataFrame, queries: DataFrame, k: Int,
             numPlanes: Int = 4, numTables: Int = 16,
             dim: Int = 64, seed: Long = 42L,
             idCol: String = "vec_id",
             vecCol: String = "embedding"): DataFrame = {
    require(numPlanes <= 30, s"numPlanes $numPlanes overflows bucket key")
    val planeSets = (0 until numTables)
      .map(t => randomPlanes(numPlanes, dim, seed + 1000L * t))
    // injective (table, bucket) key: bkt < 2^numPlanes by construction
    def buckets(vec: Column): Column = array(
      planeSets.zipWithIndex.map { case (ps, t) =>
        lit(t.toLong * (1L << numPlanes)) + lshBucket(vec, ps)
      }: _*)

    val qRows = queries.select(col(idCol).as("q_id"),
      col(vecCol).cast("array<double>").as("q_vec"),
      norm(col(vecCol)).as("q_nrm"),
      buckets(col(vecCol)).as("q_tb")).collect()
    graft.core.PlanLiterals.requireDoubles(
      qRows.length.toLong * (dim + numTables + 2), "lshKnn query literals")

    val c = corpus.select(col(idCol).as("n_id"), col(vecCol).as("n_vec"),
      norm(col(vecCol)).as("n_nrm"), buckets(col(vecCol)).as("n_tb"))
    if (qRows.isEmpty)
      return topKPerQuery(c.limit(0).select(col("n_id").as("q_id"),
        col("n_id"), lit(0.0).as("cos")), "cos", scoreAsc = false, k)
    val qlit = array(qRows.map { r =>
      struct(lit(r.get(0)).as("q_id"),
        typedLit(r.getSeq[Double](1)).as("q_vec"),
        lit(r.getDouble(2)).as("q_nrm"),
        typedLit(r.getSeq[Long](3)).as("q_tb"))
    }: _*)

    val scored = c
      .select(col("n_id"), col("n_vec"), col("n_nrm"),
        explode(filter(qlit, q => arrays_overlap(q("q_tb"), col("n_tb"))
          && q("q_id") =!= col("n_id"))).as("q"))
      .select(col("q")("q_id").as("q_id"), col("n_id"),
        cosineFromNorms(col("q")("q_vec"), col("n_vec"),
          col("q")("q_nrm"), col("n_nrm")).as("cos"))
    topKPerQuery(scored, "cos", scoreAsc = false, k)
  }

  /** IVF (inverted-file) approximate top-k: a k-means coarse
    * quantizer partitions the corpus into `numCells` Voronoi cells;
    * each query probes only its `nProbe` nearest cells and ranks the
    * vectors inside them.
    *
    * Scale shape: the quantizer fits on a (sampled) corpus pass; cell
    * assignment and the probe-cell set per query are pure Catalyst
    * expressions against the ≤numCells centroid literals (no UDF, no
    * ML transform in the hot path); the candidate join is an
    * equi-join on cell id — for a well-balanced quantizer each query
    * touches nProbe/numCells of the corpus. The search stage is
    * [[ivfSearch]], oracle-checked end-to-end with fixed seeded
    * centroids (e08); the data-dependent k-means fit stays spec-land
    * (recall bar vs brute force). Complementary to [[lshKnn]]:
    * IVF adapts to data structure (clustered corpora → tight cells),
    * LSH gives distribution-free guarantees.
    */
  def ivfKnn(corpus: DataFrame, queries: DataFrame, k: Int,
             numCells: Int = 16, nProbe: Int = 4, seed: Long = 42L,
             idCol: String = "vec_id",
             vecCol: String = "embedding"): DataFrame = {
    import org.apache.spark.ml.functions.array_to_vector
    val km = new org.apache.spark.ml.clustering.KMeans()
      .setK(numCells).setSeed(seed)
      .setFeaturesCol("fv").setPredictionCol("cell")
    val model = km.fit(corpus
      .select(array_to_vector(col(vecCol)).as("fv")))
    ivfSearch(corpus, queries, model.clusterCenters.map(_.toArray),
      k, nProbe, idCol, vecCol)
  }

  /** Sequential-order squared L2 distance to a literal centroid —
    * reassociation-free, so engine-portable like [[dot]].
    */
  private[graft] def sqDistLit(vec: Column, ctr: Array[Double]): Column =
    kernel2(vec, typedLit(ctr.toSeq), graft.expressions.SqDistF64(_, _))

  /** The `nProbe` nearest centroid ids for a vector, as a pure
    * Catalyst expression against ≤numCells centroid literals —
    * array_sort on (dist, cellId) structs, ties by cell id.
    */
  def nearestCells(vec: Column, centroids: Array[Array[Double]],
                   nProbe: Int): Column = {
    graft.core.PlanLiterals.requireDoubles(
      centroids.map(_.length.toLong).sum, "nearestCells centroids")
    val dists = centroids.zipWithIndex.map { case (ctr, i) =>
      struct(sqDistLit(vec, ctr).as("dist"), lit(i).as("cell"))
    }
    slice(transform(array_sort(array(dists: _*)),
      s => s.getField("cell")), 1, nProbe)
  }

  /** The IVF search stage against FIXED centroids (the k-means fit in
    * [[ivfKnn]] supplies them; any quantizer — product, scalar,
    * externally trained — can too). Everything is pure Catalyst: cell
    * assignment and probe-cell selection are literal-folded
    * expressions inside the scan stage (no ML transform in the hot
    * path, no UDF), and the candidate join is an equi-join on cell id.
    */
  def ivfSearch(corpus: DataFrame, queries: DataFrame,
                centroids: Array[Array[Double]], k: Int,
                nProbe: Int = 4, idCol: String = "vec_id",
                vecCol: String = "embedding"): DataFrame = {
    val c = corpus.select(col(idCol).as("n_id"), col(vecCol).as("n_vec"),
      norm(col(vecCol)).as("n_nrm"))
    val q = queries.select(col(idCol).as("q_id"), col(vecCol).as("q_vec"),
      norm(col(vecCol)).as("q_nrm"))

    val cCells = c.withColumn("cell",
      element_at(nearestCells(col("n_vec"), centroids, 1), 1))

    val qCells = broadcast(q.select(col("q_id"), col("q_vec"),
        col("q_nrm"),
        explode(nearestCells(col("q_vec"), centroids, nProbe))
          .as("cell")))

    val scored = cCells.join(qCells, Seq("cell"))
      .filter(col("n_id") =!= col("q_id"))
      .select(col("q_id"), col("n_id"),
        cosineFromNorms(col("q_vec"), col("n_vec"),
          col("q_nrm"), col("n_nrm")).as("cos"))
    topKPerQuery(scored, "cos", scoreAsc = false, k)
  }

  /** Persist an IVF index for [[ivfSearchIndexed]]: every corpus row
    * stored with its coarse-cell assignment and precomputed float64
    * norm, laid out `partitionBy("cell")` so a probe-time read
    * touches only the probed cells' directories (directory-level
    * partition pruning, not a post-scan filter). This is the
    * build-once / query-many shape a production vector store needs:
    * the assignment scan runs once, and every search afterwards
    * reads ~nProbe/numCells of the data and never re-derives norms.
    * Overwriting a path drops its cached read (`core.IndexCache`).
    */
  def ivfWriteIndex(corpus: DataFrame, centroids: Array[Array[Double]],
                    path: String, idCol: String = "vec_id",
                    vecCol: String = "embedding"): Unit = {
    corpus.select(col(idCol).as("n_id"), col(vecCol).as("n_vec"),
        norm(col(vecCol)).as("n_nrm"))
      .withColumn("cell",
        element_at(nearestCells(col("n_vec"), centroids, 1), 1))
      .write.mode("overwrite").partitionBy("cell").parquet(path)
    graft.core.IndexCache.invalidate(corpus.sparkSession, path)
  }

  /** IVF search against a persisted [[ivfWriteIndex]] index —
    * result-identical to [[ivfSearch]] over the same corpus and
    * centroids: same assignment expression, same scoring order over
    * stored norms (parquet round-trips float64 exactly), same
    * bounded-heap top-k. Pinned by spec and by e16 sharing e08's
    * DuckDB oracle.
    *
    * The index relation is read once per session and path
    * (`core.IndexCache`), so a warm call lists nothing and reads no
    * schema. The query side is the small side by contract: ONE collect
    * brings back each query's id, float64 vector, norm and probed
    * cells, all computed executor-side by [[norm]] and
    * [[nearestCells]] — no arithmetic is copied to the driver. The
    * collect is bounded: at most `PlanLiterals.MaxDoubles / (dim +
    * nProbe + 2)` rows (15,420 at dim 64, nProbe 2) come back, and a
    * larger query side fails before any literal is built. The union of
    * the probed cells becomes an IN predicate on the partition column,
    * so only those directories are read. The queries ride the plan as
    * literals (the [[lshKnn]] shape): an array of the queries and a
    * map from each probed cell to the positions of the queries that
    * probe it, so an index row looks up its cell and scores only those
    * queries, as a join on `cell` would. A warm request is three jobs:
    * the query collect, and the top-k's map stage and result.
    */
  def ivfSearchIndexed(spark: SparkSession, path: String,
                       queries: DataFrame,
                       centroids: Array[Array[Double]], k: Int,
                       nProbe: Int = 4, idCol: String = "vec_id",
                       vecCol: String = "embedding"): DataFrame = {
    val perQuery = centroids.headOption.fold(0)(_.length).toLong +
      nProbe + 2
    val maxRows = graft.core.PlanLiterals.MaxDoubles / perQuery
    val qRows = queries.select(col(idCol).as("q_id"),
        col(vecCol).cast("array<double>").as("q_vec"),
        norm(col(vecCol)).as("q_nrm"),
        nearestCells(col(vecCol), centroids, nProbe).as("q_cells"))
      .limit((maxRows + 1).toInt).collect()
    graft.core.PlanLiterals.requireDoubles(qRows.length * perQuery,
      "ivfSearchIndexed query literals")
    val rel = graft.core.IndexCache.read(spark, path)
    if (qRows.isEmpty)
      return topKPerQuery(rel.limit(0).select(
        lit(null).cast(queries.schema(idCol).dataType).as("q_id"),
        col("n_id"), lit(0.0).as("cos")), "cos", scoreAsc = false, k)
    val qs = array(qRows.toSeq.map { r =>
      struct(lit(r.get(0)).as("q_id"),
        typedLit(r.getSeq[Double](1)).as("q_vec"),
        lit(r.getDouble(2)).as("q_nrm"))
    }: _*)
    // cell -> 1-based positions in `qs` of the queries probing it
    val byCell = qRows.indices
      .flatMap(i => qRows(i).getSeq[Int](3).map(_ -> (i + 1)))
      .groupMap(_._1)(_._2)
    val cellQs = typedLit(byCell.map { case (c, qi) => c -> qi.toSeq })
    val scored = rel.filter(col("cell").isin(byCell.keys.toSeq.sorted: _*))
      .select(col("n_id"), col("n_vec"), col("n_nrm"),
        explode(cellQs(col("cell"))).as("qi"))
      .select(col("n_id"), col("n_vec"), col("n_nrm"),
        element_at(qs, col("qi")).as("q"))
      .filter(col("q.q_id") =!= col("n_id"))
      .select(col("q.q_id").as("q_id"), col("n_id"),
        cosineFromNorms(col("q.q_vec"), col("n_vec"),
          col("q.q_nrm"), col("n_nrm")).as("cos"))
    topKPerQuery(scored, "cos", scoreAsc = false, k)
  }

  /** Per-label centroid of an embedding column, exploded to (label,
    * dim, centroid) rows. The shape that scales: `posexplode` fans
    * each vector into dim rows, but partial (map-side) aggregation
    * collapses every partition to ≤ |labels|×dim running sums before
    * the shuffle, so shuffle volume is O(partitions × labels × dims)
    * regardless of corpus size. Float sums reassociate across
    * partitions, so the mean is rounded at aggregate level (the
    * established oracle discipline) — round-6 leaves ~8 orders of
    * magnitude between FP jitter and the comparison grid.
    */
  def labelCentroids(emb: DataFrame, labelCol: String = "label",
      vecCol: String = "embedding"): DataFrame =
    emb.select(col(labelCol).as("label"),
        posexplode(col(vecCol)).as(Seq("dim", "v")))
      .groupBy(col("label"), col("dim"))
      .agg(round(avg(col("v").cast("double")), 6).as("centroid"))

  /** Fixed-point grid for [[lloydStep]]'s order-independent sums:
    * 2^24 steps per unit. |x|·2^24 stays far below 2^53, so the
    * double multiply and floor are exact; per-element quantization
    * bias < 2^-24 — orders of magnitude below k-means' own movement
    * tolerance.
    */
  private val LloydQ = 16777216.0

  /** One Lloyd (k-means) iteration against the current centroids:
    * assign every vector to its nearest centroid (squared-L2, lowest
    * cell on ties) and return each cell's member count and new mean,
    * exploded to (cell, dim, n, centroid) rows.
    *
    * The mean is computed in FIXED POINT: every coordinate is floor-
    * quantized to the 1/2^24 grid as a LONG before summation, so the
    * per-(cell, dim) accumulation is integer arithmetic — order-
    * independent, hence bit-reproducible under any partitioning, AQE
    * re-plan, or speculative re-execution. A float64 mean would make
    * the fit depend on partition order (reassociation), which at
    * 1000 executors means no two runs converge identically; this is
    * the determinism contract a 100 TB training-data pipeline needs
    * for auditability. It also makes the step exactly mirrorable in
    * an integer-sum SQL oracle — no rounding escape hatch.
    *
    * Scale shape: assignment is literal-folded in-row ([[nearestCells]]
    * against ≤K centroid literals, codegen); the only exchange is one
    * map-side-combining hash aggregation whose partial state is
    * ≤ K·D running (sum, count) pairs per task — shuffle volume
    * O(partitions·K·D), independent of corpus size. No window, no
    * driver collect inside the step; iterating caller collects K·D
    * rows per round (bounded by the [[graft.core.PlanLiterals]]
    * contract on the next round's literals).
    */
  def lloydStep(emb: DataFrame, vecCol: Column,
                centroids: Array[Array[Double]]): DataFrame =
    emb.select(
        element_at(nearestCells(vecCol, centroids, 1), 1).as("cell"),
        vecCol.as("__v"))
      .select(col("cell"), posexplode(col("__v")).as(Seq("dim", "x")))
      .select(col("cell"), col("dim"),
        floor(col("x").cast("double") * lit(LloydQ)).cast("long").as("q"))
      .groupBy(col("cell"), col("dim"))
      .agg(sum(col("q")).as("s"), count(lit(1)).as("n"))
      .select(col("cell"), col("dim"), col("n"),
        (col("s").cast("double") / col("n").cast("double") / lit(LloydQ))
          .as("centroid"))

  /** The centroids a [[lloydStep]] result denotes, collected to the
    * driver as the next iteration's literals: non-empty cells only,
    * renumbered densely 0..k'−1 in cell order (empty cells die, the
    * standard Lloyd convention). Bounded: ≤ K·D rows.
    */
  def collectCentroids(step: DataFrame): Array[Array[Double]] =
    step.select(col("cell"), col("dim"), col("centroid")).collect()
      .groupBy(_.getInt(0)).toSeq.sortBy(_._1)
      .map { case (_, rows) =>
        rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toArray
      }.toArray

  /** `iters` Lloyd iterations from `init`, returning the LAST step's
    * (cell, dim, n, centroid) rows. Because every step is fixed-point
    * ([[lloydStep]]), the whole trajectory is deterministic: the
    * driver round-trip between iterations (collect K·D means → next
    * step's plan literals) is exact, so an external engine replaying
    * the same integer arithmetic lands on bit-identical centroids at
    * EVERY iteration — which is what lets an iterated, data-dependent
    * ML fit be hash-verified end-to-end instead of spec-banded. Cost
    * per iteration: one corpus scan + one O(parts·K·D) aggregation;
    * the scan could additionally be cached by callers iterating to
    * convergence.
    */
  def lloydFit(emb: DataFrame, vecCol: Column,
               init: Array[Array[Double]], iters: Int): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    var ctrs = init
    var last = lloydStep(emb, vecCol, ctrs)
    for (_ <- 2 to iters) {
      ctrs = collectCentroids(last)
      last = lloydStep(emb, vecCol, ctrs)
    }
    last
  }

  /** Symmetric per-vector int8 quantization — the embedding
    * compression step of a corpus-scale vector store (4 bytes/dim →
    * 1 byte/dim + one float scale; reconstruction x̂ = q/scale, error
    * ≤ maxAbs/254 per dim). Returns a struct `(scale, q)`; zero
    * vectors quantize to scale 0 and all-zero codes.
    *
    * Entirely in-row (transform + array_max inside the scan's codegen
    * stage — nothing shuffles, scales with the scan). `floor(x·s+0.5)`
    * rather than `round`: floor is IEEE-exact and engine-portable,
    * while round's half-case mode differs across engines (the
    * [[graft.queries.DedupQueries]] oracle discipline).
    */
  def quantizeInt8(vec: Column): Column = {
    val maxAbs = array_max(transform(vec, x => abs(x))).cast("double")
    val scale = lit(127.0) / maxAbs
    val q = transform(vec,
      x => floor(x.cast("double") * scale + lit(0.5)).cast("int"))
    when(maxAbs > 0, struct(scale.as("scale"), q.as("q")))
      .otherwise(struct(lit(0.0).as("scale"),
        transform(vec, _ => lit(0)).as("q")))
  }

  /** Per-dimension sign bit sketch of a ≤64-dim vector as ONE long:
    * bit i set iff dim i ≥ 0 — 1 bit/dim, the most aggressive
    * embedding compression a vector store ships (32× smaller than
    * float32). Two's-complement bit 63 makes the value negative for
    * vectors whose last dim is ≥ 0; only the bit PATTERN carries
    * meaning ([[hammingTopK]] compares via xor+bit_count, never by
    * magnitude). In-row, codegen'd — the e07 shape.
    */
  def signSketch(vec: Column, dim: Int = 64): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge._
    column(graft.expressions.SignSketch(expression(vec), dim))
  }

  /** Approximate top-k by Hamming distance between sign sketches
    * (Charikar 2002 — sign-random-projection similarity; here the
    * identity projection's signs): rank = bit_count(xor(sketches)),
    * ties by neighbor id. The candidate scan costs one long xor +
    * popcount per pair — no float math touches the corpus — and the
    * broadcast-queries / corpus-never-shuffles shape matches
    * [[bruteForceKnn]] with 1/32 the scan bytes; re-rank survivors
    * with [[cosineFromNorms]] when exactness matters.
    */
  def hammingTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                  dim: Int = 64,
                  idCol: String = "vec_id",
                  vecCol: String = "embedding"): DataFrame = {
    val c = corpus.select(col(idCol).as("n_id"),
      signSketch(col(vecCol), dim).as("n_sk"))
    val q = broadcast(queries.select(col(idCol).as("q_id"),
      signSketch(col(vecCol), dim).as("q_sk")))
    val scored = c.join(q, col("n_id") =!= col("q_id"))
      .select(col("q_id"), col("n_id"),
        call_function("bit_count",
          col("n_sk").bitwiseXOR(col("q_sk"))).as("hamming"))
    topKPerQuery(scored, "hamming", scoreAsc = true, k)
  }

  /** Seeded Rademacher (±1) sign matrix for [[randomProject]] —
    * driver-generated like [[randomPlanes]], shipped as plan
    * literals to both engines.
    */
  def rademacherSigns(outDim: Int, inDim: Int,
                      seed: Long = 7L): Array[Array[Double]] = {
    graft.core.PlanLiterals.requireDoubles(
      outDim.toLong * inDim, "rademacherSigns")
    val rng = new scala.util.Random(seed)
    Array.fill(outDim)(
      Array.fill(inDim)(if (rng.nextBoolean()) 1.0 else -1.0))
  }

  /** Johnson–Lindenstrauss random projection to `signs.length` dims:
    * proj_i = ⟨x, s_i⟩ / √k with Rademacher sign rows (Achlioptas
    * 2003, "Database-friendly random projections") — the embedding
    * compression that preserves pairwise distances within 1±ε while
    * cutting every downstream distance computation by inDim/outDim.
    *
    * Entirely in-row: k sequential-order [[dot]] kernels against
    * literal sign vectors inside the scan's codegen stage — nothing
    * shuffles, scales with the scan (the e07 shape). With k a power
    * of 4 the √k divisor is exact binary, so results are
    * bit-deterministic and engine-portable like [[dot]] itself.
    */
  def randomProject(vec: Column, signs: Array[Array[Double]]): Column = {
    val scale = math.sqrt(signs.length.toDouble)
    array(signs.map(s0 =>
      (dot(vec, typedLit(s0.toSeq)) / lit(scale)): Column): _*)
  }

  /** SemDeDup-style semantic near-dup pairs (Abbas et al. 2023,
    * "SemDeDup: Data-efficient learning at web-scale through semantic
    * deduplication"): partition the corpus into coarse quantizer
    * cells, then emit cosine pairs ≥ threshold ONLY within a cell.
    * Semantic dups sit close in embedding space, so cell-local
    * comparison preserves nearly all true pairs while making the
    * quadratic term per-cell: with k ∝ √n cells the candidate volume
    * is O(n²/k) per cell × k — a ~k× cut over all-pairs, and each
    * cell's join is an independent equi-join bucket (no global
    * shuffle beyond the cell-key hash). Cross-cell near-dups straddle
    * a Voronoi boundary and are the method's documented recall loss —
    * quantified against the exact all-pairs baseline in
    * DedupSimilaritySpec.
    *
    * Centroids are FIXED literals here (trained upstream or seeded) —
    * same plan discipline as [[ivfSearch]]: cell assignment is a
    * literal-folded expression inside the scan, no ML transform or
    * UDF in the hot path.
    */
  /** Cluster-balanced corpus selection — the curation step after
    * semantic clustering (the DataComp/SemDeDup lineage: sample per
    * cluster, not per corpus, so rare clusters survive the budget and
    * dominant clusters can't crowd it out): every vector is assigned
    * to its nearest centroid, and each cell keeps its `quota` lowest
    * rows under a salted 52-bit md5 priority (uniform,
    * seedless-reproducible and exactly representable in a double —
    * the sp11 discipline, ties to the smaller id). Selection is the
    * bounded [[graft.expressions.TopKAgg]] heap per cell, never a
    * per-cell window sort: cell assignment is a literal-folded
    * expression inside the scan, only cells × quota rows cross the
    * exchange, and the corpus itself never sorts or shuffles.
    */
  def clusterBalancedSample(corpus: DataFrame,
      centroids: Array[Array[Double]], quota: Int, salt: String = "e22",
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val scored = corpus.select(
      element_at(nearestCells(col(vecCol), centroids, 1), 1).as("q_id"),
      col(idCol).as("n_id"),
      conv(substring(md5(concat(col(idCol).cast("string"),
        lit("|" + salt))), 1, 13), 16, 10)
        .cast("long").cast("double").as("priority"))
    topKPerQuery(scored, "priority", scoreAsc = true, quota)
      .select(col("q_id").as("cell"), col("n_id").as(idCol),
        col("priority").cast("long").as("priority"),
        col("rn").as("pick_rank"))
  }

  def semDedupPairs(corpus: DataFrame, centroids: Array[Array[Double]],
                    threshold: Double, idCol: String = "vec_id",
                    vecCol: String = "embedding"): DataFrame = {
    val c = corpus.select(col(idCol).as("id"), col(vecCol).as("vec"),
      norm(col(vecCol)).as("nrm"))
    val cells = c.withColumn("cell",
      element_at(nearestCells(col("vec"), centroids, 1), 1))
    cells.as("x").join(cells.as("y"),
        col("x.cell") === col("y.cell") && col("x.id") < col("y.id"))
      .select(col("x.id").as("a"), col("y.id").as("b"),
        cosineFromNorms(col("x.vec"), col("y.vec"),
          col("x.nrm"), col("y.nrm")).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** Product-quantization codebooks: `M` subspaces × `K` centroids ×
    * `dsub` dims each (Jégou et al. 2011, "Product quantization for
    * nearest neighbor search"). Codes compress a d-dim float vector
    * to M bytes (K ≤ 256), the memory step that lets a 100 TB vector
    * corpus keep its index hot: 64 float32 dims → 4 code bytes here.
    */
  type Codebooks = Array[Array[Array[Double]]]

  /** Deterministic seeded codebooks — the fixed-literal profile the
    * e10/e11 oracles pin (the d03-vs-d05 discipline: the oracle
    * anchors the math; the k-means fit, `SimilarityComposed.pqTrain`,
    * stays in the specs).
    */
  def seededCodebooks(numSub: Int, k: Int, dsub: Int,
                      seed: Long = 7L): Codebooks =
    Array.tabulate(numSub)(m => randomPlanes(k, dsub, seed + 31L * m))

  /** PQ encode: nearest codebook centroid per subvector (ties → lower
    * code, the [[nearestCells]] ordering). Pure in-row Catalyst
    * against literal codebooks — the encode rides the scan, nothing
    * shuffles.
    */
  def pqEncode(vec: Column, codebooks: Codebooks): Column = {
    graft.core.PlanLiterals.requireDoubles(
      codebooks.map(cb => cb.length.toLong * cb(0).length).sum,
      "pqEncode codebooks")
    array(codebooks.zipWithIndex.map { case (cb, m) =>
      val dsub = cb(0).length
      element_at(nearestCells(slice(vec, m * dsub + 1, dsub), cb, 1), 1)
    }: _*)
  }

  /** Asymmetric-distance (ADC) top-k over PQ codes: each query builds
    * its M×K lookup table of exact subvector-to-centroid distances
    * ONCE (on the small broadcast side), and scoring a corpus vector
    * is M table lookups on its code — no float vector is read on the
    * corpus side at all. The approximate distances rank candidates;
    * a production pipeline re-ranks the top slice with exact cosine
    * ([[bruteForceKnn]] shape) if needed.
    *
    * The M per-subspace terms are added left-to-right (foldLeft), so
    * the oracle can reproduce the IEEE sum exactly with a fixed-order
    * chain instead of an unordered SUM().
    */
  def pqAdcTopK(corpus: DataFrame, queries: DataFrame,
                codebooks: Codebooks, k: Int,
                idCol: String = "vec_id",
                vecCol: String = "embedding"): DataFrame = {
    val numSub = codebooks.length
    val codes = corpus.select(col(idCol).as("n_id"),
      pqEncode(col(vecCol), codebooks).as("codes"))
    val lut = array(codebooks.zipWithIndex.map { case (cb, m) =>
      val dsub = cb(0).length
      array(cb.map(ctr =>
        sqDistLit(slice(col(vecCol), m * dsub + 1, dsub), ctr)): _*)
    }: _*)
    val q = broadcast(queries.select(col(idCol).as("q_id"),
      lut.as("lut")))
    val adist = (0 until numSub)
      .map(m => element_at(element_at(col("lut"), m + 1),
        element_at(col("codes"), m + 1) + 1))
      .reduce(_ + _)
    val scored = codes.join(q, col("n_id") =!= col("q_id"))
      .select(col("q_id"), col("n_id"), adist.as("adist"))
    topKPerQuery(scored, "adist", scoreAsc = true, k)
  }

  /** IVF-PQ (IVFADC, Jégou et al. 2011, "Product Quantization for
    * Nearest Neighbor Search"): the coarse quantizer restricts each
    * query to its `nProbe` Voronoi cells AND the candidates inside a
    * cell are ranked by PQ asymmetric distance — the two independent
    * compressions compose, which is the architecture every serious
    * vector store ships. Per query the scan cost is
    * (nProbe/numCells)·|corpus| candidates × numSub table lookups;
    * the corpus side carries only (cell, codes) — numSub bytes of
    * payload per vector, never floats.
    *
    * This is the residual-free IVFADC variant (codes quantize raw
    * vectors, so ONE query LUT serves every probed cell); the
    * residual-encoding refinement would need a per-cell LUT
    * (nProbe × numSub × k sqdists per query) and is the documented
    * next step, not a plan change. Everything here is literal-folded
    * Catalyst against fixed centroids + codebooks — the e08/e11
    * discipline — so the whole search stage is oracle-checkable.
    */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame,
                centroids: Array[Array[Double]], codebooks: Codebooks,
                k: Int, nProbe: Int = 4,
                idCol: String = "vec_id",
                vecCol: String = "embedding"): DataFrame = {
    val numSub = codebooks.length
    val codes = corpus.select(col(idCol).as("n_id"),
      element_at(nearestCells(col(vecCol), centroids, 1), 1).as("cell"),
      pqEncode(col(vecCol), codebooks).as("codes"))
    val lut = array(codebooks.zipWithIndex.map { case (cb, m) =>
      val dsub = cb(0).length
      array(cb.map(ctr =>
        sqDistLit(slice(col(vecCol), m * dsub + 1, dsub), ctr)): _*)
    }: _*)
    val q = broadcast(queries.select(col(idCol).as("q_id"),
      lut.as("lut"),
      explode(nearestCells(col(vecCol), centroids, nProbe)).as("cell")))
    val adist = (0 until numSub)
      .map(m => element_at(element_at(col("lut"), m + 1),
        element_at(col("codes"), m + 1) + 1))
      .reduce(_ + _)
    val scored = codes.join(q, Seq("cell"))
      .filter(col("n_id") =!= col("q_id"))
      .select(col("q_id"), col("n_id"), adist.as("adist"))
    topKPerQuery(scored, "adist", scoreAsc = true, k)
  }

  /** Residual-encoding IVFADC — the paper-faithful refinement of
    * [[ivfPqTopK]]: PQ codes quantize `vec − centroid(cell)` instead
    * of the raw vector, so the codebooks only need to span the
    * (much tighter) within-cell residual distribution — the precision
    * win that makes coarse+fine quantization compose. The price is on
    * the query side: the LUT is per (query, PROBED CELL) — nProbe ×
    * numSub × k exact subvector distances instead of one LUT per
    * query — still broadcast-side work that never touches the corpus.
    * Corpus payload per vector stays (cell, numSub code bytes).
    *
    * Residuals are bound to their own projected columns before the
    * 64-way encode/LUT reads (the token-binding rule), and every
    * arithmetic step (subtract, slice, sequential sqdist) is
    * IEEE-exact and fixed-order, so the full search stage remains
    * DuckDB-oracle-checkable like e14.
    */
  def ivfPqResidualTopK(corpus: DataFrame, queries: DataFrame,
                        centroids: Array[Array[Double]],
                        codebooks: Codebooks, k: Int, nProbe: Int = 4,
                        idCol: String = "vec_id",
                        vecCol: String = "embedding"): DataFrame = {
    val numSub = codebooks.length
    val ctrLit = typedLit(centroids.map(_.toSeq).toSeq)
    def residual(vec: Column, cell: Column): Column =
      zip_with(vec, element_at(ctrLit, cell + 1),
        (x, c) => x.cast("double") - c)
    val codes = corpus
      .select(col(idCol).as("n_id"), col(vecCol).as("__v"))
      .select(col("n_id"), col("__v"),
        element_at(nearestCells(col("__v"), centroids, 1), 1).as("cell"))
      .select(col("n_id"), col("cell"),
        residual(col("__v"), col("cell")).as("__rv"))
      .select(col("n_id"), col("cell"),
        pqEncode(col("__rv"), codebooks).as("codes"))
    val qr = queries
      .select(col(idCol).as("q_id"), col(vecCol).as("__qv"))
      .select(col("q_id"), col("__qv"),
        explode(nearestCells(col("__qv"), centroids, nProbe)).as("cell"))
      .select(col("q_id"), col("cell"),
        residual(col("__qv"), col("cell")).as("__rq"))
    val lut = array(codebooks.zipWithIndex.map { case (cb, m) =>
      val dsub = cb(0).length
      array(cb.map(ctr =>
        sqDistLit(slice(col("__rq"), m * dsub + 1, dsub), ctr)): _*)
    }: _*)
    val q = broadcast(qr.select(col("q_id"), col("cell"),
      lut.as("lut")))
    val adist = (0 until numSub)
      .map(m => element_at(element_at(col("lut"), m + 1),
        element_at(col("codes"), m + 1) + 1))
      .reduce(_ + _)
    val scored = codes.join(q, Seq("cell"))
      .filter(col("n_id") =!= col("q_id"))
      .select(col("q_id"), col("n_id"), adist.as("adist"))
    topKPerQuery(scored, "adist", scoreAsc = true, k)
  }

  /** Embedding-cosine near-duplicate pairs above a threshold —
    * exact all-pairs variant (a < b). Quadratic: the verification
    * baseline and the small-slice oracle query; the scale path is
    * [[cosineDupPairs]].
    */
  def cosineDupPairsExact(corpus: DataFrame, threshold: Double,
                          idCol: String = "vec_id",
                          vecCol: String = "embedding"): DataFrame = {
    val c = corpus.select(col(idCol).as("id"), col(vecCol).as("vec"),
      norm(col(vecCol)).as("nrm"))
    c.as("x").join(c.as("y"), col("x.id") < col("y.id"))
      .select(col("x.id").as("a"), col("y.id").as("b"),
        cosineFromNorms(col("x.vec"), col("y.vec"),
          col("x.nrm"), col("y.nrm")).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** Embedding-cosine near-duplicate pairs above a threshold,
    * multi-table LSH-bucketed (OR-construction, same recall math as
    * [[lshKnn]]) so each self-join is bucket-local — the 100 TB path.
    * High thresholds mean small angles, so fewer tables suffice than
    * for top-k search.
    */
  def cosineDupPairs(corpus: DataFrame, threshold: Double,
                     numPlanes: Int = 4, numTables: Int = 12,
                     dim: Int = 64, seed: Long = 42L,
                     idCol: String = "vec_id",
                     vecCol: String = "embedding"): DataFrame = {
    val planeSets = (0 until numTables)
      .map(t => randomPlanes(numPlanes, dim, seed + 1000L * t))
    val c = corpus.select(col(idCol).as("id"), col(vecCol).as("vec"),
      norm(col(vecCol)).as("nrm"))
    val bucketed = c.select(col("id"),
      explode(array(planeSets.zipWithIndex.map { case (ps, t) =>
        struct(lit(t).as("t"), lshBucket(col("vec"), ps).as("bkt"))
      }: _*)).as("tb"))
    val cands = bucketed.as("x").join(bucketed.as("y"),
        col("x.tb") === col("y.tb") && col("x.id") < col("y.id"))
      .select(col("x.id").as("a"), col("y.id").as("b")).distinct()
    cands
      .join(c.select(col("id").as("a"), col("vec").as("va"),
        col("nrm").as("na")), Seq("a"))
      .join(c.select(col("id").as("b"), col("vec").as("vb"),
        col("nrm").as("nb")), Seq("b"))
      .select(col("a"), col("b"),
        cosineFromNorms(col("va"), col("vb"), col("na"), col("nb"))
          .as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** Embedding-space eval-set decontamination: drop every corpus
    * vector whose cosine against ANY eval vector reaches `threshold`
    * — the similarity-space complement of the n-gram decontamination
    * in `Dedup.decontaminate` (d07/d08): a paraphrased benchmark row
    * that shares no 8-shingle with its source still sits next to it
    * in embedding space.
    *
    * Scale shape mirrors d07: eval sets are benchmark-sized, so the
    * eval side broadcasts (once for the contamination probe, once as
    * the condemned-id set for the anti join) and the 100 TB corpus
    * is scanned straight through — never shuffled, never collected.
    * Each corpus row scores against the broadcast eval block in-task;
    * `distinct()` on the condemned ids is a shuffle of the (tiny)
    * contaminated subset only.
    */
  def embedDecontaminate(corpus: DataFrame, eval: DataFrame,
                         threshold: Double, idCol: String = "vec_id",
                         vecCol: String = "embedding"): DataFrame = {
    val c = corpus.select(col(idCol).as("id"), col(vecCol).as("vec"),
      norm(col(vecCol)).as("nrm"))
    val e = eval.select(col(vecCol).as("evec"),
      norm(col(vecCol)).as("enrm"))
    val condemned = c.join(broadcast(e),
        cosineFromNorms(col("vec"), col("evec"), col("nrm"), col("enrm"))
          >= threshold)
      .select(col("id")).distinct()
    corpus.join(broadcast(condemned),
      corpus(idCol) === condemned("id"), "left_anti")
  }
}
