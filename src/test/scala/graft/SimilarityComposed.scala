package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Similarity}
import graft.operators.Similarity._

/** Executable specs of [[graft.operators.Similarity]]: the composed
  * forms of the vector kernels, the bucket-join LSH search, and the
  * k-means fits (PQ codebooks, SemDeDup cells) whose searches the gate
  * pins with fixed centroids.
  */
object SimilarityComposed {

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** The `aggregate(zip_with(...))` reference form of [[dot]]. */
  def dotComposed(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  /** The composed reference form of [[norm]]. */
  def normComposed(a: Column): Column =
    sqrt(aggregate(transform(a, x => x.cast("double") * x.cast("double")),
      lit(0.0), (acc, v) => acc + v))

  /** The composed reference form of [[signSketch]] (parity pinned in
    * Round6OpsSpec): 64 `when(element_at(...) >= 0)` terms OR-ed
    * together, guarded against short vectors. NOT for hot paths — the
    * interpreted chain costs ~10 µs per evaluation and Catalyst may
    * re-site it inside a join's pair loop (the round-7 e13 profile:
    * 24 s of a 25 s sf1 run).
    */
  def signSketchComposed(vec: Column, dim: Int = 64): Column = {
    require(dim >= 1 && dim <= 64, s"signSketch needs 1..64 dims, got $dim")
    val bits = (0 until dim).map(i =>
      when(element_at(vec, i + 1) >= 0, lit(1L << i)).otherwise(lit(0L)))
      .reduce((a, b) => a.bitwiseOR(b))
    // A vector shorter than `dim` would read nulls past the end and
    // silently sketch those bits as 0 (indistinguishable from a
    // negative dim) — fail loudly instead of ranking wrong.
    when(size(vec) >= dim, bits).otherwise(raise_error(format_string(
      s"graft signSketch: vector has %s dims, needs >= $dim",
      size(vec).cast("string"))))
  }

  /** The composed reference form of [[sqDistLit]] (parity spec). */
  def sqDistLitComposed(vec: Column,
      ctr: Array[Double]): Column =
    aggregate(zip_with(vec, typedLit(ctr.toSeq),
      (x, y) => (x.cast("double") - y) * (x.cast("double") - y)),
      lit(0.0), (acc, v) => acc + v)

  /** The bucket-join reference form of [[lshKnn]]: explode corpus and
    * query bucket ids, equi-join on the (table, bucket) key, dedup
    * candidate pairs, then join vectors back for scoring. Identical
    * candidate set and scores (parity in DedupSimilaritySpec); kept as
    * the executable spec and the path for a query side too large to
    * ship as plan literals — at sf10 the in-row form replaces this
    * form's shuffle of the full corpus vector table through the
    * candidate join (279 → ~20 s, the e-family "corpus never
    * shuffles" rule).
    */
  def lshKnnJoined(corpus: DataFrame, queries: DataFrame, k: Int,
                   numPlanes: Int = 4, numTables: Int = 16,
                   dim: Int = 64, seed: Long = 42L,
                   idCol: String = "vec_id",
                   vecCol: String = "embedding"): DataFrame = {
    val planeSets = (0 until numTables)
      .map(t => randomPlanes(numPlanes, dim, seed + 1000L * t))
    def buckets(vec: Column): Column = array(
      planeSets.zipWithIndex.map { case (ps, t) =>
        struct(lit(t).as("t"), lshBucket(vec, ps).as("bkt"))
      }: _*)

    val c = corpus.select(col(idCol).as("n_id"), col(vecCol).as("n_vec"),
      norm(col(vecCol)).as("n_nrm"))
    val q = queries.select(col(idCol).as("q_id"), col(vecCol).as("q_vec"),
      norm(col(vecCol)).as("q_nrm"))
    val cBuckets = c.select(col("n_id"),
      explode(buckets(col("n_vec"))).as("tb"))
    val qBuckets = broadcast(q.select(col("q_id"),
      explode(buckets(col("q_vec"))).as("tb")))

    val candidates = cBuckets.join(qBuckets, Seq("tb"))
      .filter(col("n_id") =!= col("q_id"))
      .select(col("q_id"), col("n_id")).distinct()

    val scored = candidates
      .join(c, Seq("n_id"))
      .join(broadcast(q), Seq("q_id"))
      .select(col("q_id"), col("n_id"),
        cosineFromNorms(col("q_vec"), col("n_vec"),
          col("q_nrm"), col("n_nrm")).as("cos"))
    topKPerQuery(scored, "cos", scoreAsc = false, k)
  }

  /** Squared L2 distance to the nearest of `centroids` — the
    * per-point SSE term of a k-means fit (all in-row, literal-folded
    * like [[nearestCells]]).
    */
  def sqDistToNearest(vec: Column, centroids: Array[Array[Double]]): Column =
    array_min(array(centroids.map(c => sqDistLit(vec, c)): _*))

  /** Per-subspace k-means codebooks (the real PQ training). */
  def pqTrain(corpus: DataFrame, numSub: Int, k: Int, dim: Int,
              seed: Long = 42L, vecCol: String = "embedding"): Codebooks = {
    import org.apache.spark.ml.functions.array_to_vector
    val dsub = dim / numSub
    Array.tabulate(numSub) { m =>
      val km = new org.apache.spark.ml.clustering.KMeans()
        .setK(k).setSeed(seed + m).setFeaturesCol("fv")
      km.fit(corpus.select(array_to_vector(
          slice(col(vecCol), m * dsub + 1, dsub)).as("fv")))
        .clusterCenters.map(_.toArray)
    }
  }

  /** PQ decode: concatenated centroids of each code — the lossy
    * reconstruction whose error [[pqTrain]] minimizes.
    */
  def pqDecode(codes: Column, codebooks: Codebooks): Column =
    concat(codebooks.zipWithIndex.map { case (cb, m) =>
      element_at(
        typedLit(cb.map(_.toSeq).toSeq), element_at(codes, m + 1) + 1)
    }: _*)

  /** Full SemDeDup: fit the coarse quantizer (k-means, like
    * [[ivfKnn]]), take cell-local pairs, close them into duplicate
    * clusters — each embedding labeled with its semantic-dup group's
    * min id, ready for [[graft.operators.Dedup.resolveClusters]]-style
    * keep-one resolution. The e09 oracle pins the search stage with
    * fixed centroids; the k-means fit stays spec-land (recall bar),
    * the d06 discipline.
    */
  def semDedup(corpus: DataFrame, numCells: Int, threshold: Double,
               seed: Long = 42L, idCol: String = "vec_id",
               vecCol: String = "embedding"): DataFrame = {
    import org.apache.spark.ml.functions.array_to_vector
    val km = new org.apache.spark.ml.clustering.KMeans()
      .setK(numCells).setSeed(seed)
      .setFeaturesCol("fv").setPredictionCol("cell")
    val model = km.fit(corpus
      .select(array_to_vector(col(vecCol)).as("fv")))
    val pairs = semDedupPairs(corpus,
      model.clusterCenters.map(_.toArray), threshold, idCol, vecCol)
    Dedup.dupClusters(pairs.select(col("a"), col("b")))
  }
}
