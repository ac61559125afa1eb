package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
  * "Data Selection for Language Models via Importance Resampling"):
  * select raw-corpus documents whose hashed-n-gram distribution looks
  * like a small high-quality target corpus, by importance weight
  * `log w(x) = Σ_features [ln p_target(b) − ln p_raw(b)]` under
  * bag-of-hashed-n-grams unigram models, then Gumbel-top-n resampling
  * (deterministic keys here, so any engine reproduces the sample).
  *
  * Spark-first shape for 100 TB:
  *  - features (hashed unigrams + bigrams → `m` buckets) are a pure
  *    in-row expression — no vocabulary pass, no dictionary (the
  *    [[graft.features.FeatureHashing]] hashing-trick discipline);
  *  - BOTH models fit in ONE corpus pass: a single map-side-combining
  *    aggregation keyed on bucket yields raw counts and target-slice
  *    counts together (shuffle volume ≤ m rows per task);
  *  - the fitted log-ratio table is `m` bounded driver values
  *    ([[graft.core.PlanLiterals]] contract) folded back into the
  *    scoring scan as ONE literal array — scoring is in-row, no join,
  *    no shuffle; selection is `orderBy(key).limit(n)`, which Spark
  *    executes as TakeOrderedAndProject (per-partition bounded top-n,
  *    never a global sort).
  *
  * Determinism: the per-bucket log ratio is floor-quantized to the
  * 1/2^24 grid (the fixed-point trick of
  * [[Similarity.lloydStep]]), so each document's weight is an INTEGER
  * sum — order-independent, bit-reproducible under any partitioning,
  * and exactly mirrorable in a SQL oracle where summation order is
  * not controllable. Quantization bias per feature < 2^-24, orders of
  * magnitude below any selection-relevant weight difference; the
  * exact weight is recovered as `q / 2^24` (division by a power of
  * two — exact).
  */
object Dsir {

  /** 2^24 fixed-point steps per unit of log-ratio. */
  val Q = 16777216.0

  /** Hashed unigram+bigram feature buckets of a token array — pure
    * in-row expression (md5 oracle-profile hash, the f05
    * discipline), computed by the native one-sweep kernel
    * [[graft.expressions.HashedGramBucketsExpr]]. The composed form,
    * `DsirComposed.featureBucketsComposed` in the specs, is its
    * executable spec (parity in ExpressionSpec).
    */
  def featureBuckets(tokens: Column, numBuckets: Int): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge._
    column(graft.expressions.HashedGramBucketsExpr(
      expression(tokens), numBuckets))
  }

  /** Fit both hashed-n-gram unigram models in ONE pass and return the
    * per-bucket QUANTIZED log importance ratio
    * `floor((ln p̂_target(b) − ln p̂_raw(b)) · 2^24)`, Laplace-smoothed
    * (`(c_b + 1)/(total + m)`). The collect is ≤ `m` bounded rows —
    * the t12 plan-literal-model discipline.
    */
  def fitQuantizedLogRatio(docs: DataFrame, feats: Column,
                           isTarget: Column, m: Int): Array[Long] = {
    graft.core.PlanLiterals.requireDoubles(m.toLong, "dsir log-ratio model")
    val rows = docs
      .select(explode(feats).as("b"), isTarget.cast("long").as("t"))
      .groupBy(col("b"))
      .agg(count(lit(1)).as("cr"), sum(col("t")).as("ct"))
      .collect()
    val cr = Array.fill(m)(0L)
    val ct = Array.fill(m)(0L)
    rows.foreach { r =>
      val b = r.getLong(0).toInt
      cr(b) = r.getLong(1)
      ct(b) = r.getLong(2)
    }
    val totR = cr.sum
    val totT = ct.sum
    Array.tabulate(m) { b =>
      val r = math.log((ct(b) + 1).toDouble / (totT + m)) -
        math.log((cr(b) + 1).toDouble / (totR + m))
      math.floor(r * Q).toLong
    }
  }

  /** Per-document quantized log importance weight: integer sum of the
    * literal ratio table over the document's feature buckets —
    * in-row, order-independent by construction.
    */
  def logImportanceQ(feats: Column, ratioQ: Array[Long]): Column = {
    val table = typedLit(ratioQ.toSeq)
    aggregate(feats, lit(0L),
      (acc, b) => acc + element_at(table, b.cast("int") + 1))
  }

  /** Deterministic Gumbel perturbation from a 52-bit content hash:
    * `g = −ln(−ln(u))`, `u = (h + 0.5) / 2^52 ∈ (0, 1)`. Gumbel-top-n
    * on `log w + g` draws n documents WITHOUT replacement with
    * probability proportional to their importance weights (the
    * Gumbel-max trick) — but from a pure per-row expression, so the
    * "random" sample is reproducible on any cluster, any partitioning,
    * any engine.
    */
  def gumbelKey(id: Column, salt: String): Column = {
    val h = conv(substring(md5(concat(id.cast("string"),
      lit("|" + salt))), 1, 13), 16, 10).cast("long")
    val u = (h.cast("double") + lit(0.5)) / lit(4503599627370496.0)
    -log(-log(u))
  }

  /** End-to-end DSIR selection: fit (one pass), score (second pass,
    * in-row), keep the top `n`. With `resample = true` (the paper's
    * sampler) the top-n is taken over Gumbel-perturbed keys and the
    * result includes `sel_key`; with `resample = false` (the paper's
    * deterministic top-k baseline) it is taken over `logw` directly.
    * `logw` is the exact dequantized weight (`q / 2^24`) either way.
    *
    * Oracle discipline (the d03/d05 split): the deterministic variant
    * is DuckDB-hash-verified end to end — the weight math is integer
    * sums plus exact power-of-two scaling. The Gumbel variant is
    * deterministic *within* Spark but its `−ln(−ln(u))` chain
    * amplifies the last-ULP spread between libm implementations
    * (measured 1–4 ULP on ~4% of keys), so it is spec-pinned, not
    * hash-compared.
    */
  def selectTopN(docs: DataFrame, idCol: String, tokens: Column,
                 isTarget: Column, m: Int, n: Int, salt: String,
                 resample: Boolean = true): DataFrame = {
    val feats = docs.select(col(idCol).as("id"),
      featureBuckets(tokens, m).as("__f"), isTarget.as("__t"))
    val ratioQ = fitQuantizedLogRatio(feats, col("__f"), col("__t"), m)
    val logw = (logImportanceQ(col("__f"), ratioQ).cast("double") /
      lit(Q)).as("logw")
    val scored = feats.select(col("id"), logw)
    if (resample)
      scored.select(col("id"), col("logw"),
          (col("logw") + gumbelKey(col("id"), salt)).as("sel_key"))
        .orderBy(col("sel_key").desc, col("id").asc)
        .limit(n)
    else
      scored.orderBy(col("logw").desc, col("id").asc).limit(n)
  }
}
