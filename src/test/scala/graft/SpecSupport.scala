package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import org.apache.spark.ml.classification.{LinearSVC, LogisticRegression}
import graft.ml.TweetPipeline
import graft.operators.Quantiles

/** Readers, plan walks and alternate operator faces that only specs
  * call: the engine's roots never reach them, so they live beside the
  * specs instead of in `src/main`.
  */
object SpecSupport {

  /** S4 — schema-inferred CSV scan (the reference's commented-out /
    * notebook-demo variant, `LogisticRegression.py:46`).
    */
  def inferred(spark: SparkSession, path: String): DataFrame =
    spark.read
      .option("header", "true")
      .option("multiLine", "true")
      .option("escape", "\"")
      .option("inferSchema", "true")
      .csv(path)

  /** S7 — golden-output re-scan: read a saved cost curve back as
    * doubles (`utils/plots.py:61-73`). Plain JVM IO — these files are
    * tiny driver artifacts by construction (one float per iteration).
    */
  def readCostCurve(dir: String): Seq[Double] = {
    val d = new java.io.File(dir)
    // listFiles() is null for a missing/non-directory path; an absent
    // curve must fail loudly, not read back as an empty Seq
    val parts = Option(d.listFiles())
      .getOrElse(sys.error(s"readCostCurve: no such directory: $dir"))
      .filter(_.getName.startsWith("part-")).sorted
    if (parts.isEmpty) sys.error(s"readCostCurve: no part- files in $dir")
    parts.flatMap { f =>
      scala.io.Source.fromFile(f).getLines().filter(_.nonEmpty)
        .map(_.toDouble).toSeq
    }.toSeq
  }

  /** The tables of the synthetic star schema (TESTDATA.md). */
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Register every table as a temp view so the whole corpus is
    * queryable through `spark.sql(...)` (the `events` view gets the
    * nanos→micros conversion).
    */
  def registerAll(s: SparkSession, d: String): Unit = names.foreach {
    case "events" => Tables.events(s, d).createOrReplaceTempView("events")
    case n        => Tables.load(s, d, n).createOrReplaceTempView(n)
  }

  /** Every physical operator in the FINAL (post-AQE) executed plan,
    * flattened — descending into adaptive plans, materialized query
    * stages, reused exchanges/subqueries and subquery expressions,
    * which plain `SparkPlan.collect` treats as leaves. This is the
    * tree the suite-level scale invariants (no CartesianProduct, no
    * partition-less Window) are asserted over: string matching can't
    * tell an empty partitionSpec from an empty orderSpec.
    */
  def finalOperators(df: DataFrame)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.{SparkPlan,
      ReusedSubqueryExec, BaseSubqueryExec}
    import org.apache.spark.sql.execution.adaptive.{
      AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    df.collect()
    def walk(p: SparkPlan): Seq[SparkPlan] = {
      val below = p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec        => walk(q.plan)
        case r: ReusedExchangeExec    => walk(r.child)
        case r: ReusedSubqueryExec    => walk(r.child)
        case s: BaseSubqueryExec      => walk(s.child)
        case _                        => p.children.flatMap(walk)
      }
      val subq = p.subqueries.flatMap(walk)
      p +: (below ++ subq)
    }
    walk(df.queryExecution.executedPlan)
  }

  /** Exact percentiles of `valCol` per `grpCol` at each q in `qs`.
    * Output: (grpCol, q, value) — `value` matches Spark's
    * `percentile(valCol, q)` (interpolated, weights 1). Nulls in
    * `valCol` are ignored (as the built-in does); NaN unsupported.
    *
    * Pin contract: the result plan references three TINY internally
    * checkpointed frames (≤ groups × buckets rows — see
    * [[Quantiles.exactPercentilesLeased]] for why they must be pinned); with
    * this signature their blocks live until a caller-side storage
    * sweep (Bench/TimeQuery sweep between queries; sessions free all
    * storage at stop). Long-lived sessions calling in a loop should
    * use [[Quantiles.exactPercentilesLeased]] and `release()` after consuming.
    */
  def exactPercentiles(df: DataFrame, grpCol: String, valCol: String,
                       qs: Seq[Double],
                       buckets: Int = 1 << 16): DataFrame =
    Quantiles.exactPercentilesLeased(df, grpCol, valCol, qs, buckets).df

  /** Hyper-parameter sweep (Part1.ipynb cells 32/37): fit/eval per
    * regParam on the same seeded split — the reference's manual model
    * -selection loop.
    */
  def sweepRegParam(algo: String, params: Seq[Double],
                    featurized: DataFrame,
                    seed: Long = 123L): Seq[TweetPipeline.EvalResult] =
    params.map { p =>
      val est = TweetPipeline.classifier(algo) match {
        case lr: LogisticRegression => lr.setRegParam(p)
        case svc: LinearSVC => svc.setRegParam(p)
        case other => throw new IllegalArgumentException(
          s"sweep supports lr/svc, got $other")
      }
      val Array(training, testing) =
        featurized.randomSplit(Array(0.8, 0.2), seed)
      val model = est.fit(training)
      val (acc, f1) = accuracyF1(model.transform(testing))
      TweetPipeline.EvalResult(s"$algo@$p", acc, f1, 0L, 0L, 0.0, 0.0)
    }

  /** Accuracy and weighted F1 of a predictions frame (label,
    * prediction) from one metrics pass — the exact values the
    * evaluator's "accuracy" and "f1" metrics return.
    */
  def accuracyF1(predictions: DataFrame): (Double, Double) = {
    val m = TweetPipeline.metrics(predictions)
    (m.accuracy, m.weightedFMeasure)
  }

  /** xxhash64 bucket — production profile (pmod: xxhash64 is signed). */
  def bucketFast(tok: Column, numBuckets: Int): Column =
    pmod(xxhash64(tok), lit(numBuckets.toLong))

  /** Near-duplicate image pairs from
    * [[graft.operators.Multimodal.aHash]] fingerprints: the 64 bits
    * split into 4 disjoint 16-bit bands; by pigeonhole every
    * pair within Hamming distance ≤ 3 agrees on at least one whole
    * band (the d04 SimHash argument), so candidates are an equi-join
    * on (band index, band value) — banded buckets, never all-pairs —
    * verified by exact popcount over the xor'd halves. At 100 TB the
    * only shuffle is the 4-rows-per-image band table keyed by 16-bit
    * values; image payloads are never touched (aHash already ran in
    * the scan pass).
    */
  def phashNearDup(hashes: DataFrame, maxHamming: Int): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"4 bands guarantee recall only for hamming <= 3, got $maxHamming")
    val mask = lit(0xffffL)
    val banded = hashes.select(col("asset_id"), col("h_hi"), col("h_lo"),
      posexplode(array(
        col("h_lo").bitwiseAND(mask),
        shiftright(col("h_lo"), 16).bitwiseAND(mask),
        col("h_hi").bitwiseAND(mask),
        shiftright(col("h_hi"), 16).bitwiseAND(mask)))
        .as(Seq("band", "sig")))
    val x = banded.as("x")
    val yy = banded.as("y")
    x.join(yy, col("x.band") === col("y.band") &&
        col("x.sig") === col("y.sig") &&
        col("x.asset_id") < col("y.asset_id"))
      .select(col("x.asset_id").as("a"), col("y.asset_id").as("b"),
        (expr("bit_count(x.h_hi ^ y.h_hi)") +
          expr("bit_count(x.h_lo ^ y.h_lo)")).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }
}
