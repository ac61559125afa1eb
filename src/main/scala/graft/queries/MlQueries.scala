package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Csv
import graft.ml.TweetPipeline

/** Stack A operator pack: native CSV scan (S1), Catalyst text prep
  * (F1/F4/F5), and the six spark.ml classifiers (M1–M14) trained and
  * evaluated end-to-end on the reference's own dataset.
  *
  * The s-queries are DuckDB-oracle-checked (DuckDB reads the same CSV
  * — verified to parse the multiline quoted tweets identically to the
  * reference's pandas reader). The m-queries train models — not
  * SQL-expressible, so rows-only; their quality/runtime parity vs
  * BASELINE.md is asserted in `MlPipelineSpec`.
  *
  * These queries run on the reference's fixed Kaggle dataset (7,613
  * rows), not on `sfDir` — the BASELINE.md numbers they are graded
  * against are defined on exactly this input.
  */
object MlQueries {
  type Q = (SparkSession, String) => DataFrame

  private def raw(s: SparkSession): DataFrame = Csv.tweets(s, Csv.TrainCsv)

  // One featurization per session, shared by the six classifier
  // queries (what a user would do; also makes the per-model bench
  // times train+eval-only, matching how BASELINE.md measured).
  private val featurizedCache =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, DataFrame]()

  private def featurized(s: SparkSession): DataFrame =
    featurizedCache.computeIfAbsent(s, { sess =>
      // featurize FIRST: if it throws, computeIfAbsent leaves no cache
      // entry and no listener behind (registering before the call
      // would leak one dead listener per failed attempt)
      val df = TweetPipeline.featurize(raw(sess))
      // evict every entry of this context when it stops: the cached
      // DataFrame strongly references its session (so weak-keyed maps
      // can never collect the entry), and without eviction a
      // shared-JVM multi-session service pins sessions forever
      sess.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          override def onApplicationEnd(
              e: org.apache.spark.scheduler.SparkListenerApplicationEnd)
              : Unit =
            featurizedCache.entrySet().removeIf(
              en => en.getKey.sparkContext eq sess.sparkContext)
        })
      df
    })

  /** Force-materialize the shared featurization (builds the feature
    * models and the persisted (label, features) frame). [[graft.QueryLoop]] calls this in its untimed
    * warm-up so the first classifier query doesn't absorb the
    * featurization cost — BASELINE.md's per-model numbers are the
    * reference scripts' own train+predict timings, which exclude
    * featurization the same way.
    */
  def warmFeaturized(s: SparkSession): Unit = { featurized(s); () }

  /** One (algo, accuracy, f1, train_n, test_n) row per trainer — only
    * the run-to-run-deterministic columns, so the row can be pinned
    * behind a literal DuckDB oracle (wall-clock timings stay on the
    * [[TweetPipeline.EvalResult]] the apps print). Bit-stability of
    * the raw doubles across runs, JVMs and local[4/8/32] partitioning
    * was measured with [[graft.tools.DeterminismProbe]]; the inputs
    * are the repo's tweet CSV fixture (sfDir-independent), so the
    * pinned values hold at every SF the gate runs.
    */
  /** Quality bands per trainer for the banded-oracle fallback
    * ([[graft.core.OracleEnv]]): (accLo, accHi, f1Lo, f1Hi). The
    * spec'd trainers reuse MlPipelineSpec's bands verbatim; dt/rf
    * f1 and gbt (not band-asserted there) get ±0.08-ish bands around
    * the pinned values — wide enough for any one-ULP-rounding
    * prediction flips a foreign stack can cause, tight enough that a
    * broken trainer (majority-class collapse ≈ 0.50 acc / 0.0 f1)
    * still fails.
    */
  private val qualityBands: Map[String, (Double, Double, Double, Double)] =
    Map(
      "lr" -> ((0.74, 0.84, 0.73, 0.84)),
      "nb" -> ((0.74, 0.83, 0.74, 0.83)),
      "svc" -> ((0.73, 0.83, 0.72, 0.83)),
      "dt" -> ((0.55, 0.70, 0.42, 0.60)),
      "rf" -> ((0.55, 0.72, 0.40, 0.58)),
      "gbt" -> ((0.65, 0.80, 0.62, 0.78)))

  private def evalDf(s: SparkSession, algo: String): DataFrame = {
    import s.implicits._
    val res = TweetPipeline.trainEval(algo, featurized(s))
    // raw-measurement evidence for oracle_env.json — a driver-side
    // hash fail on the pinned literals then shows what WAS measured
    val qname = Map("lr" -> "m01_ml_logreg", "nb" -> "m02_ml_naivebayes",
      "svc" -> "m03_ml_linearsvc", "dt" -> "m04_ml_dectree",
      "rf" -> "m05_ml_randforest", "gbt" -> "m06_ml_gbt")(algo)
    graft.core.GateDiag.record(qname,
      "algo" -> res.algo, "accuracy" -> res.accuracy, "f1" -> res.f1,
      "train_n" -> res.trainN, "test_n" -> res.testN)
    val raw = Seq(res).toDF()
      .select(col("algo"), col("accuracy"), col("f1"),
        col("trainN").as("train_n"), col("testN").as("test_n"))
    if (graft.core.OracleEnv.bitExact) raw
    else {
      // banded fallback (OracleEnv): this stack never had its
      // bit-stability measured, so assert the quality BANDS instead
      // of the pinned literals — the split sizes stay exact (seeded
      // split over the 1-partition featurized frame).
      val (aLo, aHi, fLo, fHi) = qualityBands(algo)
      raw.select(col("algo"), col("train_n"), col("test_n"),
        (col("accuracy") > aLo && col("accuracy") < aHi)
          .as("acc_in_band"),
        (col("f1") > fLo && col("f1") < fHi).as("f1_in_band"))
    }
  }

  val queries: Map[String, Q] = Map(
    // S1: native multiLine CSV scan + F1 clean + F5 length.
    "s01_csv_clean" -> ((s, _) =>
      TweetPipeline.prepare(raw(s)).select(col("id"), col("clean"),
        col("length"))),

    // A11: class balance (Part1.ipynb cell 15 — expects 4342/3271).
    "s02_class_balance" -> ((s, _) =>
      raw(s).groupBy(col("class")).agg(count(lit(1)).as("n"))),

    // A12/A13: per-class profiling aggregates (Part1 cells 17/20/21):
    // avg clean length, avg raw token count, avg filtered token count.
    "s03_class_token_stats" -> ((s, _) =>
      TweetPipeline.prepare(raw(s))
        .groupBy(col("class"))
        .agg(round(avg(col("length")), 6).as("avg_length"),
          round(avg(col("tokens")), 6).as("avg_tokens"),
          round(avg(col("filtered_tokens")), 6).as("avg_filtered"))),

    // M1-M14 end-to-end per classifier (rows-only; quality asserted
    // against BASELINE.md in MlPipelineSpec).
    // Stack B end-to-end (RDD_logisticregression.py semantics): CSV →
    // RDD-flavor tokenize → top-10k vocab → binary-TF·IDF → 300 GD
    // iterations → confusion metrics. BASELINE.md row: 308.57 s train
    // / 79.81% acc / 75.50 f1 — the bench time here is the direct
    // comparison (broadcast+treeAggregate+persist vs the reference's
    // uncached per-iteration lineage recompute). Wall-clock timings
    // go to stderr; the RESULT row is the gate contract: exact
    // confusion counts + split sizes and band-checked cost-curve
    // booleans vs the committed goldens (M07Golden — round-11 probe:
    // with the deterministic gateSplit, tp/tn/fp/fn and split sizes
    // are bit-stable across 2× local[4]/[8]/[32]; the costs jitter
    // ~1e-16 relative from driver-merge arrival order, so they get
    // 1e-6 bands instead of literals). Banded mode (OracleEnv,
    // foreign stacks) degrades the counts to accuracy/f1 quality
    // bands and widens the cost bands.
    "m07_rdd_lr_train" -> ((s, _) => {
      import s.implicits._
      def timed[A](f: => A): (A, Double) = {
        val t0 = System.nanoTime(); val a = f
        (a, (System.nanoTime() - t0) / 1e9)
      }
      // phase 1: featurize — forced here (counts) so the training
      // phase below times the 300 iterations only, not lazy lineage
      val ((f, training, testing, trainN, testN), featSec) = timed {
        val fz = graft.features.RddPipeline.featurize(s, Csv.TrainCsv,
          dim = 10000)
        // Deterministic hash split + pinned 8-partition training
        // layout (RddPipeline.gateSplit) — randomSplit's assignment
        // was partition-layout-dependent and broke this gate under
        // the driver's local[32] (round-10 red cell). 8 partitions
        // keep 300 iteration-jobs from paying 32-task scheduling
        // overhead each (partition count should track data volume —
        // at 100 TB this would stay at the cluster's parallelism,
        // not shrink).
        val (tr, testing) = graft.features.RddPipeline.gateSplit(fz.data)
        // persist the RDD itself (deserialized objects), not the
        // Dataset: the 300 iteration-jobs then read SparseDocs
        // directly instead of re-decoding cached InternalRows every
        // pass (guide §1.2 step 2; A/B in OPTIMIZATION_r14.md)
        val trRdd = tr.rdd.persist()
        val nTr = trRdd.count()
        val nTe = testing.persist().count()
        (fz, trRdd, testing, nTr, nTe)
      }
      // phase 2: the 300 GD iterations
      val (res, trainSec) = timed {
        graft.gd.GradientDescent.runRdd(training, 10000,
          graft.gd.LogisticLoss,
          graft.gd.GradientDescent.Config(iterations = 300,
            learningRate = 0.01, optimizer = "SGD",
            reg = graft.gd.GradientDescent.L2(1.15)))
      }
      // phase 3: confusion-matrix eval on the held-out split
      val (c, evalSec) = timed(graft.gd.Predict.evaluate(testing, res.coef))
      System.err.println(
        f"[m07] featurize=$featSec%.1fs train=$trainSec%.1fs eval=$evalSec%.1fs")
      def relOk(x: Double, golden: Double, tol: Double): Boolean =
        math.abs(x / golden - 1.0) <= tol
      val bitExact = graft.core.OracleEnv.bitExact
      // raw-measurement evidence for oracle_env.json (GateDiag): a
      // driver-side hash fail on this row then carries the measured
      // counts/curve next to the goldens instead of needing a re-run
      graft.core.GateDiag.record("m07_rdd_lr_train",
        "train_n" -> trainN, "test_n" -> testN,
        "tp" -> c.tp, "tn" -> c.tn, "fp" -> c.fp, "fn" -> c.fn,
        "accuracy" -> c.accuracy, "f1" -> c.f1,
        "costs_head" -> res.costs.take(5),
        "last_cost" -> res.costs.last,
        "golden_train_n" -> M07Golden.trainN,
        "golden_test_n" -> M07Golden.testN,
        "golden_counts" -> Seq(M07Golden.tp, M07Golden.tn,
          M07Golden.fp, M07Golden.fn),
        "train_partitions" -> training.getNumPartitions)
      val (curveTol, lastTol) = if (bitExact) (1e-6, 1e-6) else (1e-3, 0.02)
      val curveOk = res.costs.take(5).zip(M07Golden.costsHead)
        .forall { case (a, b) => relOk(a, b, curveTol) }
      val lastOk = relOk(res.costs.last, M07Golden.lastCost, lastTol)
      val out =
        if (bitExact)
          Seq((trainN, testN, c.tp, c.tn, c.fp, c.fn, curveOk, lastOk))
            .toDF("train_n", "test_n", "tp", "tn", "fp", "fn",
              "curve_head_ok", "last_cost_ok")
        else
          Seq((trainN, testN,
            math.abs(c.accuracy - M07Golden.accuracy) <= 0.03,
            math.abs(c.f1 - M07Golden.f1) <= 0.03, curveOk, lastOk))
            .toDF("train_n", "test_n", "acc_ok", "f1_ok",
              "curve_head_ok", "last_cost_ok")
      training.unpersist(); testing.unpersist(); f.release()
      out
    }),

    // L3 end-to-end (RDD_NN.py:214-350 semantics): CSV → RDD-flavor
    // tokenize → 1000-word DISASTER-only vocabulary → TF-IDF → 300
    // full-batch GD iterations of the 1000→128→2 leaky-ReLU/sigmoid
    // net, once per optimizer (SGD, then the reference's Adam
    // variant) → confusion metrics on the held-out split. BASELINE.md
    // row: 71.10% acc / 66.56 f1 (Part2.ipynb cell 54). Same gate
    // discipline as m07: deterministic gateSplit (shared salt — a
    // user comparing the LR and NN stacks wants the same held-out
    // docs), exact confusion counts + split sizes, banded cost-curve
    // booleans vs committed goldens (M08Golden, emitted by
    // tools.M08Dump); OracleEnv degrades to quality bands on foreign
    // stacks. One row per optimizer.
    "m08_rdd_nn_train" -> ((s, _) => {
      import s.implicits._
      def timed[A](f: => A): (A, Double) = {
        val t0 = System.nanoTime(); val a = f
        (a, (System.nanoTime() - t0) / 1e9)
      }
      val ((f, trainingRdd, testing, trainN, testN), featSec) = timed {
        val fz = graft.features.RddPipeline.featurize(s, Csv.TrainCsv,
          dim = 1000, dictFilter = Some("1"))
        val (tr, te) = graft.features.RddPipeline.gateSplit(fz.data)
        // persist the RDD itself (deserialized objects), not the
        // Dataset: 600 iteration-jobs then read SparseDocs directly
        // instead of re-decoding cached InternalRows every pass
        // (guide §1.2 step 2; A/B in OPTIMIZATION_r14.md)
        val trRdd = tr.rdd.persist()
        val nTr = trRdd.count()
        val nTe = te.persist().count()
        (fz, trRdd, te, nTr, nTe)
      }
      val bitExact = graft.core.OracleEnv.bitExact
      def relOk(x: Double, golden: Double, tol: Double): Boolean =
        math.abs(x / golden - 1.0) <= tol
      val (curveTol, lastTol) = if (bitExact) (1e-6, 1e-6) else (1e-3, 0.02)
      // The two trainings run one after the other: each one's local
      // finish (gd.FullBatch) already runs its partials on all of the
      // session's task slots.
      val outcomes = Seq("SGD", "Adam").map { opt =>
        val g = M08Golden.byOpt(opt)
        val (res, trainSec) = timed {
          graft.gd.TwoLayerNet.trainRdd(trainingRdd,
            graft.gd.TwoLayerNet.Config(optimizer = opt))
        }
        val (c, evalSec) =
          timed(graft.gd.TwoLayerNet.evaluate(testing, res.params))
        System.err.println(f"[m08/$opt] featurize=$featSec%.1fs " +
          f"train=$trainSec%.1fs eval=$evalSec%.1fs")
        val diag = Seq(
          s"${opt}_tp" -> (c.tp: Any), s"${opt}_tn" -> c.tn,
          s"${opt}_fp" -> c.fp, s"${opt}_fn" -> c.fn,
          s"${opt}_accuracy" -> c.accuracy, s"${opt}_f1" -> c.f1,
          s"${opt}_costs_head" -> res.costs.take(5),
          s"${opt}_last_cost" -> res.costs.last,
          s"${opt}_golden_counts" -> Seq(g.tp, g.tn, g.fp, g.fn))
        val curveOk = res.costs.take(5).zip(g.costsHead)
          .forall { case (a, b) => relOk(a, b, curveTol) }
        val lastOk = relOk(res.costs.last, g.lastCost, lastTol)
        (opt, c, curveOk, lastOk, diag)
      }
      // GateDiag.record REPLACES a query's entry, so emit ONE record
      // with both optimizers' raw measurements (the old per-opt
      // records clobbered each other and only the footer survived)
      graft.core.GateDiag.record("m08_rdd_nn_train",
        (outcomes.flatMap(_._5) ++ Seq[(String, Any)](
          "train_n" -> trainN, "test_n" -> testN,
          "golden_train_n" -> M08Golden.trainN,
          "golden_test_n" -> M08Golden.testN,
          "train_partitions" -> trainingRdd.getNumPartitions)): _*)
      val rows = outcomes.map { case (o, c, cu, la, _) => (o, c, cu, la) }
      val out =
        if (bitExact)
          rows.map { case (opt, c, curveOk, lastOk) =>
            (opt, trainN, testN, c.tp, c.tn, c.fp, c.fn, curveOk, lastOk)
          }.toDF("optimizer", "train_n", "test_n", "tp", "tn", "fp",
            "fn", "curve_head_ok", "last_cost_ok")
        else
          rows.map { case (opt, c, curveOk, lastOk) =>
            val g = M08Golden.byOpt(opt)
            (opt, trainN, testN,
              math.abs(c.accuracy - g.accuracy) <= 0.03,
              math.abs(c.f1 - g.f1) <= 0.03, curveOk, lastOk)
          }.toDF("optimizer", "train_n", "test_n", "acc_ok", "f1_ok",
            "curve_head_ok", "last_cost_ok")
      // out is a local relation (the training/eval above ran eagerly),
      // so the cached inputs can be released before returning
      trainingRdd.unpersist(); testing.unpersist(); f.release()
      out
    }),

    "m01_ml_logreg" -> ((s, _) => evalDf(s, "lr")),
    "m02_ml_naivebayes" -> ((s, _) => evalDf(s, "nb")),
    "m03_ml_linearsvc" -> ((s, _) => evalDf(s, "svc")),
    "m04_ml_dectree" -> ((s, _) => evalDf(s, "dt")),
    "m05_ml_randforest" -> ((s, _) => evalDf(s, "rf")),
    "m06_ml_gbt" -> ((s, _) => evalDf(s, "gbt"))
  )

  private val csvSrc =
    s"read_csv('${Csv.TrainCsv}', header=true, all_varchar=true)"

  /** The exact Catalyst clean chain re-expressed for DuckDB (RE2).
    * Verified char-for-char equivalent on this corpus (no astral
    * chars, so Java UTF-16 vs RE2 rune semantics agree).
    */
  private val cleanSql =
    """ltrim(regexp_replace(regexp_replace(lower(text),
       '(?:@|https?://)\S+', '', 'g'), '[^a-zA-Z]', ' ', 'g'))"""

  // ml.Tokenizer = Java `clean.split("\s")`: interior empty tokens
  // kept, trailing-empty run dropped, "" -> [""]. DuckDB's
  // str_split_regex(rtrim(clean), '\s') has exactly those semantics
  // (verified: '' -> [''], 'a  b  ' -> ['a','','b']).
  private val tokSql = """str_split_regex(rtrim(clean), '\s')"""

  /** Literal oracle row for a trainer: the exact shortest-roundtrip
    * doubles measured by DeterminismProbe (bit-stable across runs,
    * JVMs, and local[4/8/32]; sfDir-independent inputs). VARCHAR →
    * CAST keeps the decimal parse correctly rounded (the planeSqlArr
    * discipline in [[DedupQueries]]). m07's GD metrics are NOT pinned
    * this way: 300 treeAggregate iterations amplify reduce-order
    * float jitter (measured unstable), so m07 stays rows-only with
    * its golden-curve spec.
    *
    * ENVIRONMENT PIN: the probe's stability evidence covers this
    * machine's stack only (HotSpot JVM 17 on linux/amd64, Spark
    * 4.1.2's bundled JVM-only BLAS — no native netlib/OpenBLAS). A
    * different JVM major or a native BLAS backend may round a dot
    * product differently, flip one of the 1557 test predictions, and
    * move accuracy/f1 by ~6.4e-4 — far beyond the gate's 1e-9
    * tolerance. [[graft.core.OracleEnv]] therefore gates the mode:
    * on the pinned fingerprint (or `GRAFT_ORACLE_MODE=pinned`) the
    * bit-exact literals below are emitted; on any other stack both
    * the query and this oracle degrade to the quality-band form
    * ([[qualityBands]] booleans + exact split sizes), keeping the
    * gate green-and-meaningful instead of hard-failing on literals
    * that were never pinned there.
    */
  private def trainerOracle(algo: String, acc: String, f1: String,
                            trainN: Long, testN: Long): String =
    if (graft.core.OracleEnv.bitExact)
      s"""SELECT '$algo' AS algo,
          CAST('$acc' AS DOUBLE) AS accuracy,
          CAST('$f1' AS DOUBLE) AS f1,
          CAST($trainN AS BIGINT) AS train_n,
          CAST($testN AS BIGINT) AS test_n"""
    else
      s"""SELECT '$algo' AS algo,
          CAST($trainN AS BIGINT) AS train_n,
          CAST($testN AS BIGINT) AS test_n,
          true AS acc_in_band, true AS f1_in_band"""

  /** One UNION ALL branch per optimizer for m08's oracle — pinned
    * counts + true bands in bit-exact mode, quality bands otherwise
    * (the m07 shape, ×2 rows).
    */
  private def m08OracleSql: String =
    if (graft.core.OracleEnv.bitExact)
      Seq("SGD", "Adam").map { opt =>
        val g = M08Golden.byOpt(opt)
        s"""SELECT '$opt' AS optimizer,
            CAST(${M08Golden.trainN} AS BIGINT) AS train_n,
            CAST(${M08Golden.testN} AS BIGINT) AS test_n,
            CAST(${g.tp} AS BIGINT) AS tp, CAST(${g.tn} AS BIGINT) AS tn,
            CAST(${g.fp} AS BIGINT) AS fp, CAST(${g.fn} AS BIGINT) AS fn,
            true AS curve_head_ok, true AS last_cost_ok"""
      }.mkString(" UNION ALL ")
    else
      Seq("SGD", "Adam").map { opt =>
        s"""SELECT '$opt' AS optimizer,
            CAST(${M08Golden.trainN} AS BIGINT) AS train_n,
            CAST(${M08Golden.testN} AS BIGINT) AS test_n,
            true AS acc_ok, true AS f1_ok,
            true AS curve_head_ok, true AS last_cost_ok"""
      }.mkString(" UNION ALL ")

  def oracleSql: Map[String, String] = Map(
    // m08's gate row: per-optimizer exact split sizes + confusion
    // counts and band-checked cost booleans in pinned mode; split
    // sizes + band booleans in banded mode. See M08Golden.
    "m08_rdd_nn_train" -> m08OracleSql,
    // m07's gate row (round-10, closing the last no_oracle): exact
    // split sizes + confusion counts and band-checked cost booleans
    // in pinned mode; split sizes + four band booleans in banded
    // mode. See M07Golden for the stability evidence.
    "m07_rdd_lr_train" -> (if (graft.core.OracleEnv.bitExact)
      s"""SELECT CAST(${M07Golden.trainN} AS BIGINT) AS train_n,
          CAST(${M07Golden.testN} AS BIGINT) AS test_n,
          CAST(${M07Golden.tp} AS BIGINT) AS tp,
          CAST(${M07Golden.tn} AS BIGINT) AS tn,
          CAST(${M07Golden.fp} AS BIGINT) AS fp,
          CAST(${M07Golden.fn} AS BIGINT) AS fn,
          true AS curve_head_ok, true AS last_cost_ok"""
    else
      s"""SELECT CAST(${M07Golden.trainN} AS BIGINT) AS train_n,
          CAST(${M07Golden.testN} AS BIGINT) AS test_n,
          true AS acc_ok, true AS f1_ok,
          true AS curve_head_ok, true AS last_cost_ok"""),
    "m01_ml_logreg" -> trainerOracle("lr",
      "0.766859344894027", "0.7535722043016353", 6056L, 1557L),
    "m02_ml_naivebayes" -> trainerOracle("nb",
      "0.775208734746307", "0.7754532442804323", 6056L, 1557L),
    "m03_ml_linearsvc" -> trainerOracle("svc",
      "0.7700706486833655", "0.7649736309281439", 6056L, 1557L),
    "m04_ml_dectree" -> trainerOracle("dt",
      "0.6075786769428388", "0.5039363468776682", 6056L, 1557L),
    "m05_ml_randforest" -> trainerOracle("rf",
      "0.5998715478484264", "0.48846119255109877", 6056L, 1557L),
    "m06_ml_gbt" -> trainerOracle("gbt",
      "0.7225433526011561", "0.698837801613344", 6056L, 1557L),
    "s01_csv_clean" ->
      s"""SELECT id, $cleanSql AS clean,
          CAST(length($cleanSql) AS INTEGER) AS length
          FROM $csvSrc""",
    "s02_class_balance" ->
      s"""SELECT target AS class, count(*) AS n FROM $csvSrc GROUP BY 1""",
    "s03_class_token_stats" ->
      s"""WITH c AS (SELECT target AS class, $cleanSql AS clean FROM $csvSrc),
          f AS (SELECT class, length(clean) AS length,
                  len($tokSql) AS tokens,
                  len(list_filter($tokSql, w -> NOT list_contains(
                    ${MlSqlLists.allStopsMl}, w))) AS filtered
                FROM c)
          SELECT class, round(avg(length), 6) AS avg_length,
                 round(avg(tokens), 6) AS avg_tokens,
                 round(avg(filtered), 6) AS avg_filtered
          FROM f GROUP BY class"""
  )
}

/** m07's committed goldens, emitted by `tools.M07Dump` (shortest-
  * round-trip doubles) and vetted like the m01–m06 pins — and, since
  * round 11, PARTITION-LAYOUT-INDEPENDENT: the round-10 goldens came
  * from `randomSplit` over the shuffle-partitioned featurized frame
  * and silently depended on the core count (local[8]-only — the r10
  * red cell). The split is now [[graft.features.RddPipeline.gateSplit]]
  * (deterministic id-hash gate + training repartitioned by id hash
  * into 8 sorted partitions), and the round-11 probe ran M07Dump
  * twice each at local[4], local[8], and local[32]: split sizes,
  * confusion counts, accuracy and f1 were BIT-IDENTICAL in all six
  * runs; the cost curve jittered only in its final 1–2 ULPs (~1e-16
  * relative, driver-merge arrival order of the 8 partials — present
  * even between same-core runs), which is why the gate row
  * band-checks the costs at 1e-6 relative (≈10¹⁰× the measured
  * jitter) instead of pinning them. Same ENVIRONMENT PIN caveat as
  * trainerOracle — OracleEnv switches to quality bands on foreign
  * JVM/arch/BLAS stacks.
  */
private[graft] object M07Golden {
  val trainN = 6083L
  val testN = 1527L
  val tp = 465L; val tn = 742L; val fp = 130L; val fn = 190L
  val accuracy = 0.7904387688277669
  val f1 = 0.744
  val costsHead: Array[Double] = Array(
    4216.414299346146, 3856.071352832995, 3725.6656559139387,
    3608.9963884484137, 3504.4336183940495)
  val lastCost = 2539.226162730571
}

/** m08's committed goldens, emitted by `tools.M08Dump` and vetted
  * like M07Golden: the deterministic gateSplit (shared with m07, so
  * the NN and LR stacks hold out the SAME docs) makes split sizes and
  * per-optimizer confusion counts bit-stable across runs and core
  * counts; the cost curves jitter only in their final ULPs
  * (driver-merge arrival order of the 8 training partials), so the
  * gate band-checks them at 1e-6 relative instead of pinning.
  * Stability evidence: M08Dump run 2× at local[8] and 1× under
  * gate.sh defaults (local[32]) — split sizes, counts and acc/f1
  * bit-identical in all three; max cost drift 1.8e-13 relative
  * (Adam last cost — Adam's sqrt/divide chain amplifies the partial-
  * merge jitter more than m07's plain SGD, still 7 decades under the
  * 1e-6 band). Same ENVIRONMENT PIN
  * caveat as trainerOracle — OracleEnv switches the gate to quality
  * bands on foreign JVM/arch/BLAS stacks. The init is the engine's
  * seeded uniform (TwoLayerNet.init, seed 123); the reference
  * re-inits UNSEEDED per `learning()` call (RDD_NN.py:231-234), so
  * exact RNG parity is impossible and determinism wins (the SURVEY
  * §7 randomSplit precedent). Quality parity vs the reference's
  * 71.10%/66.56 (BASELINE.md, Part2 cell 54) is asserted by the
  * banded mode's ±0.03 bands around the measured goldens.
  */
private[graft] object M08Golden {
  final case class OptGolden(tp: Long, tn: Long, fp: Long, fn: Long,
      accuracy: Double, f1: Double, costsHead: Array[Double],
      lastCost: Double)
  // Fewer docs than m07's 6083/1527: the 1000-word disaster-only
  // dictionary leaves some tweets with no in-vocabulary tokens, and
  // those rows drop out of the TF-IDF relation before the split.
  val trainN = 5906L
  val testN = 1475L
  // SGD lands at 72.5% acc / 66.4 f1 vs the reference's unseeded-init
  // 71.10% / 66.56 (BASELINE.md) — inside the banded mode's ±0.03.
  val sgd = OptGolden(
    tp = 400L, tn = 670L, fp = 152L, fn = 253L,
    accuracy = 0.7254237288135593, f1 = 0.6639004149377593,
    costsHead = Array(0.30881968717432867, 0.30879426480256805,
      0.3087815599278407, 0.3087682234910823, 0.30875422449247497),
    lastCost = 0.15479968992372675)
  val adam = OptGolden(
    tp = 453L, tn = 673L, fp = 149L, fn = 200L,
    accuracy = 0.7633898305084745, f1 = 0.7219123505976096,
    costsHead = Array(0.30881968717432867, 0.3041783560089532,
      0.30187707135912323, 0.2994752044837839, 0.29697014971920765),
    lastCost = 0.016272698277105476)
  def byOpt(opt: String): OptGolden =
    if (opt == "SGD") sgd else adam
}

/** SQL literal lists shared by the ML-stack oracles. */
private object MlSqlLists {
  import graft.text.TextOps

  /** StopWordsRemover's default English list + the ML extra list —
    * what `filteredmore` removes relative to `token_text`.
    */
  val allStopsMl: String =
    (org.apache.spark.ml.feature.StopWordsRemover
      .loadDefaultStopWords("english").toSeq ++ TextOps.ExtraStopwordsMl)
      .distinct
      .map(w => "'" + w.replace("'", "''") + "'")
      .mkString("[", ", ", "]")
}
