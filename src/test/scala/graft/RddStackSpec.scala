package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.{Csv, Sinks}
import graft.features.RddPipeline
import graft.gd._

/** Stack B end-to-end on the reference's own dataset
  * (`RDD_logisticregression.py`): featurization invariants, the
  * analytically-known first cost, training-quality tolerance vs
  * BASELINE.md (79.81% acc / 75.50 f1), and the golden top-5
  * coefficient words (Part1.ipynb cell 67). Exact per-iteration curve
  * parity with `out/output/part-00000` is impossible (numpy-MT19937
  * randomSplit — SURVEY.md §7 #2/#3); what IS exactly checkable is
  * checked: iteration-0 cost = ln(2)·n_train + 0 for a zeros init.
  */
class RddStackSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[8]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  lazy val f = RddPipeline.featurize(spark, Csv.TrainCsv, dim = 10000)
  lazy val split = f.data.randomSplit(Array(0.8, 0.2), seed = 123L)

  test("F2 tokenizer chain: clean → stop → lemmatize on a known row") {
    import spark.implicits._
    val toks = f.tokenized.filter(col("id") === "4")
      .select("tokens").as[Seq[String]].head()
    // "Forest fire near La Ronge Sask. Canada" — no stop words, no
    // plural nouns → tokens pass through lemmatization unchanged.
    assert(toks == Seq("forest", "fire", "near", "la", "ronge", "sask",
      "canada"))
  }

  test("golden: top-20 dictionaries overlap Part1.ipynb cells 50/53/54") {
    import org.apache.spark.sql.DataFrame
    // the notebook's printed dictionaries predate the final scripts'
    // stop list ("u"/"pm" still present there, stopworded here) and
    // NLTK's lemmatizer differs on rare words, so assert strong
    // overlap rather than identity: measured 17/19/17 of 20.
    def top20(df: DataFrame): Set[String] =
      graft.features.Vocabulary.topK(df, "tokens", 20)
        .select("word").collect().map(_.getString(0)).toSet
    val refAll = Set("fire", "like", "get", "news", "people", "time",
      "year", "video", "disaster", "emergency", "body", "day", "home",
      "police", "building", "u", "family", "go", "life", "say")
    val refDisaster = Set("fire", "news", "disaster", "california",
      "year", "suicide", "police", "people", "family", "home", "train",
      "storm", "killed", "building", "like", "hiroshima", "bomb",
      "crash", "pm", "flood")
    val refNon = Set("like", "get", "body", "time", "day", "video",
      "love", "people", "go", "got", "know", "fire", "let", "back",
      "full", "see", "bag", "emergency", "want", "u")
    assert((top20(f.tokenized) & refAll).size >= 15)
    assert((top20(f.tokenized.filter(col("label") === "1"))
      & refDisaster).size >= 17)
    assert((top20(f.tokenized.filter(col("label") === "0"))
      & refNon).size >= 15)
  }

  test("featurization invariants: N docs, dims in range, binary TF") {
    assert(f.numberOfTweets === 7613L)
    assert(f.vocab.count() === 10000L)
    val d = f.data.head()
    // binary-presence TF quirk: every value = idf(word)/len, so no
    // value may exceed ln(N) (df≥1 ⇒ idf ≤ ln N) and len ≥ indices.
    assert(d.indices.length === d.values.length)
    assert(d.indices.sameElements(d.indices.sorted))
    // docs with no vocab word are absent, as in the reference
    assert(f.data.count() <= 7613L)
    assert(f.data.count() > 7000L)
  }

  test("L1 end-to-end: first cost = ln(2)·n_train; quality ≈ baseline") {
    val Array(training, testing) = split
    training.persist(); testing.persist()
    val nTrain = training.count()

    val res = GradientDescent.run(training, 10000, LogisticLoss,
      GradientDescent.Config(iterations = 300, learningRate = 0.01,
        optimizer = "SGD", reg = GradientDescent.L2(1.15)))

    // zeros init ⇒ θ=0 for every row ⇒ cost₀ = n·ln 2 exactly (the
    // same identity holds in the reference: out/output/part-00000
    // line 1 = 4226.118… = 6097·ln 2).
    assert(math.abs(res.costs(0) - nTrain * math.log(2.0)) < 1e-6,
      s"first cost ${res.costs(0)} vs ${nTrain * math.log(2.0)}")

    // bold-driver keeps the curve globally descending
    assert(res.costs.last < res.costs.head * 0.75,
      s"curve did not descend: ${res.costs.head} → ${res.costs.last}")

    // top-5 coefficient words vs golden list (Part1.ipynb cell 67);
    // different seeded split ⇒ tolerate partial overlap.
    val top5 = RddPipeline.wordsFor(f.vocab,
      GradientDescent.top5Coeff(res.coef)).toSet
    val goldenTop5 = Set("fire", "california", "train", "hiroshima",
      "wildfire")
    assert((top5 & goldenTop5).size >= 3,
      s"top5 $top5 vs golden $goldenTop5")

    // quality vs BASELINE.md RDD-LR row: 79.81% acc / 75.50 f1
    val c = Predict.evaluate(testing, res.coef)
    assert(c.total === testing.count())
    assert(c.accuracy > 0.75 && c.accuracy < 0.85,
      s"accuracy ${c.accuracy}")
    assert(c.f1 > 0.68 && c.f1 < 0.82, s"f1 ${c.f1}")

    // Golden-curve comparison vs the reference's committed run
    // (out/output/part-00000, 68 iterations): exact parity is
    // impossible across RNG-different splits (SURVEY §7 #2), so
    // compare per-document cost — their curve head is 6097·ln 2
    // (validating the normalizer), and at their last iteration the
    // per-doc training cost must agree within 5%.
    val refCurve = SpecSupport.readCostCurve("/root/reference/out/output")
    val refN = math.round(refCurve.head / math.log(2.0)).toDouble
    assert(math.abs(refCurve.head - refN * math.log(2.0)) < 1e-6)
    val lastI = refCurve.length - 1
    val ourPerDoc = res.costs(lastI) / nTrain
    val refPerDoc = refCurve.last / refN
    assert(math.abs(ourPerDoc - refPerDoc) / refPerDoc < 0.05,
      s"per-doc cost at iter $lastI: ours $ourPerDoc vs ref $refPerDoc")

    // S5/S7 round-trip: curve persists to a single part file and
    // reads back bit-identical.
    val dir = java.nio.file.Files
      .createTempDirectory("costcurve").toString + "/out"
    Sinks.costCurve(spark, res.costs.toSeq, dir)
    val back = SpecSupport.readCostCurve(dir)
    assert(back == res.costs.toSeq)

    // a missing directory fails loudly, never an empty curve
    val ex = intercept[RuntimeException](
      SpecSupport.readCostCurve(dir + "-does-not-exist"))
    assert(ex.getMessage.contains("no such directory"))
  }

  test("L3 end-to-end: 2-layer net on the disaster dictionary") {
    // RDD_NN.py semantics: 1000-dim vocabulary from disaster tweets
    // only, 1000→128→2 net, SSE, 300 iterations (the SSE ramp is slow
    // by design — at 150 iterations accuracy is still at the majority
    // baseline; the reference also runs 300).
    val nn = graft.features.RddPipeline.featurize(spark, Csv.TrainCsv,
      dim = 1000, dictFilter = Some("1"))
    val Array(training0, testing) =
      nn.data.randomSplit(Array(0.8, 0.2), seed = 123L)
    val training = training0.coalesce(8)
    training.persist(); testing.persist()
    val res = TwoLayerNet.train(training, TwoLayerNet.Config())
    assert(res.costs.last < res.costs.head)
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(res.params)
    val preds = testing.map(d => (d.id, d.label.toInt,
        TwoLayerNet.predict(d, bc.value, 128, 2)))
      .toDF("id", "y", "pred")
    val c = Predict.confusion(preds)
    // baseline 71.10% acc / 66.56 f1; ours measured ~75/69 (seeded)
    assert(c.accuracy > 0.68 && c.accuracy < 0.82,
      s"nn accuracy ${c.accuracy}")
    assert(c.f1 > 0.60, s"nn f1 ${c.f1}")
    training.unpersist(); testing.unpersist()
  }

  test("L2 end-to-end: hinge-loss SVM with early stop, quality in band") {
    val Array(training, testing) = split
    training.persist(); testing.persist()
    // RDD_SVM.py:127-201 config: λ = 1/(c·n) over ALL docs, 200
    // iters, |Δcost| ≤ 1e-4 early stop, seeded normal(0,0.1) init.
    val rng = new scala.util.Random(123L)
    val init = Array.fill(10000)(rng.nextGaussian() * 0.1)
    val res = GradientDescent.run(training, 10000, HingeLoss,
      GradientDescent.Config(iterations = 200, learningRate = 0.01,
        optimizer = "SGD",
        reg = GradientDescent.SvmNorm(1.0 / (0.5 * f.numberOfTweets)),
        earlyStopDelta = Some(1e-4), initialCoef = Some(init)))
    assert(res.costs.length <= 200)
    assert(res.costs.last < res.costs.head)
    val c = Predict.evaluate(testing, res.coef)
    // README "mlresults": hand-rolled SVM lands close to the LR rows
    assert(c.accuracy > 0.70 && c.accuracy < 0.85,
      s"svm accuracy ${c.accuracy}")
  }
}
