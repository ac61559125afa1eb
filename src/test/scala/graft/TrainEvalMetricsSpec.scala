package graft

import scala.util.{Failure, Success, Try}
import org.apache.spark.ml.classification.NaiveBayes
import org.apache.spark.ml.evaluation.MulticlassClassificationEvaluator
import org.apache.spark.ml.linalg.Vectors
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import graft.ml.TweetPipeline

/** [[TweetPipeline.trainEval]] reads accuracy, F1 and the test-split
  * size from one metrics pass; accuracy and F1 must equal the
  * evaluator's separate "accuracy" and "f1" evaluations bit for bit,
  * and the size must be the split's count.
  */
class TrainEvalMetricsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def evaluate(predictions: DataFrame): (Double, Double) = {
    val ev = new MulticlassClassificationEvaluator()
      .setPredictionCol("prediction").setLabelCol("label")
    (ev.setMetricName("accuracy").evaluate(predictions),
      ev.setMetricName("f1").evaluate(predictions))
  }

  private lazy val skewed3: DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(77)
    (0 until 200).map { _ =>
      val label = Seq(0.0, 0.0, 0.0, 1.0, 1.0, 2.0)(rnd.nextInt(6))
      val pred = if (rnd.nextInt(3) == 0) rnd.nextInt(3).toDouble else label
      (label, pred)
    }.toDF("label", "prediction")
  }

  test("accuracyF1 == the two evaluate calls on a skewed 3-class frame") {
    val (acc, f1) = SpecSupport.accuracyF1(skewed3)
    assert((acc, f1) == evaluate(skewed3))
    assert(acc > 0.0 && acc < 1.0 && f1 > 0.0 && f1 < 1.0)
  }

  test("evaluatedRows: the confusion-matrix total, only when every " +
      "class is a test label") {
    import spark.implicits._
    assert(TweetPipeline.evaluatedRows(TweetPipeline.metrics(skewed3), 3)
      == Some(skewed3.count()))
    // class 1 is predicted but no row has it: the matrix misses a row
    val odd = Seq((0.0, 0.0), (0.0, 1.0), (0.0, 0.0))
      .toDF("label", "prediction")
    val m = TweetPipeline.metrics(odd)
    assert(m.confusionMatrix.toArray.sum == 2.0)
    assert(TweetPipeline.evaluatedRows(m, 2).isEmpty)
  }

  private def featurized(n: Int, seed: Int): DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    (0 until n).map { _ =>
      val label = if (rnd.nextInt(10) < 6) 0.0 else 1.0
      val feats = Array.tabulate(8)(k =>
        rnd.nextInt(3).toDouble + (if (k == label.toInt) 2.0 else 0.0))
      (label, Vectors.dense(feats))
    }.toDF("label", "features")
  }

  test("trainEval(nb) reports the evaluator's values for its split") {
    for (parts <- Seq(1, 3)) {
      val f = featurized(300, 78).repartition(parts).persist()
      try {
        val r = TweetPipeline.trainEval("nb", f, seed = 5L)
        val Array(training, testing) = f.randomSplit(Array(0.8, 0.2), 5L)
        val model = new NaiveBayes().setModelType("multinomial").fit(training)
        assert((r.accuracy, r.f1) == evaluate(model.transform(testing)))
        assert(r.trainN == training.count() && r.testN == testing.count())
        assert(r.trainN + r.testN == 300L && r.testN > 0L)
      } finally f.unpersist()
    }
  }

  test("trainEval(nb) on an empty test split matches the evaluator") {
    val f = featurized(3, 79).coalesce(1).persist()
    try {
      val seed = (1L to 200L).find { s =>
        f.randomSplit(Array(0.8, 0.2), s)(1).isEmpty
      }.get
      val Array(training, testing) = f.randomSplit(Array(0.8, 0.2), seed)
      val want = Try(evaluate(new NaiveBayes().setModelType("multinomial")
        .fit(training).transform(testing)))
      (want, Try(TweetPipeline.trainEval("nb", f, seed))) match {
        case (Success((acc, f1)), Success(r)) =>
          assert(java.lang.Double.compare(r.accuracy, acc) == 0)
          assert(java.lang.Double.compare(r.f1, f1) == 0)
          assert(r.testN == 0L && r.trainN == 3L)
        case (Failure(e), Failure(g)) => assert(g.getClass == e.getClass)
        case other => fail(s"evaluator and trainEval disagree: $other")
      }
    } finally f.unpersist()
  }
}
