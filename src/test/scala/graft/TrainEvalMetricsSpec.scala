package graft

import org.apache.spark.ml.classification.NaiveBayes
import org.apache.spark.ml.evaluation.MulticlassClassificationEvaluator
import org.apache.spark.ml.linalg.Vectors
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import graft.ml.TweetPipeline

/** [[TweetPipeline.trainEval]] reads accuracy and F1 from one metrics
  * pass; both must equal the evaluator's separate "accuracy" and "f1"
  * evaluations bit for bit.
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

  test("accuracyF1 == the two evaluate calls on a skewed 3-class frame") {
    import spark.implicits._
    val rnd = new scala.util.Random(77)
    val preds = (0 until 200).map { _ =>
      val label = Seq(0.0, 0.0, 0.0, 1.0, 1.0, 2.0)(rnd.nextInt(6))
      val pred = if (rnd.nextInt(3) == 0) rnd.nextInt(3).toDouble else label
      (label, pred)
    }.toDF("label", "prediction")
    val (acc, f1) = TweetPipeline.accuracyF1(preds)
    assert((acc, f1) == evaluate(preds))
    assert(acc > 0.0 && acc < 1.0 && f1 > 0.0 && f1 < 1.0)
  }

  test("trainEval(nb) reports the evaluator's values for its split") {
    import spark.implicits._
    val rnd = new scala.util.Random(78)
    val featurized = (0 until 300).map { _ =>
      val label = if (rnd.nextInt(10) < 6) 0.0 else 1.0
      val feats = Array.tabulate(8)(k =>
        rnd.nextInt(3).toDouble + (if (k == label.toInt) 2.0 else 0.0))
      (label, Vectors.dense(feats))
    }.toDF("label", "features").coalesce(1).persist()
    try {
      val r = TweetPipeline.trainEval("nb", featurized, seed = 5L)
      val Array(training, testing) =
        featurized.randomSplit(Array(0.8, 0.2), 5L)
      val model = new NaiveBayes().setModelType("multinomial").fit(training)
      assert((r.accuracy, r.f1) == evaluate(model.transform(testing)))
      assert(r.trainN + r.testN == 300L)
    } finally featurized.unpersist()
  }
}
