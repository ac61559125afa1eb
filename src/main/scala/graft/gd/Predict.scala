package graft.gd

import scala.reflect.ClassTag
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Prediction + metrics for the hand-rolled GD models (SURVEY.md §2.8
  * F8/F9/F13, §2.4 A9).
  *
  * The reference maps each row to a (tp,tn,fp,fn) one-hot tuple and
  * pairwise-reduces (`RDD_logisticregression.py:177-189,228-231`);
  * here the confusion matrix is one conditional-sum hash aggregate —
  * a single distributed pass, combines map-side, constant driver
  * traffic at any scale.
  */
object Predict {

  final case class Confusion(tp: Long, tn: Long, fp: Long, fn: Long) {
    /** F13 (`RDD_logisticregression.py:233-234`). */
    def f1: Double = tp / (tp + 0.5 * (fp + fn))
    def accuracy: Double = (tp + tn).toDouble / (tp + tn + fp + fn)
    def total: Long = tp + tn + fp + fn
  }

  /** A9/F9 in one pass: 4 conditional sums. */
  def confusion(pred: DataFrame, yCol: String = "y",
                predCol: String = "pred"): Confusion = {
    val y = col(yCol); val p = col(predCol)
    val r = pred.agg(
      sum(when(y === 1 && p === 1, 1L).otherwise(0L)),
      sum(when(y === 0 && p === 0, 1L).otherwise(0L)),
      sum(when(y === 0 && p === 1, 1L).otherwise(0L)),
      sum(when(y === 1 && p === 0, 1L).otherwise(0L))).head()
    Confusion(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
  }

  /** F8 → confusion: label 1 iff x·coef > 0
    * (`RDD_logisticregression.py:177-181`).
    */
  def evaluate(ds: Dataset[SparseDoc], coef: Array[Double]): Confusion =
    confusionOf(ds, coef)((d, c) => if (d.dot(c) > 0) 1 else 0)

  /** Broadcasts `model`, labels each row with `label` and counts the
    * confusion matrix in one pass; the broadcast is destroyed after it.
    */
  private[gd] def confusionOf[M: ClassTag](ds: Dataset[SparseDoc],
      model: M)(label: (SparseDoc, M) => Int): Confusion = {
    val spark = ds.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(model)
    try confusion(ds.map(d => (d.id, d.label.toInt, label(d, bc.value)))
      .toDF("id", "y", "pred"))
    finally bc.destroy()
  }
}
