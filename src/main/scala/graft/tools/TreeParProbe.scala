package graft.tools

import org.apache.spark.ml.Transformer
import org.apache.spark.ml.evaluation.MulticlassClassificationEvaluator

/** Round-14 probe: would repartitioning the TRAINING side (after the
  * seeded split — membership unchanged) change the fitted dt/rf/gbt
  * models?  Round 9's GbtProbe repartitioned the shared featurized
  * frame BEFORE randomSplit (different split membership + 3.4× SVC
  * slowdown) and was rightly rejected; this probe answers the narrower
  * question: same training rows, different partition layout — are the
  * split thresholds (findSplits samples all rows when n < 10k), bin
  * stats (integer class counts), and therefore accuracy/f1 doubles
  * bit-identical, and is the wall time better?
  *
  * Usage: runMain graft.tools.TreeParProbe [algos] [parts]
  */
object TreeParProbe {
  def main(args: Array[String]): Unit = {
    val algos = args.headOption.map(_.split(",").toSeq)
      .getOrElse(Seq("dt", "rf", "gbt"))
    val parts = args.drop(1).headOption.map(_.toInt).getOrElse(8)
    val spark = graft.core.Sessions.local("graft-treepar-probe",
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "*"))
    val raw = graft.core.Csv.tweets(spark, graft.core.Csv.TrainCsv)
    val featurized = graft.ml.TweetPipeline.featurize(raw)
    val Array(training, testing) =
      featurized.randomSplit(Array(0.8, 0.2), 123L)
    val tr1 = training.persist(); tr1.count()
    val trN = training.repartition(parts).persist(); trN.count()
    val te = testing.persist(); te.count()
    val ev = new MulticlassClassificationEvaluator()
      .setPredictionCol("prediction").setLabelCol("label")
    def run(algo: String, df: org.apache.spark.sql.DataFrame,
            tag: String): (Double, Double, Double, Int) = {
      val t0 = System.nanoTime()
      val model = graft.ml.TweetPipeline.classifier(algo).fit(df)
        .asInstanceOf[Transformer]
      val sec = (System.nanoTime() - t0) / 1e9
      val pred = model.transform(te).persist()
      val acc = ev.setMetricName("accuracy").evaluate(pred)
      val f1 = ev.setMetricName("f1").evaluate(pred)
      pred.unpersist()
      val structHash = model match {
        case m: org.apache.spark.ml.classification.DecisionTreeClassificationModel =>
          m.toDebugString.hashCode
        case m: org.apache.spark.ml.classification.RandomForestClassificationModel =>
          m.trees.map(_.toDebugString).mkString.hashCode
        case m: org.apache.spark.ml.classification.GBTClassificationModel =>
          (m.trees.map(_.toDebugString).mkString +
            m.treeWeights.mkString(",")).hashCode
        case _ => 0
      }
      println(f"[treepar] $algo/$tag fit=$sec%.2f s acc=$acc%.17g " +
        f"f1=$f1%.17g struct=$structHash")
      (sec, acc, f1, structHash)
    }
    for (algo <- algos) {
      val a1 = run(algo, tr1, "p1-run1")
      val a2 = run(algo, tr1, "p1-run2")
      val b1 = run(algo, trN, s"p$parts-run1")
      val b2 = run(algo, trN, s"p$parts-run2")
      val same = a1._2 == b1._2 && a1._3 == b1._3 && a1._4 == b1._4 &&
        b1._4 == b2._4 && a1._4 == a2._4
      println(s"[treepar] $algo VERDICT: bitIdentical=$same " +
        f"speedup=${a1._1 / b1._1}%.2fx (${a1._1}%.2f -> ${b1._1}%.2f s)")
    }
    spark.stop()
  }
}
