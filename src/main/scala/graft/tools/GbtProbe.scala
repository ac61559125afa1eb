package graft.tools

import org.apache.spark.sql.functions._

/** One-off diagnostics for the m06 GBT bench line (round-8 stretch
  * item): where do its ~30 s go, and is the input shape (partition
  * count, feature dim) what spark.ml's tree trainer wants?
  *
  * Usage: runMain graft.tools.GbtProbe
  */
object GbtProbe {
  def main(args: Array[String]): Unit = {
    val spark = graft.core.Sessions.local("graft-gbt-probe",
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "*"))
    def timed[A](tag: String)(f: => A): A = {
      val t0 = System.nanoTime(); val a = f
      println(f"[gbt-probe] $tag ${(System.nanoTime() - t0) / 1e9}%.2f s")
      a
    }
    val nPart = args.headOption.map(_.toInt).getOrElse(0)
    val raw = graft.core.Csv.tweets(spark, graft.core.Csv.TrainCsv)
    val featurized = timed("featurize+persist") {
      val f0 = graft.ml.TweetPipeline.featurize(raw)
      if (nPart > 0) {
        val df = f0.repartition(nPart).persist()
        df.count(); f0.unpersist(); df
      } else f0
    }
    println(s"[gbt-probe] featurized partitions=" +
      featurized.rdd.getNumPartitions)
    val dim = featurized.select(col("features")).head()
      .getAs[org.apache.spark.ml.linalg.Vector](0).size
    println(s"[gbt-probe] feature dim=$dim")
    val Array(training, testing) =
      featurized.randomSplit(Array(0.8, 0.2), 123L)
    println(s"[gbt-probe] train partitions=${training.rdd.getNumPartitions}")
    val model = timed("gbt fit") {
      new org.apache.spark.ml.classification.GBTClassifier().fit(training)
    }
    println(s"[gbt-probe] trees=${model.getNumTrees} " +
      s"totalNodes=${model.trees.map(_.numNodes).sum} " +
      s"weightsHash=${model.treeWeights.toSeq.hashCode} " +
      s"structHash=${model.trees.map(_.toDebugString).mkString.hashCode}")
    val model2 = timed("gbt fit (repeat)") {
      new org.apache.spark.ml.classification.GBTClassifier().fit(training)
    }
    println(s"[gbt-probe] repeat structHash=" +
      s"${model2.trees.map(_.toDebugString).mkString.hashCode} " +
      s"same=${model2.trees.map(_.toDebugString).mkString ==
        model.trees.map(_.toDebugString).mkString}")
    val svc = timed("svc fit") {
      new org.apache.spark.ml.classification.LinearSVC()
        .setMaxIter(100).setRegParam(1.2).fit(training)
    }
    println(s"[gbt-probe] svc coefHash=${svc.coefficients.toArray.toSeq.hashCode}")
    timed("transform+eval") {
      val pred = model.transform(testing).persist()
      val ev = new org.apache.spark.ml.evaluation
        .MulticlassClassificationEvaluator()
        .setPredictionCol("prediction").setLabelCol("label")
      println(f"[gbt-probe] acc=${ev.setMetricName("accuracy").evaluate(pred)}%.6f")
      pred.unpersist()
    }
    spark.stop()
  }
}
