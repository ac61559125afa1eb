package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.core.Csv
import graft.features.RddPipeline
import graft.gd.{GradientDescent, LogisticLoss, Predict}
import graft.ml.TweetPipeline

/** VERDICT r10 ask #2: any pinned literal whose value could depend on
  * the partition layout must be PROVEN layout-independent. The layout
  * variable [[graft.core.Sessions]] ties to the core count is
  * `spark.sql.shuffle.partitions` — exactly what differed between the
  * builder's local[8] gate and the driver's local[32] in the round-10
  * m07 red cell (randomSplit over a shuffle-partitioned frame). This
  * spec runs the pinned gates' layout-sensitive input chains at
  * shuffle.partitions=8 AND 32 inside one session and proves the
  * pinned quantities identical. Master-level evidence (separate JVMs
  * at local[4]/local[8]/local[32], full 300 iterations, 2 runs each)
  * is the `tools.M07Dump` probe recorded in M07Golden's scaladoc;
  * e05's equivalent probe is recorded in E05Oracle's.
  */
class PinLayoutSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[8]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def withShufflePartitions[A](n: Int)(body: => A): A = {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", n.toString)
    try body
    finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  test("m07 chain (featurize → gateSplit → GD → confusion) is " +
      "identical at shuffle.partitions=8 and 32") {
    // 25 iterations instead of the gate's 300: the layout bug class
    // this guards against (split membership / partition order
    // changing with the shuffle-partition count) shows up at ANY
    // iteration count; 300-iter cross-master evidence is the M07Dump
    // probe. Counts must be exactly equal; costs get a 1e-12 relative
    // band (driver-merge arrival jitter is ~1e-16, a layout change
    // would move them at ~1e-3).
    def run(): (Long, Long, Long, Long, Long, Long, Seq[Double]) = {
      val fz = RddPipeline.featurize(spark, Csv.TrainCsv, dim = 10000)
      val (tr, te) = RddPipeline.gateSplit(fz.data)
      val nTr = tr.persist().count()
      val nTe = te.persist().count()
      // disjoint + exhaustive over the featurized corpus (7,610 —
      // TfIdf drops the 3 docs with zero in-vocabulary tokens, so
      // this is numberOfTweets-3)
      assert(nTr + nTe === fz.data.count())
      assert(tr.rdd.getNumPartitions === 8)   // pinned layout
      val res = GradientDescent.run(tr, 10000, LogisticLoss,
        GradientDescent.Config(iterations = 25, learningRate = 0.01,
          optimizer = "SGD", reg = GradientDescent.L2(1.15)))
      val c = Predict.evaluate(te, res.coef)
      val out = (nTr, nTe, c.tp, c.tn, c.fp, c.fn, res.costs.toSeq)
      tr.unpersist(); te.unpersist(); fz.release()
      out
    }
    val a = withShufflePartitions(8)(run())
    val b = withShufflePartitions(32)(run())
    assert(a._1 === b._1, "train_n")
    assert(a._2 === b._2, "test_n")
    assert((a._3, a._4, a._5, a._6) === ((b._3, b._4, b._5, b._6)),
      "confusion counts")
    a._7.zip(b._7).zipWithIndex.foreach { case ((x, y), i) =>
      assert(math.abs(x / y - 1.0) <= 1e-12, s"cost[$i]: $x vs $y")
    }
  }

  test("m01 pinned literals (Stack A LR) are identical at " +
      "shuffle.partitions=8 and 32") {
    // Stack A's split runs over the scan-partitioned featurized frame
    // (not shuffle output), so this should be trivially stable — the
    // spec pins that claim instead of assuming it.
    def run(): (String, Double, Double, Long, Long) = {
      val featurized =
        TweetPipeline.featurize(Csv.tweets(spark, Csv.TrainCsv))
      val r = TweetPipeline.trainEval("lr", featurized)
      featurized.unpersist()
      (r.algo, r.accuracy, r.f1, r.trainN, r.testN)
    }
    val a = withShufflePartitions(8)(run())
    val b = withShufflePartitions(32)(run())
    assert(a === b) // bit-exact doubles — the pinned-literal contract
  }
}
