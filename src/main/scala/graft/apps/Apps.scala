package graft.apps

import org.apache.spark.sql.{Dataset, SparkSession}
import graft.core.{Csv, Sessions, Sinks}
import graft.features.RddPipeline
import graft.gd._
import graft.ml.TweetPipeline

/** Runnable CLI mains mirroring the reference scripts' argv contract
  * (`<input> [<output>]`, README.md:111-142). Stack A apps print the
  * same results block as `LogisticRegression.py:120-126`; Stack B apps
  * additionally persist the per-iteration cost curve as a single text
  * file (S5), same layout as the reference's `out/<run>/part-00000`.
  *
  * Pin lifecycle: the `.persist()`s below mirror the reference
  * scripts' `cache()` calls and live for the app's whole run — each
  * main is a one-shot spark-submit process whose `spark.stop()`/exit
  * frees all storage, so no scoped release is needed (the
  * core/Pinned contract applies to LIBRARY operators, not one-shot
  * drivers).
  */
private object AppUtil {
  def session(name: String): SparkSession = Sessions.local(name)

  def printResults(tag: String, acc: Double, f1: Double,
                   trainSec: Double, testSec: Double): Unit = {
    println(s"\n============== $tag ==============\n")
    println(f"Accuracy of model was: %%${acc * 100}%2.2f%n")
    println(f"f1 score of model was: %%${f1 * 100}%2.2f%n")
    println(f"- Train time = ${trainSec}%.4f%n")
    println(f"- Test time = ${testSec}%.4f%n")
  }

  def stackA(algos: Seq[(String, String)], args: Array[String],
             usage: String): Unit = {
    require(args.length >= 1, usage)
    val spark = session("graft-" + algos.head._1)
    val featurized = TweetPipeline.featurize(Csv.tweets(spark, args(0)))
    algos.foreach { case (algo, tag) =>
      val r = TweetPipeline.trainEval(algo, featurized)
      printResults(tag, r.accuracy, r.f1, r.trainSec, r.testSec)
    }
    spark.stop()
  }

  /** Stack B's split (`randomSplit(0.8, 0.2)`, seed 123), both sides
    * persisted; training is coalesced to 8 partitions because 300
    * iteration-jobs × 32 near-empty tasks is pure scheduler overhead
    * at this data size.
    */
  def split(data: Dataset[SparseDoc])
      : (Dataset[SparseDoc], Dataset[SparseDoc]) = {
    val Array(training, testing) =
      data.randomSplit(Array(0.8, 0.2), seed = 123L)
    (training.coalesce(8).persist(), testing.persist())
  }

  /** Seeded stand-in for `np.random.normal(0, 0.1, dim)`
    * (`LR_Optimizers.py:130`) — numpy RNG parity is impossible
    * (SURVEY.md §7 #2), so we pin our own seed.
    */
  def normalInit(dim: Int, seed: Long): Array[Double] = {
    val rng = new scala.util.Random(seed)
    Array.fill(dim)(rng.nextGaussian() * 0.1)
  }
}

/** SURVEY §7's minimum end-to-end slice: scan → UDF-free transform →
  * aggregates, reproducing Part1.ipynb cells 15/17/20/21 (class
  * counts 4342/3271 and per-class averages) from `train.csv`.
  */
object TweetStatsApp {
  def main(args: Array[String]): Unit = {
    require(args.length >= 1, "Usage: TweetStatsApp <file>")
    val spark = AppUtil.session("graft-tweet-stats")
    import org.apache.spark.sql.functions._
    val prepared = TweetPipeline.prepare(Csv.tweets(spark, args(0)))
      .persist()
    prepared.groupBy("class").count().orderBy("class").show()
    prepared.groupBy("class")
      .agg(avg("length"), avg("tokens"), avg("filtered_tokens"))
      .orderBy("class").show()
    spark.stop()
  }
}

/** `LogisticRegression.py <file>` — Stack A ML LR, regParam 1.25. */
object LogisticRegressionApp {
  def main(args: Array[String]): Unit =
    AppUtil.stackA(Seq("lr" -> "Results:"), args,
      "Usage: LogisticRegressionApp <file>")
}

/** `NaiveBayes.py <file>` — multinomial NB. */
object NaiveBayesApp {
  def main(args: Array[String]): Unit =
    AppUtil.stackA(Seq("nb" -> "Results:"), args,
      "Usage: NaiveBayesApp <file>")
}

/** `SVM.py <file>` — LinearSVC maxIter 100, regParam 1.2. */
object SvmApp {
  def main(args: Array[String]): Unit =
    AppUtil.stackA(Seq("svc" -> "Results:"), args,
      "Usage: SvmApp <file>")
}

/** `Trees.py <file>` — DecisionTree, RandomForest, GBT (defaults). */
object TreesApp {
  def main(args: Array[String]): Unit =
    AppUtil.stackA(Seq("dt" -> "DecisionTree", "rf" -> "RandomForest",
      "gbt" -> "GBT"), args, "Usage: TreesApp <file>")
}

/** `RDD_logisticregression.py <file> <output>` — Stack B LR: zeros
  * init, 300 iters, lr 0.01, L2 λ=1.15, bold driver, seed-123 split.
  */
object RddLogisticRegressionApp {
  def main(args: Array[String]): Unit = {
    require(args.length == 2,
      "Usage: RddLogisticRegressionApp <file> <output>")
    val spark = AppUtil.session("graft-rdd-lr")
    val f = RddPipeline.featurize(spark, args(0), dim = 10000)

    println("\nTop 50 words in all Tweets:\n" + "-" * 100)
    f.vocab.orderBy(org.apache.spark.sql.functions.col("id")).show(50)

    val (training, testing) = AppUtil.split(f.data)
    println(s"Training data count ${training.count()}")
    println(s"Testing data count ${testing.count()}")

    val t0 = System.nanoTime()
    val res = GradientDescent.run(training, dim = 10000, LogisticLoss,
      GradientDescent.Config(iterations = 300, learningRate = 0.01,
        optimizer = "SGD", reg = GradientDescent.L2(1.15)))
    val trainSec = (System.nanoTime() - t0) / 1e9

    val top5 = GradientDescent.top5Coeff(res.coef)
    println("\nThe top 5 words with largest coefficients:\n" + "-" * 100)
    println(RddPipeline.wordsFor(f.vocab, top5))

    val t1 = System.nanoTime()
    val c = Predict.evaluate(testing, res.coef)
    AppUtil.printResults("Results:", c.accuracy, c.f1, trainSec,
      (System.nanoTime() - t1) / 1e9)

    Sinks.costCurve(spark, res.costs.toSeq, args(1))
    spark.stop()
  }
}

/** `LR_Optimizers.py <file> <outputPrefix>` — the 6-optimizer zoo:
  * 200 iters, seeded normal(0, 0.1) init, curve saved per optimizer
  * to `<outputPrefix><name>` (same naming as `out/optimizer:SGD`).
  */
object LrOptimizersApp {
  val All = Seq("SGD", "Momentum", "Nesterov", "Adam", "Adagrad",
    "RMSprop")

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "Usage: LrOptimizersApp <file> <outputPrefix> [optimizer ...]")
    val opts = if (args.length > 2) args.drop(2).toSeq else All
    val spark = AppUtil.session("graft-lr-optimizers")
    val f = RddPipeline.featurize(spark, args(0), dim = 10000)
    val (training, testing) = AppUtil.split(f.data)
    val init = AppUtil.normalInit(10000, seed = 123L)
    opts.foreach { opt =>
      val res = GradientDescent.run(training, 10000, LogisticLoss,
        GradientDescent.Config(iterations = 200, learningRate = 0.01,
          optimizer = opt, reg = GradientDescent.L2(1.15),
          initialCoef = Some(init)))
      val c = Predict.evaluate(testing, res.coef)
      AppUtil.printResults(s"Results ($opt):", c.accuracy, c.f1, 0, 0)
      Sinks.costCurve(spark, res.costs.toSeq, args(1) + opt)
    }
    spark.stop()
  }
}

/** `SVM_Optimizers.py <file> <outputPrefix>` — the optimizer zoo over
  * hinge loss + SvmNorm reg (`SVM_Optimizers.py:148-185`), curve per
  * optimizer; no early stop (commented out in the reference).
  */
object SvmOptimizersApp {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "Usage: SvmOptimizersApp <file> <outputPrefix> [optimizer ...]")
    val opts = if (args.length > 2) args.drop(2).toSeq
      else LrOptimizersApp.All
    val spark = AppUtil.session("graft-svm-optimizers")
    val f = RddPipeline.featurize(spark, args(0), dim = 10000)
    val (training, testing) = AppUtil.split(f.data)
    val init = AppUtil.normalInit(10000, seed = 123L)
    val lambda = 1.0 / (0.5 * f.numberOfTweets)
    opts.foreach { opt =>
      val res = GradientDescent.run(training, 10000, HingeLoss,
        GradientDescent.Config(iterations = 200, learningRate = 0.01,
          optimizer = opt, reg = GradientDescent.SvmNorm(lambda),
          initialCoef = Some(init)))
      val c = Predict.evaluate(testing, res.coef)
      AppUtil.printResults(s"Results ($opt):", c.accuracy, c.f1, 0, 0)
      Sinks.costCurve(spark, res.costs.toSeq, args(1) + opt)
    }
    spark.stop()
  }
}

/** `RDD_SVM.py <file> <output>` — hinge loss, 200 iters, λ=1/(c·n)
  * with c=0.5 and n = ALL docs (`RDD_SVM.py:201` passes the full
  * count, not the train count), early stop at |Δcost| ≤ 1e-4.
  */
object RddSvmApp {
  def main(args: Array[String]): Unit = {
    require(args.length == 2, "Usage: RddSvmApp <file> <output>")
    val spark = AppUtil.session("graft-rdd-svm")
    val f = RddPipeline.featurize(spark, args(0), dim = 10000)
    val (training, testing) = AppUtil.split(f.data)
    val lambda = 1.0 / (0.5 * f.numberOfTweets)
    val res = GradientDescent.run(training, 10000, HingeLoss,
      GradientDescent.Config(iterations = 200, learningRate = 0.01,
        optimizer = "SGD", reg = GradientDescent.SvmNorm(lambda),
        earlyStopDelta = Some(1e-4),
        initialCoef = Some(AppUtil.normalInit(10000, 123L))))
    val top5 = GradientDescent.top5Coeff(res.coef)
    println("\nThe top 5 words with largest coefficients:\n" + "-" * 100)
    println(RddPipeline.wordsFor(f.vocab, top5))
    val c = Predict.evaluate(testing, res.coef)
    AppUtil.printResults("Results:", c.accuracy, c.f1, 0, 0)
    Sinks.costCurve(spark, res.costs.toSeq, args(1))
    spark.stop()
  }
}

/** `RDD_NN.py <file> <output>` — 1000→128→2 net on the disaster-only
  * dictionary, SGD and Adam runs, curves saved to `<output>_SGD` /
  * `<output>_Adam` (reference: `out/NN_rdd_SGD`, `out/NN_rdd_Adam`).
  */
object RddNnApp {
  def main(args: Array[String]): Unit = {
    require(args.length == 2, "Usage: RddNnApp <file> <output>")
    val spark = AppUtil.session("graft-rdd-nn")
    val f = RddPipeline.featurize(spark, args(0), dim = 1000,
      dictFilter = Some("1"))
    val (training, testing) = AppUtil.split(f.data)
    Seq("SGD", "Adam").foreach { opt =>
      val res = TwoLayerNet.train(training,
        TwoLayerNet.Config(optimizer = opt))
      val c = TwoLayerNet.evaluate(testing, res.params)
      AppUtil.printResults(s"Results ($opt):", c.accuracy, c.f1, 0, 0)
      Sinks.costCurve(spark, res.costs.toSeq, args(1) + "_" + opt)
    }
    spark.stop()
  }
}
