package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.gd._

/** Round-15 bounded local finish for the RDD trainers
  * ([[GradientDescent.runRdd]], [[TwoLayerNet.trainRdd]]): below the
  * rows+bytes driver bound the 300 iteration-jobs run in-process over
  * a glom-collected copy that preserves partition structure, merging
  * partials in partition-index order. That order is ONE of the
  * arrival orders the distributed reduce produces nondeterministically,
  * so local and forced-distributed results must agree to the same
  * rtol the committed goldens use (1e-9 — far tighter than the gate's
  * 1e-6 bands).
  *
  * Also pins which path runs, by counting how often the input's rows
  * are computed: the default path reads them twice (the rows/bytes job
  * and the one collect), `localFinishRows = 0` once per iteration —
  * and, for GD, skips the rows/bytes job. The bounds themselves are
  * spec'd in LocalFinishSpec. Both trainers run on [[FullBatch]], whose
  * distributed combine adds a tree level above 16 partitions; the
  * 20-partition case covers it.
  */
class GdLocalParitySpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val Dim = 300

  def docs(n: Int, seed: Int): Seq[SparseDoc] = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map { i =>
      val nnz = 3 + rnd.nextInt(12)
      val idx = Array.fill(nnz * 2)(rnd.nextInt(Dim))
        .distinct.sorted.take(nnz)
      SparseDoc(s"doc$i", (i % 2).toDouble, idx,
        Array.fill(idx.length)(rnd.nextDouble()))
    }
  }

  def relEq(a: Double, b: Double, tag: String): Unit =
    assert(math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b)),
      s"$tag: $a vs $b")

  def arrEq(a: Array[Double], b: Array[Double], tag: String): Unit = {
    assert(a.length == b.length, tag)
    var k = 0
    while (k < a.length) { relEq(a(k), b(k), s"$tag[$k]"); k += 1 }
  }

  test("GD local finish ≡ distributed: SGD + L2, empty partitions included") {
    import spark.implicits._
    // 7 partitions over 40 docs: uneven, and repartition keeps some
    // partitions small; the n=5/parts=7 variant below forces empties
    val ds = spark.createDataset(docs(40, 11)).repartition(7).persist()
    val cfg = GradientDescent.Config(iterations = 20,
      learningRate = 0.05, optimizer = "SGD",
      reg = GradientDescent.L2(0.7))
    val local = GradientDescent.run(ds, Dim, LogisticLoss, cfg)
    val dist = GradientDescent.run(ds, Dim, LogisticLoss, cfg,
      localFinishRows = 0L)
    arrEq(local.costs, dist.costs, "sgd costs")
    arrEq(local.coef, dist.coef, "sgd coef")
    ds.unpersist()
  }

  test("GD local finish ≡ distributed: Adam + hinge, forced empties") {
    import spark.implicits._
    val ds = spark.createDataset(docs(5, 23)).repartition(7).persist()
    val cfg = GradientDescent.Config(iterations = 15,
      learningRate = 0.02, optimizer = "Adam",
      reg = GradientDescent.SvmNorm(0.5))
    val local = GradientDescent.run(ds, Dim, HingeLoss, cfg)
    val dist = GradientDescent.run(ds, Dim, HingeLoss, cfg,
      localFinishRows = 0L)
    arrEq(local.costs, dist.costs, "adam costs")
    arrEq(local.coef, dist.coef, "adam coef")
    ds.unpersist()
  }

  /** `train` over an unpersisted 3-partition RDD of `n` docs; returns
    * how many times its rows were computed.
    */
  def rowReads(n: Int)(
      train: org.apache.spark.rdd.RDD[SparseDoc] => Unit): Long = {
    val reads = spark.sparkContext.longAccumulator("rowReads")
    val d = docs(n, 31)
    train(spark.sparkContext.parallelize(d, 3).map { x => reads.add(1); x })
    reads.sum
  }

  test("GD path by row reads: override 0 skips the rows/bytes job") {
    val cfg = GradientDescent.Config(iterations = 10,
      learningRate = 0.05)
    assert(rowReads(30)(GradientDescent.runRdd(_, Dim, LogisticLoss,
      cfg)) == 2 * 30)
    assert(rowReads(30)(GradientDescent.runRdd(_, Dim, LogisticLoss,
      cfg, localFinishRows = 0L)) == 10 * 30)
    assert(rowReads(30)(GradientDescent.runRdd(_, Dim, LogisticLoss,
      cfg, localFinishRows = 29L)) == 30 + 10 * 30)
  }

  test("NN local finish ≡ distributed: SGD and Adam, params + curves") {
    import spark.implicits._
    val cfg0 = TwoLayerNet.Config(nIn = Dim, nHidden = 16, nOut = 2,
      iterations = 12, learningRate = 0.01, seed = 99L)
    val ds = spark.createDataset(docs(60, 47)).repartition(5).persist()
    for (opt <- Seq("SGD", "Adam")) {
      val cfg = cfg0.copy(optimizer = opt)
      val local = TwoLayerNet.train(ds, cfg)
      val dist = TwoLayerNet.train(ds, cfg, localFinishRows = 0L)
      arrEq(local.costs, dist.costs, s"nn $opt costs")
      arrEq(local.params.w1, dist.params.w1, s"nn $opt w1")
      arrEq(local.params.b1, dist.params.b1, s"nn $opt b1")
      arrEq(local.params.w2, dist.params.w2, s"nn $opt w2")
      arrEq(local.params.b2, dist.params.b2, s"nn $opt b2")
    }
    ds.unpersist()
  }

  test("GD and NN local finish ≡ distributed at 20 partitions (tree " +
      "fan-in)") {
    import spark.implicits._
    // more than 16 partitions: the distributed combine adds a tree level
    val ds = spark.createDataset(docs(90, 53)).repartition(20).persist()
    assert(ds.rdd.getNumPartitions == 20)
    val gdCfg = GradientDescent.Config(iterations = 12,
      learningRate = 0.05, optimizer = "Momentum",
      reg = GradientDescent.L2(0.3))
    val gdLocal = GradientDescent.run(ds, Dim, LogisticLoss, gdCfg)
    val gdDist = GradientDescent.run(ds, Dim, LogisticLoss, gdCfg,
      localFinishRows = 0L)
    arrEq(gdLocal.costs, gdDist.costs, "gd costs")
    arrEq(gdLocal.coef, gdDist.coef, "gd coef")
    val nnCfg = TwoLayerNet.Config(nIn = Dim, nHidden = 12, nOut = 2,
      iterations = 8, learningRate = 0.01, optimizer = "Adam", seed = 5L)
    val nnLocal = TwoLayerNet.train(ds, nnCfg)
    val nnDist = TwoLayerNet.train(ds, nnCfg, localFinishRows = 0L)
    arrEq(nnLocal.costs, nnDist.costs, "nn costs")
    arrEq(nnLocal.params.w1, nnDist.params.w1, "nn w1")
    arrEq(nnLocal.params.b1, nnDist.params.b1, "nn b1")
    arrEq(nnLocal.params.w2, nnDist.params.w2, "nn w2")
    arrEq(nnLocal.params.b2, nnDist.params.b2, "nn b2")
    ds.unpersist()
  }

  test("unknown optimizer: both trainers fail before reading a row") {
    def rejects(train: => Unit): Unit = {
      val e = intercept[IllegalArgumentException](train)
      assert(e.getMessage.contains("unknown optimizer: Nadam"))
    }
    assert(rowReads(20)(rdd => rejects(GradientDescent.runRdd(rdd, Dim,
      LogisticLoss, GradientDescent.Config(optimizer = "Nadam")))) == 0)
    assert(rowReads(20)(rdd => rejects(TwoLayerNet.trainRdd(rdd,
      TwoLayerNet.Config(nIn = Dim, nHidden = 8, optimizer = "Nadam")))) == 0)
  }

  test("local pool: its threads end after a run and after a partial " +
      "throws") {
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[Thread]()
    def recording(fail: Boolean): Loss = new Loss {
      def accumulate(doc: SparseDoc, coef: Array[Double],
                     grad: Array[Double]): Double = {
        seen.add(Thread.currentThread())
        if (fail) throw new IllegalStateException("partial failed")
        LogisticLoss.accumulate(doc, coef, grad)
      }
    }
    def allEnded(): Unit = {
      assert(!seen.isEmpty)
      seen.forEach { t => t.join(10000); assert(!t.isAlive, t.getName) }
      seen.clear()
    }
    val rdd = spark.sparkContext.parallelize(docs(40, 61), 6)
    val cfg = GradientDescent.Config(iterations = 3, learningRate = 0.05)
    GradientDescent.runRdd(rdd, Dim, recording(fail = false), cfg)
    allEnded()
    val e = intercept[IllegalStateException](
      GradientDescent.runRdd(rdd, Dim, recording(fail = true), cfg))
    assert(e.getMessage == "partial failed")
    allEnded()
  }

  test("NN path by row reads: default collects once, override 0 iterates") {
    val cfg = TwoLayerNet.Config(nIn = Dim, nHidden = 8, nOut = 2,
      iterations = 6, learningRate = 0.01, seed = 7L)
    assert(rowReads(20)(TwoLayerNet.trainRdd(_, cfg)) == 2 * 20)
    assert(rowReads(20)(TwoLayerNet.trainRdd(_, cfg,
      localFinishRows = 0L)) == 20 + 6 * 20)
  }
}
