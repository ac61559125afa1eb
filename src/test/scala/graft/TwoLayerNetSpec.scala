package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.gd.{Predict, SparseDoc, TwoLayerNet}

/** Golden tests for the 2-layer net (SURVEY.md §2.8 F10/F11, §2.11
  * L3): expected cost curves and final parameters computed with numpy
  * implementing `RDD_NN.py:110-301` verbatim — forward/Lrelu/sigmoid/
  * SSE, the 4 backprop partials, grad÷n scaling, bold driver on the
  * averaged cost, and the reference's `optimizer_adam` including its
  * raw-DB bias second moment + sqrt(abs(·)) quirk (`RDD_NN.py:198`).
  */
class TwoLayerNetSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val nIn = 6; val nH = 4; val nOut = 2

  def fixtureDocs: Seq[SparseDoc] = Seq(
    SparseDoc("a", 1.0, Array(0, 2, 4), Array(0.5, 0.25, 0.125)),
    SparseDoc("b", 0.0, Array(1, 3), Array(0.4, 0.2)),
    SparseDoc("c", 1.0, Array(0, 1, 5), Array(0.3, 0.1, 0.6)),
    SparseDoc("d", 0.0, Array(2, 4, 5), Array(0.7, 0.35, 0.05)))

  lazy val golden: Map[String, Array[Double]] = {
    val src = scala.io.Source.fromInputStream(
      getClass.getResourceAsStream("/nn_golden.txt"))
    try src.getLines().map { line =>
      val parts = line.split(" ")
      parts.head -> parts.tail.map(_.toDouble)
    }.toMap
    finally src.close()
  }

  def initParams = TwoLayerNet.Params(
    golden("init.w1").clone(), golden("init.b1").clone(),
    golden("init.w2").clone(), golden("init.b2").clone())

  def ds = {
    import spark.implicits._
    spark.createDataset(fixtureDocs).coalesce(1)
  }

  def close(g: Double, e: Double): Boolean =
    math.abs(g - e) <= 1e-9 * math.max(1.0, math.abs(e))

  def check(opt: String): Unit = {
    val res = TwoLayerNet.train(ds,
      TwoLayerNet.Config(nIn = nIn, nHidden = nH, nOut = nOut,
        iterations = 6, learningRate = 0.05, optimizer = opt),
      initial = Some(initParams))
    golden(s"$opt.costs").zip(res.costs).zipWithIndex.foreach {
      case ((e, g), i) => assert(close(g, e), s"$opt cost[$i] $g vs $e")
    }
    for ((name, got, exp) <- Seq(
        ("w1", res.params.w1, golden(s"$opt.w1")),
        ("b1", res.params.b1, golden(s"$opt.b1")),
        ("w2", res.params.w2, golden(s"$opt.w2")),
        ("b2", res.params.b2, golden(s"$opt.b2"))))
      got.zip(exp).zipWithIndex.foreach { case ((g, e), i) =>
        assert(close(g, e), s"$opt $name[$i] $g vs $e")
      }
  }

  test("L3 SGD training matches the numpy reference") { check("SGD") }
  test("L3 Adam (raw-DB bias second moment) matches") { check("Adam") }

  test("predict: argmax of the forward pass (sigmoid monotone)") {
    val p = initParams
    val preds = fixtureDocs.map(d =>
      TwoLayerNet.predict(d, p, nH, nOut))
    assert(preds.forall(p => p == 0 || p == 1))
  }

  test("evaluate ≡ broadcast → predict → Predict.confusion, widths " +
      "from the params") {
    import spark.implicits._
    // 2 → 3 → 2: input 0 drives output 1 and input 1 drives output 0,
    // so each crafted doc lands in the cell its id names
    val p = TwoLayerNet.Params(
      w1 = Array(1.0, 0.0, 0.0, 0.0, 1.0, 0.0), b1 = Array(0.0, 0.0, 0.0),
      w2 = Array(0.0, 1.0, 1.0, 0.0, 0.0, 0.0), b2 = Array(0.0, 0.0))
    val data = spark.createDataset(Seq(
      SparseDoc("tp", 1.0, Array(0), Array(1.0)),
      SparseDoc("tp2", 1.0, Array(0, 1), Array(3.0, 1.0)),
      SparseDoc("fp", 0.0, Array(0), Array(2.0)),
      SparseDoc("tn", 0.0, Array(1), Array(1.0)),
      SparseDoc("fn", 1.0, Array(1), Array(0.5)))).repartition(2)
    val bc = spark.sparkContext.broadcast(p)
    val hand = Predict.confusion(data.map(d => (d.id, d.label.toInt,
        TwoLayerNet.predict(d, bc.value, 3, 2))).toDF("id", "y", "pred"))
    bc.destroy()
    assert(hand == Predict.Confusion(tp = 2, tn = 1, fp = 1, fn = 1))
    assert(TwoLayerNet.evaluate(data, p) == hand)
  }
}
