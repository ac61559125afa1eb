package graft.gd

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.Dataset
import graft.core.LocalFinish

/** The reference's 2-layer network (`RDD_NN.py:119-301`, SURVEY.md
  * §2.11 L3): in → hidden leaky-ReLU → 2 sigmoid outputs, SSE cost,
  * full-batch GD with SGD or the reference's Adam variant, on the one
  * full-batch loop [[FullBatch]].
  *
  * The reference splits forward+backward into 11 chained `.map`
  * stages (pedagogy); here one fused function runs per row — a single
  * pass, no intermediate tuples. Gradients are accumulated into flat
  * per-partition buffers (nIn·nHidden + nHidden + nHidden·nOut + nOut
  * doubles).
  *
  * Reference quirks kept for parity (SURVEY.md §7 #1):
  * `optimizer_adam` updates the bias second-moment with the *raw*
  * gradient `DB`, not `DB²` (`RDD_NN.py:198`), and compensates with
  * `sqrt(abs(v_b_))`; epsilon = 10e-8 = 1e-7.
  */
object TwoLayerNet {

  case class Params(w1: Array[Double], b1: Array[Double],
                    w2: Array[Double], b2: Array[Double])

  case class Config(
      nIn: Int = 1000, nHidden: Int = 128, nOut: Int = 2,
      iterations: Int = 300, learningRate: Double = 0.001,
      optimizer: String = "SGD", seed: Long = 123L)

  def init(cfg: Config): Params = {
    val rng = new scala.util.Random(cfg.seed)
    def unif(n: Int) = Array.fill(n)(rng.nextDouble() - 0.5)
    Params(unif(cfg.nIn * cfg.nHidden), unif(cfg.nHidden),
      unif(cfg.nHidden * cfg.nOut), unif(cfg.nOut))
  }

  @inline private def sigmoid(x: Double): Double = 1.0 / (1.0 + math.exp(-x))

  /** Per-partition row scratch: every buffer `rowCostGrad` needs is
    * either fully overwritten (h, yh via arraycopy, db1, db2, yt) or
    * reset from the params (hh) before use, so reuse across rows is
    * bit-identical to fresh allocation — it just stops the hot loop
    * from allocating ~400 doubles per row × rows × iterations
    * (guide §1.2 step 2: per-task work; the GC debt was the
    * measurable cost, see OPTIMIZATION_r14.md m08).
    */
  private[gd] final class RowScratch(nH: Int, nOut: Int) {
    val yt = new Array[Double](nOut)
    val hh = new Array[Double](nH)
    val h = new Array[Double](nH)
    val yh = new Array[Double](nOut)
    val db2 = new Array[Double](nOut)
    val db1 = new Array[Double](nH)
  }

  /** Fused forward+backward for one row; returns the row's SSE cost
    * and adds its gradients into the buffers.
    */
  private[gd] def rowCostGrad(doc: SparseDoc, p: Params,
      nIn: Int, nH: Int, nOut: Int,
      dW1: Array[Double], dB1: Array[Double],
      dW2: Array[Double], dB2: Array[Double],
      scr: RowScratch): Double = {
    // one-hot: label 1 → [0,1], else [1,0] (RDD_NN.py:111-116)
    val yt = scr.yt
    if (doc.label == 1.0) { yt(0) = 0.0; yt(1) = 1.0 }
    else { yt(0) = 1.0; yt(1) = 0.0 }

    val hh = scr.hh
    System.arraycopy(p.b1, 0, hh, 0, nH)
    var k = 0
    while (k < doc.indices.length) {
      val xi = doc.values(k)
      val row = doc.indices(k) * nH
      var j = 0
      while (j < nH) { hh(j) += xi * p.w1(row + j); j += 1 }
      k += 1
    }
    val h = scr.h
    var j = 0
    while (j < nH) { h(j) = if (hh(j) >= 0) hh(j) else 0.01 * hh(j); j += 1 }

    val yh = scr.yh
    System.arraycopy(p.b2, 0, yh, 0, nOut)
    j = 0
    while (j < nH) {
      val hj = h(j)
      var o = 0
      while (o < nOut) { yh(o) += hj * p.w2(j * nOut + o); o += 1 }
      j += 1
    }

    var cost = 0.0
    val db2 = scr.db2
    var o = 0
    while (o < nOut) {
      val yp = sigmoid(yh(o))
      val diff = yp - yt(o)
      cost += 0.5 * diff * diff
      val s = sigmoid(yh(o))
      db2(o) = diff * s * (1 - s) // dEB2 with der_sigmoid(y_h)
      dB2(o) += db2(o)
      o += 1
    }

    val db1 = scr.db1
    j = 0
    while (j < nH) {
      var acc = 0.0
      o = 0
      while (o < nOut) {
        acc += db2(o) * p.w2(j * nOut + o)
        dW2(j * nOut + o) += h(j) * db2(o)
        o += 1
      }
      db1(j) = acc * (if (hh(j) >= 0) 1.0 else 0.01) // der_Lrelu
      dB1(j) += db1(j)
      j += 1
    }

    k = 0
    while (k < doc.indices.length) {
      val xi = doc.values(k)
      val row = doc.indices(k) * nH
      j = 0
      while (j < nH) { dW1(row + j) += xi * db1(j); j += 1 }
      k += 1
    }
    cost
  }

  /** Reference Adam variant for a (weights, bias) pair
    * (`RDD_NN.py:179-211`).
    */
  private final class AdamState(n: Int) {
    val m = new Array[Double](n)
    val v = new Array[Double](n)
  }

  private def adamUpdate(p: Array[Double], g: Array[Double],
      st: AdamState, i: Int, lr: Double, squareGrad: Boolean): Unit = {
    val eps = 10e-8
    val b1 = 0.9
    val b2 = 0.999
    val c1 = 1.0 - math.pow(b1, i + 1)
    val c2 = 1.0 - math.pow(b2, i + 1)
    var k = 0
    while (k < p.length) {
      st.m(k) = b1 * st.m(k) + (1 - b1) * g(k)
      // weights use DW², biases use raw DB (reference bug, kept)
      val vTerm = if (squareGrad) g(k) * g(k) else g(k)
      st.v(k) = b2 * st.v(k) + (1 - b2) * vTerm
      val mHat = st.m(k) / c1
      val vHat = st.v(k) / c2
      p(k) -= lr * mHat / (math.sqrt(math.abs(vHat)) + eps)
      k += 1
    }
  }

  case class Result(params: Params, costs: Array[Double])

  /** A partition's partial: (SSE cost, then the gradient sums for w1,
    * b1, w2 and b2 in the params' layout).
    */
  private type Grads =
    (Double, Array[Double], Array[Double], Array[Double], Array[Double])

  /** The merge: adds `b` into `a`'s arrays. */
  private def addGrads(a: Grads, b: Grads): Grads = {
    def add(x: Array[Double], y: Array[Double]): Array[Double] = {
      var k = 0
      while (k < x.length) { x(k) += y(k); k += 1 }
      x
    }
    (a._1 + b._1, add(a._2, b._2), add(a._3, b._3), add(a._4, b._4),
      add(a._5, b._5))
  }

  def train(data: Dataset[SparseDoc], cfg: Config,
            initial: Option[Params] = None,
            localFinishRows: Long = LocalFinish.MaxRows): Result =
    trainRdd(data.rdd, cfg, initial, localFinishRows)

  /** RDD form — callers that iterate many times should persist the
    * RDD itself (deserialized object cache) so the per-iteration pass
    * reads `SparseDoc`s directly instead of re-decoding the Dataset's
    * cached InternalRows 600 times (guide §1.2 step 2; measured in
    * OPTIMIZATION_r14.md m08).
    *
    * The loop, both of its paths and the local-finish decision are
    * [[FullBatch.run]]'s; the rows/bytes job always runs, because its
    * row count is the 1/n scale. A partition's partial runs
    * `rowCostGrad` over its rows in order into four gradient buffers
    * and a [[RowScratch]], which the local path keeps per partition and
    * zeroes every round (bit-identical to fresh arrays). The merge adds
    * the four arrays index-wise, so both paths sum the same partials
    * and agree up to merge order (GdLocalParitySpec).
    */
  def trainRdd(rdd: RDD[SparseDoc], cfg: Config,
               initial: Option[Params] = None,
               localFinishRows: Long = LocalFinish.MaxRows): Result = {
    val p = initial.getOrElse(init(cfg))
    val nIn = cfg.nIn; val nH = cfg.nHidden; val nOut = cfg.nOut
    var lr = cfg.learningRate
    // chosen before any Spark job, so an unknown name fails without
    // reading the input
    val update: (Grads, Int) => Unit = cfg.optimizer match {
      case "SGD" => (g, _) => {
        def sgd(x: Array[Double], d: Array[Double]): Unit = {
          var k = 0
          while (k < x.length) { x(k) -= lr * d(k); k += 1 }
        }
        sgd(p.w1, g._2); sgd(p.b1, g._3); sgd(p.w2, g._4); sgd(p.b2, g._5)
      }
      case "Adam" =>
        val sW1 = new AdamState(nIn * nH); val sB1 = new AdamState(nH)
        val sW2 = new AdamState(nH * nOut); val sB2 = new AdamState(nOut)
        (g, i) => {
          adamUpdate(p.w1, g._2, sW1, i, lr, squareGrad = true)
          adamUpdate(p.b1, g._3, sB1, i, lr, squareGrad = false)
          adamUpdate(p.w2, g._4, sW2, i, lr, squareGrad = true)
          adamUpdate(p.b2, g._5, sB2, i, lr, squareGrad = false)
        }
      case other =>
        throw new IllegalArgumentException(s"unknown optimizer: $other")
    }
    // rows (the 1/n scale) and the local-finish bytes: one job
    val (rows, estBytes) = SparseDoc.rowsAndBytes(rdd)
    val n = rows.toDouble
    require(n > 0, "empty training set")
    var oldCost = 0.0
    val costs = scala.collection.mutable.ArrayBuffer.empty[Double]
    FullBatch.run(rdd, p, cfg.iterations, localFinishRows,
        (rows, estBytes))(
      () => {
        val w1 = new Array[Double](nIn * nH)
        val b1 = new Array[Double](nH)
        val w2 = new Array[Double](nH * nOut)
        val b2 = new Array[Double](nOut)
        val scr = new RowScratch(nH, nOut)
        (pp: Params, docs: Iterator[SparseDoc]) => {
          java.util.Arrays.fill(w1, 0.0)
          java.util.Arrays.fill(b1, 0.0)
          java.util.Arrays.fill(w2, 0.0)
          java.util.Arrays.fill(b2, 0.0)
          var c = 0.0
          while (docs.hasNext) {
            c += rowCostGrad(docs.next(), pp, nIn, nH, nOut,
              w1, b1, w2, b2, scr)
          }
          (c, w1, b1, w2, b2): Grads
        }
      },
      addGrads) { (total, i) =>
      // n > 0, so some partition is non-empty
      val g = total.get
      val avgCost = g._1 / n
      def scale(a: Array[Double]): Unit = {
        var k = 0
        while (k < a.length) { a(k) /= n; k += 1 }
      }
      scale(g._2); scale(g._3); scale(g._4); scale(g._5)
      update(g, i)
      lr = if (avgCost < oldCost) lr * 1.05 else lr * 0.5
      costs += avgCost
      oldCost = avgCost
      false
    }
    Result(p, costs.toArray)
  }

  /** Confusion counts of [[predict]] over `ds`, with the hidden and
    * output widths read from `p`. The params ship by one broadcast,
    * destroyed after the pass.
    */
  def evaluate(ds: Dataset[SparseDoc], p: Params): Predict.Confusion = {
    val nH = p.b1.length
    val nOut = p.b2.length
    Predict.confusionOf(ds, p)((d, pp) => predict(d, pp, nH, nOut))
  }

  /** argmax(sigmoid(forward(Lrelu(forward(x))))) — `RDD_NN.py:175-177`. */
  def predict(doc: SparseDoc, p: Params, nH: Int, nOut: Int): Int = {
    val hh = p.b1.clone()
    var k = 0
    while (k < doc.indices.length) {
      val xi = doc.values(k)
      val row = doc.indices(k) * nH
      var j = 0
      while (j < nH) { hh(j) += xi * p.w1(row + j); j += 1 }
      k += 1
    }
    val yh = p.b2.clone()
    var j = 0
    while (j < nH) {
      val hj = if (hh(j) >= 0) hh(j) else 0.01 * hh(j)
      var o = 0
      while (o < nOut) { yh(o) += hj * p.w2(j * nOut + o); o += 1 }
      j += 1
    }
    var best = 0
    var o = 1
    while (o < nOut) { if (yh(o) > yh(best)) best = o; o += 1 }
    best
  }
}
