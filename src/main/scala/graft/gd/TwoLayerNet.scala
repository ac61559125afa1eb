package graft.gd

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.Dataset
import graft.core.LocalFinish

/** The reference's 2-layer network (`RDD_NN.py:119-301`, SURVEY.md
  * §2.11 L3): in → hidden leaky-ReLU → 2 sigmoid outputs, SSE cost,
  * full-batch GD with SGD or the reference's Adam variant.
  *
  * The reference splits forward+backward into 11 chained `.map`
  * stages (pedagogy); here one fused function runs per row inside a
  * depth-2 `treeAggregate` — a single pass, no intermediate tuples.
  * Gradients are accumulated into flat per-partition buffers
  * (nIn·nHidden + nHidden + nHidden·nOut + nOut doubles).
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
    * Bounded local finish ([[graft.core.LocalFinish]]): the state is
    * the training set, measured like [[GradientDescent.runRdd]]'s.
    * The local loop keeps the partition structure (`glom`), runs each
    * partition's rows in order on a pool thread, and merges partials
    * in partition-index order — one of the arrival orders the
    * distributed reduce already produces (parity in
    * GdLocalParitySpec).
    */
  def trainRdd(rdd: RDD[SparseDoc], cfg: Config,
               initial: Option[Params] = None,
               localFinishRows: Long = LocalFinish.MaxRows): Result = {
    val sc = rdd.sparkContext
    val p = initial.getOrElse(init(cfg))
    val nIn = cfg.nIn; val nH = cfg.nHidden; val nOut = cfg.nOut
    // rows (the 1/n scale) and the local-finish bytes: one job
    val (rows, estBytes) = SparseDoc.rowsAndBytes(rdd)
    val n = rows.toDouble
    require(n > 0, "empty training set")
    var lr = cfg.learningRate
    var oldCost = 0.0
    val costs = scala.collection.mutable.ArrayBuffer.empty[Double]
    // same fan-in rule as GradientDescent.run: a tree stage per
    // iteration only pays when there are enough partitions to fan in;
    // the gate's 8-partition layout aggregates directly (one job per
    // iteration, not two), a 1000-executor run gets the tree
    val depth = if (rdd.getNumPartitions <= 16) 1 else 2
    val sW1 = new AdamState(nIn * nH); val sB1 = new AdamState(nH)
    val sW2 = new AdamState(nH * nOut); val sB2 = new AdamState(nOut)
    type Buf = (Double, Array[Double], Array[Double], Array[Double], Array[Double])
    val combOp: (Buf, Buf) => Buf = {
      case ((c1, a1, a2, a3, a4), (c2, b1, b2, b3, b4)) =>
        def add(x: Array[Double], y: Array[Double]): Array[Double] = {
          var k = 0
          while (k < x.length) { x(k) += y(k); k += 1 }
          x
        }
        (c1 + c2, add(a1, b1), add(a2, b2), add(a3, b3), add(a4, b4))
    }

    // Driver-side update step, shared verbatim by the local and
    // distributed paths: same 1/n scaling, same SGD/Adam updates,
    // same bold-driver lr recurrence.
    def step(cost: Double, dW1: Array[Double], dB1: Array[Double],
             dW2: Array[Double], dB2: Array[Double], i: Int): Unit = {
      val avgCost = cost / n
      def scale(a: Array[Double]): Array[Double] = {
        var k = 0
        while (k < a.length) { a(k) /= n; k += 1 }
        a
      }
      scale(dW1); scale(dB1); scale(dW2); scale(dB2)
      cfg.optimizer match {
        case "SGD" =>
          def sgd(x: Array[Double], g: Array[Double]): Unit = {
            var k = 0
            while (k < x.length) { x(k) -= lr * g(k); k += 1 }
          }
          sgd(p.w1, dW1); sgd(p.b1, dB1); sgd(p.w2, dW2); sgd(p.b2, dB2)
        case "Adam" =>
          adamUpdate(p.w1, dW1, sW1, i, lr, squareGrad = true)
          adamUpdate(p.b1, dB1, sB1, i, lr, squareGrad = false)
          adamUpdate(p.w2, dW2, sW2, i, lr, squareGrad = true)
          adamUpdate(p.b2, dB2, sB2, i, lr, squareGrad = false)
        case other =>
          throw new IllegalArgumentException(s"unknown optimizer: $other")
      }
      lr = if (avgCost < oldCost) lr * 1.05 else lr * 0.5
      costs += avgCost
      oldCost = avgCost
    }

    // Per-partition buffers are reused across iterations and fully
    // zeroed first (the RowScratch discipline — bit-identical to fresh
    // arrays).
    if (LocalFinish.fits(rows, estBytes, cfg.iterations,
        localFinishRows)) {
      val parts = rdd.glom().collect()
      val nP = parts.length
      // thread budget = the session's task-slot count
      // (defaultParallelism), NOT availableProcessors: a
      // SPARK_GRAFT_CPUS=8 bench must not borrow the host's other
      // 24 vCPUs for the local loop when the distributed path it
      // replaces would have been capped at 8 task slots — the
      // core-count scaling measurement stays honest. Thread count
      // never affects the result (each thread owns whole
      // partitions; merge order is partition-indexed).
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.max(1, math.min(nP, sc.defaultParallelism)))
      try {
        val bufs = Array.tabulate(nP)(_ =>
          (new Array[Double](nIn * nH), new Array[Double](nH),
            new Array[Double](nH * nOut), new Array[Double](nOut),
            new RowScratch(nH, nOut)))
        var i = 0
        while (i < cfg.iterations) {
          val futs = (0 until nP).map { pi =>
            pool.submit(new java.util.concurrent.Callable[Double] {
              def call(): Double = {
                val docs = parts(pi)
                val (w1, b1, w2, b2, scr) = bufs(pi)
                java.util.Arrays.fill(w1, 0.0)
                java.util.Arrays.fill(b1, 0.0)
                java.util.Arrays.fill(w2, 0.0)
                java.util.Arrays.fill(b2, 0.0)
                var c = 0.0
                var r = 0
                while (r < docs.length) {
                  c += rowCostGrad(docs(r), p, nIn, nH, nOut,
                    w1, b1, w2, b2, scr)
                  r += 1
                }
                c
              }
            })
          }
          var total: Buf = null
          var pi = 0
          while (pi < nP) {
            val c = futs(pi).get()
            // empty partitions emit nothing, like the distributed
            // mapPartitions
            if (parts(pi).nonEmpty) {
              val (w1, b1, w2, b2, _) = bufs(pi)
              val b: Buf = (c, w1, b1, w2, b2)
              total = if (total == null) b else combOp(total, b)
            }
            pi += 1
          }
          val (cost, dW1, dB1, dW2, dB2) = total
          step(cost, dW1, dB1, dW2, dB2, i)
          i += 1
        }
      } finally pool.shutdown()
      return Result(p, costs.toArray)
    }

    var i = 0
    while (i < cfg.iterations) {
      val bc = sc.broadcast(p)
      // Gradient buffers are allocated INSIDE the partition (the old
      // treeAggregate form shipped a (nIn·nH + …)-double zero value
      // in every task closure — ~1 MB serialized per task per
      // iteration at m08's dims). Per-partition accumulation order is
      // unchanged, so the cost/grad doubles are bit-identical; the
      // cross-partition merge stays the same arrival-order reduce the
      // goldens' 1e-6 bands already cover.
      val partials = rdd.mapPartitions { docs =>
        if (!docs.hasNext) Iterator.empty
        else {
          val pp = bc.value
          val w1 = new Array[Double](nIn * nH)
          val b1 = new Array[Double](nH)
          val w2 = new Array[Double](nH * nOut)
          val b2 = new Array[Double](nOut)
          val scr = new RowScratch(nH, nOut)
          var c = 0.0
          while (docs.hasNext) {
            c += rowCostGrad(docs.next(), pp, nIn, nH, nOut,
              w1, b1, w2, b2, scr)
          }
          Iterator.single((c, w1, b1, w2, b2): Buf)
        }
      }
      val (cost, dW1, dB1, dW2, dB2) =
        if (depth <= 1) partials.reduce(combOp)
        else partials.treeReduce(combOp, depth)
      bc.destroy()
      step(cost, dW1, dB1, dW2, dB2, i)
      i += 1
    }
    Result(p, costs.toArray)
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
