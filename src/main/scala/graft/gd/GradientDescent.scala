package graft.gd

import org.apache.spark.sql.Dataset
import graft.core.LocalFinish

/** Full-batch gradient descent driven from the driver (SURVEY.md
  * §2.11, §3.2), on the one full-batch loop [[FullBatch]].
  *
  * Scale design vs the reference:
  *  - coefficients ship via `SparkContext.broadcast` (torrent, one
  *    copy per executor) instead of task-closure pickling;
  *  - partials are adaptive sparse/dense [[GradVec]]s combined by
  *    `treeAggregate` instead of the reference's pairwise `reduce` of
  *    dense rows;
  *  - callers must `.persist()` the featurized Dataset (the reference
  *    recomputes the whole TF-IDF lineage on every iteration —
  *    SURVEY.md §2.10 R2).
  */
object GradientDescent {

  /** Regularization variants (both reference flavors). */
  sealed trait Reg extends Serializable {
    def apply(cost: Double, grad: Array[Double],
              coef: Array[Double]): Double
  }

  /** LR flavor (`RDD_logisticregression.py:144-145`):
    * grad += 2λβ; cost += λΣβ². */
  final case class L2(lambda: Double) extends Reg {
    def apply(cost: Double, grad: Array[Double],
              coef: Array[Double]): Double = {
      var s = 0.0
      var k = 0
      while (k < coef.length) {
        grad(k) += 2 * lambda * coef(k)
        s += coef(k) * coef(k)
        k += 1
      }
      cost + lambda * s
    }
  }

  /** SVM flavor (`RDD_SVM.py:142-143`): grad += λw;
    * cost += (λ/2)·‖w‖ — the reference adds the *unsquared* L2 norm.
    */
  final case class SvmNorm(lambda: Double) extends Reg {
    def apply(cost: Double, grad: Array[Double],
              coef: Array[Double]): Double = {
      var s = 0.0
      var k = 0
      while (k < coef.length) {
        grad(k) += lambda * coef(k)
        s += coef(k) * coef(k)
        k += 1
      }
      cost + (lambda / 2) * math.sqrt(s)
    }
  }

  case object NoReg extends Reg {
    def apply(cost: Double, grad: Array[Double],
              coef: Array[Double]): Double = cost
  }

  case class Config(
      iterations: Int = 300,
      learningRate: Double = 0.01,
      optimizer: String = "SGD",
      reg: Reg = NoReg,
      boldDriver: Boolean = true,
      earlyStopDelta: Option[Double] = None,
      initialCoef: Option[Array[Double]] = None)

  case class Result(coef: Array[Double], costs: Array[Double])

  /** A partition's (cost, gradient) contribution for the cross-
    * partition tree merge. Partitions always accumulate DENSE (O(1)
    * scatter-add per touched coordinate — the hot loop), then pack to
    * sorted-sparse when under ~2/3 of coordinates were touched
    * (12 B/entry sparse vs 8 B/slot dense). At vocabulary scale
    * (dim = 10⁶) a partition of short documents touches a few
    * thousand slots, so the per-iteration reduce ships kilobytes
    * instead of 8 MB × partitions; at m07's dim = 10⁴ every partition
    * is dense and the pack is a no-op wrap around the same array the
    * old plain-`Array` path shipped. Index-wise addition order is
    * unchanged, so golden curves are unaffected.
    */
  private[gd] final class GradVec(
      val cost: Double,
      val idx: Array[Int], // null → `vals` is the full dense vector
      val vals: Array[Double]) extends Serializable

  private[gd] object GradVec {
    private def sparseWins(nnz: Long, dim: Int): Boolean =
      nnz * 3 < dim.toLong * 2

    def pack(cost: Double, g: Array[Double]): GradVec = {
      var nnz = 0
      var i = 0
      while (i < g.length) { if (g(i) != 0.0) nnz += 1; i += 1 }
      if (!sparseWins(nnz, g.length)) new GradVec(cost, null, g)
      else {
        val idx = new Array[Int](nnz)
        val vals = new Array[Double](nnz)
        var j = 0
        i = 0
        while (i < g.length) {
          if (g(i) != 0.0) { idx(j) = i; vals(j) = g(i); j += 1 }
          i += 1
        }
        new GradVec(cost, idx, vals)
      }
    }

    private def scatter(dense: Array[Double], s: GradVec): Unit = {
      var k = 0
      while (k < s.idx.length) { dense(s.idx(k)) += s.vals(k); k += 1 }
    }

    /** Index-wise sum. Mutates whichever side is already dense (both
      * args are partition/merge outputs consumed exactly once).
      */
    def merge(dim: Int)(a: GradVec, b: GradVec): GradVec = {
      val cost = a.cost + b.cost
      if (a.idx == null && b.idx == null) {
        var k = 0
        while (k < dim) { a.vals(k) += b.vals(k); k += 1 }
        new GradVec(cost, null, a.vals)
      } else if (a.idx == null) {
        scatter(a.vals, b); new GradVec(cost, null, a.vals)
      } else if (b.idx == null) {
        scatter(b.vals, a); new GradVec(cost, null, b.vals)
      } else {
        val bound = a.idx.length.toLong + b.idx.length
        if (!sparseWins(bound, dim)) {
          val dense = new Array[Double](dim)
          scatter(dense, a); scatter(dense, b)
          new GradVec(cost, null, dense)
        } else {
          // merge two index-sorted sparse vectors
          val idx = new Array[Int](bound.toInt)
          val vals = new Array[Double](bound.toInt)
          var i = 0; var j = 0; var k = 0
          while (i < a.idx.length && j < b.idx.length) {
            if (a.idx(i) < b.idx(j)) {
              idx(k) = a.idx(i); vals(k) = a.vals(i); i += 1
            } else if (a.idx(i) > b.idx(j)) {
              idx(k) = b.idx(j); vals(k) = b.vals(j); j += 1
            } else {
              idx(k) = a.idx(i); vals(k) = a.vals(i) + b.vals(j)
              i += 1; j += 1
            }
            k += 1
          }
          while (i < a.idx.length) {
            idx(k) = a.idx(i); vals(k) = a.vals(i); i += 1; k += 1
          }
          while (j < b.idx.length) {
            idx(k) = b.idx(j); vals(k) = b.vals(j); j += 1; k += 1
          }
          new GradVec(cost, java.util.Arrays.copyOf(idx, k),
            java.util.Arrays.copyOf(vals, k))
        }
      }
    }

    def toDense(g: GradVec, dim: Int): Array[Double] =
      if (g.idx == null) g.vals
      else { val d = new Array[Double](dim); scatter(d, g); d }
  }

  def run(data: Dataset[SparseDoc], dim: Int, loss: Loss,
          cfg: Config,
          localFinishRows: Long = LocalFinish.MaxRows): Result =
    runRdd(data.rdd, dim, loss, cfg, localFinishRows)

  /** RDD form — callers that iterate many times should persist the
    * RDD itself (deserialized object cache) so each of the 300
    * iteration-jobs reads `SparseDoc`s directly instead of re-decoding
    * the Dataset's cached InternalRows every pass (guide §1.2 step 2;
    * A/B in OPTIMIZATION_r14.md m07).
    *
    * The loop, both of its paths and the local-finish decision are
    * [[FullBatch.run]]'s. The rows/bytes job runs only when the
    * override allows a local finish. A partition's partial accumulates
    * its rows in order into a fresh dense `dim` buffer and packs it
    * ([[GradVec.pack]]); no buffer outlives its round, so the driver
    * holds a few gradients at any dim. The merge is [[GradVec.merge]],
    * index-wise, so both paths sum each coordinate over the same
    * partials and agree up to merge order (GdLocalParitySpec).
    */
  def runRdd(rdd: org.apache.spark.rdd.RDD[SparseDoc], dim: Int,
             loss: Loss, cfg: Config,
             localFinishRows: Long = LocalFinish.MaxRows): Result = {
    val coef = cfg.initialCoef.map(_.clone())
      .getOrElse(new Array[Double](dim))
    require(coef.length == dim)
    val opt = Optimizer(cfg.optimizer, dim)
    var lr = cfg.learningRate
    var oldCost = 0.0 // reference starts old_cost at 0 → first bold-
                      // driver step always halves lr
    val costs = scala.collection.mutable.ArrayBuffer.empty[Double]
    FullBatch.run(rdd, coef, cfg.iterations, localFinishRows,
        SparseDoc.rowsAndBytes(rdd))(
      () => (c: Array[Double], docs: Iterator[SparseDoc]) => {
        val g = new Array[Double](dim)
        var cost = 0.0
        while (docs.hasNext) cost += loss.accumulate(docs.next(), c, g)
        GradVec.pack(cost, g)
      },
      GradVec.merge(dim)) { (total, i) =>
      // an empty training set sums to a zero cost and gradient
      val costSum = total.fold(0.0)(_.cost)
      val gradSum =
        total.fold(new Array[Double](dim))(GradVec.toDense(_, dim))
      val cost = cfg.reg(costSum, gradSum, coef)
      opt.update(coef, gradSum, lr, i)
      if (cfg.boldDriver) {
        lr = if (cost < oldCost) lr * 1.05 else lr * 0.5
      }
      costs += cost
      val stop =
        cfg.earlyStopDelta.exists(d => math.abs(oldCost - cost) <= d)
      oldCost = cost
      stop
    }
    Result(coef, costs.toArray)
  }

  /** Indices of the 5 largest coefficients, matching `top5coeff`
    * (`RDD_logisticregression.py:112-125`: selects by raw value, then
    * orders those 5 by |value|).
    */
  def top5Coeff(coef: Array[Double]): Seq[Int] = {
    val top5ByValue = coef.zipWithIndex.sortBy(-_._1).take(5)
    top5ByValue.sortBy { case (v, _) => math.abs(v) }.map(_._2).toSeq
  }
}
