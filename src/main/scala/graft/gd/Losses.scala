package graft.gd

/** Per-row loss/gradient contributions (SURVEY.md §2.8 F6/F7).
  * `accumulate` adds the row's gradient into `grad` (a partition's
  * mutable buffer in [[GradientDescent.runRdd]]'s partial) and returns
  * the row's cost.
  */
trait Loss extends Serializable {
  def accumulate(doc: SparseDoc, coef: Array[Double],
                 grad: Array[Double]): Double
}

/** Logistic loss, matching `llH` (`RDD_logisticregression.py:103-109`):
  * θ = x·β; cost = −yθ + ln(1+e^θ); grad = x(σ(θ) − y).
  */
object LogisticLoss extends Loss {
  def accumulate(doc: SparseDoc, coef: Array[Double],
                 grad: Array[Double]): Double = {
    val theta = doc.dot(coef)
    val y = doc.label
    // same formula as numpy's log(1 + exp(theta)); for |θ| large this
    // saturates identically (exp overflow → inf → log → inf).
    val cost = -y * theta + math.log1p(math.exp(theta))
    val sig = math.exp(theta) / (1.0 + math.exp(theta))
    val mult = sig - y
    var k = 0
    while (k < doc.indices.length) {
      grad(doc.indices(k)) += doc.values(k) * mult
      k += 1
    }
    cost
  }
}

/** Hinge loss, matching `loss_svm` (`RDD_SVM.py:117-124`):
  * y ∈ {−1,1}; cost = max(0, 1 − y·w·x); grad = −yx iff y·w·x ≤ 1.
  * Note the reference's boundary: gradient is 0 only when ypy > 1
  * (strict), i.e. the subgradient −yx is used at ypy == 1.
  */
object HingeLoss extends Loss {
  def accumulate(doc: SparseDoc, coef: Array[Double],
                 grad: Array[Double]): Double = {
    val y = if (doc.label == 1.0) 1.0 else -1.0
    val ypy = y * doc.dot(coef)
    if (ypy <= 1.0) {
      var k = 0
      while (k < doc.indices.length) {
        grad(doc.indices(k)) += -y * doc.values(k)
        k += 1
      }
    }
    math.max(0.0, 1.0 - ypy)
  }
}
