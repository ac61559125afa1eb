package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.core.{Csv, Sinks}
import graft.features.RddPipeline
import graft.gd._

/** Golden cost-curve parity vs the reference's committed optimizer
  * artifacts (`/root/reference/out/`).
  *
  * `LR_Optimizers.py` / `SVM_Optimizers.py` each saved one cost curve
  * per optimizer per run; the out/ tree holds THREE independent LR
  * runs (`optimizer:`, `optimizer1`, `optimizer2:`) and TWO SVM runs
  * (`optimizer3:`, `optimizer4_`). Every run drew its init from an
  * UNSEEDED `np.random.normal(0, 0.1, 10000)` (`LR_Optimizers.py:129`,
  * `SVM_Optimizers.py:131`), so exact parity is impossible even
  * between the reference's own runs (SURVEY.md §7.2). What IS
  * checkable is that the engine's curve behaves like one more draw of
  * the same process:
  *
  *  - **per-document head cost** (iteration 0, before any update) must
  *    land inside the reference families' head band. The head isolates
  *    loss + regularizer arithmetic from the optimizer entirely;
  *  - **normalized shape** `cost(i)/cost(0)` for the first 10
  *    iterations must stay inside the cross-family envelope, widened
  *    by the envelope's own width (the engine is treated as an extra
  *    family draw). The early shape fingerprints each update rule —
  *    measured iter-1..9 values separate cleanly: Adam's scalar-10000
  *    second-moment quirk pins it at ≈1.000 while every other rule has
  *    dropped ≥2% by iter 1; Momentum pulls away from SGD by iter 3;
  *    RMSprop's `gti/(i+1)` accumulator sits between. Beyond ~10
  *    iterations bold-driver chaos dominates — the reference families
  *    themselves diverge by up to 92% (relative, iter 152+) — so later
  *    iterations carry no parity signal and are not compared.
  *
  * Measured cross-family normalized spread over iters 0–9 (max rel.
  * deviation from the family mean): LR ≤ 5.5% (Nesterov), SVM ≤ 8.9%
  * (SGD), Adam ≤ 0.03% in both — the floor tolerance below covers the
  * Adam band and the envelope-width term covers the rest.
  *
  * All reference runs split with `randomSplit([0.8, 0.2], seed=123)`
  * on the same 7,613-tweet dataset (`LR_Optimizers.py:218`), the same
  * split whose zeros-init run recorded head = 6097·ln 2 in
  * `out/output/part-00000` — so 6097 is the per-document normalizer
  * for every reference curve here.
  */
class OptimizerCurveParitySpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[8]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val RefOut = "/root/reference/out"
  private val RefNTrain = 6097.0
  private val Iters = 10
  private val Optimizers =
    Seq("SGD", "Momentum", "Nesterov", "Adam", "Adagrad", "RMSprop")

  lazy val f = RddPipeline.featurize(spark, Csv.TrainCsv, dim = 10000)
  lazy val training = {
    val t = f.data.randomSplit(Array(0.8, 0.2), seed = 123L)(0)
    t.persist()
    t
  }
  lazy val nTrain: Long = training.count()

  // seeded stand-in for the reference's unseeded normal(0, 0.1) init —
  // the tolerance bands absorb draw-to-draw variation
  private def init(): Array[Double] = {
    val rng = new scala.util.Random(20260812L)
    Array.fill(10000)(rng.nextGaussian() * 0.1)
  }

  private def engineCurve(loss: Loss, reg: GradientDescent.Reg,
                          opt: String): Array[Double] =
    GradientDescent.run(training, 10000, loss,
      GradientDescent.Config(iterations = Iters, learningRate = 0.01,
        optimizer = opt, reg = reg, initialCoef = Some(init()))).costs

  private case class Stack(name: String, families: Seq[String],
                           loss: Loss, reg: () => GradientDescent.Reg)

  // LR: L2(1.15) (`LR_Optimizers.py:136,147-149`); SVM: λ = 1/(c·n)
  // over the TRAINING count with the unsquared-norm cost term
  // (`SVM_Optimizers.py:138-141,153-154`).
  private val stacks = Seq(
    Stack("LR", Seq("optimizer:", "optimizer1", "optimizer2:"),
      LogisticLoss, () => GradientDescent.L2(1.15)),
    Stack("SVM", Seq("optimizer3:", "optimizer4_"),
      HingeLoss, () => GradientDescent.SvmNorm(1.0 / (0.5 * nTrain))))

  /** The committed NN runs (`out/NN_rdd_{SGD,Adam}/part-00000`,
    * `RDD_NN.py:333-346`: 1000→128→2 net, SSE per-doc cost, 300
    * iterations, bold driver, unseeded uniform(-0.5, 0.5) init). Only
    * ONE committed run exists per optimizer, so there is no
    * cross-family envelope; the two runs' heads differ from each
    * other by ~12% on init draw alone, which calibrates the ±20%
    * head band.
    *
    * What is (and isn't) testable against these artifacts: the SGD
    * trajectory is init-robust (per-iteration steps are tiny at
    * lr=0.001), so its normalized shape gets a tight band. The Adam ×
    * bold-driver trajectory is NOT — bold driver halves the rate on
    * any cost increase and compounds 1.05× otherwise, so whether a
    * particular unseeded init draw enters the monotone-descent regime
    * decides between shedding ~25% (the committed draw) or ~95% (our
    * seeded draw) of the head cost by iter 100. A shape band against
    * one committed draw would test the init lottery, not the engine;
    * the Adam UPDATE RULE itself (incl. the v_b quirk) is pinned
    * value-exactly by TwoLayerNetSpec's numpy goldens. The
    * init-robust claim both runs support — Adam separates hard from
    * SGD by iter 100 — is asserted in both curves.
    */
  test("NN curves track the committed NN_rdd artifacts (SGD vs Adam)") {
    val nn = RddPipeline.featurize(spark, Csv.TrainCsv, dim = 1000,
      dictFilter = Some("1"))
    val tr = nn.data.randomSplit(Array(0.8, 0.2), seed = 123L)(0)
      .coalesce(8)
    tr.persist()
    try {
      val iters = 120
      val sgd = TwoLayerNet.train(tr,
        TwoLayerNet.Config(iterations = iters)).costs
      val adam = TwoLayerNet.train(tr,
        TwoLayerNet.Config(iterations = iters, optimizer = "Adam")).costs
      val refSgd = SpecSupport.readCostCurve(s"$RefOut/NN_rdd_SGD")
      val refAdam = SpecSupport.readCostCurve(s"$RefOut/NN_rdd_Adam")
      for ((name, ours, ref) <- Seq(("SGD", sgd, refSgd),
          ("Adam", adam, refAdam))) {
        info(f"$name head ours=${ours.head}%.4f ref=${ref.head}%.4f " +
          f"n100 ours=${ours(100) / ours.head}%.4f " +
          f"ref=${ref(100) / ref.head}%.4f")
        assert(ours.head > ref.head * 0.8 && ours.head < ref.head * 1.25,
          s"$name head ${ours.head} vs ref ${ref.head}")
      }
      val sgdN = sgd(100) / sgd.head
      val adamN = adam(100) / adam.head
      val refSgdN = refSgd(100) / refSgd.head
      val refAdamN = refAdam(100) / refAdam.head
      assert(math.abs(sgdN - refSgdN) < 0.10,
        s"SGD shape at 100: $sgdN vs ref $refSgdN")
      // Adam vs SGD separation holds in the reference draw and must
      // hold in ours; Adam's absolute shape is init-chaotic (above)
      assert(refAdamN < refSgdN - 0.05,
        s"reference artifacts lost their separation? $refAdamN vs $refSgdN")
      assert(adamN < sgdN - 0.05,
        s"Adam ($adamN) must descend well past SGD ($sgdN) by iter 100")
    } finally tr.unpersist()
  }

  for (stack <- stacks; opt <- Optimizers)
    test(s"${stack.name}/$opt curve tracks the reference families") {
      val refs = stack.families
        .map(p => SpecSupport.readCostCurve(s"$RefOut/$p$opt"))
      assert(refs.forall(_.length >= Iters))

      val ours = engineCurve(stack.loss, stack.reg(), opt)
      assert(ours.length == Iters)

      // head: loss+reg arithmetic, optimizer-independent
      val ourHead = ours(0) / nTrain
      val refHeads = refs.map(_.head / RefNTrain)
      val (hLo, hHi) = (refHeads.min, refHeads.max)
      assert(ourHead > hLo * 0.97 && ourHead < hHi * 1.03,
        s"per-doc head $ourHead outside ref band [$hLo, $hHi]")

      // normalized shape: the update-rule fingerprint
      val oursN = ours.map(_ / ours(0))
      val refsN = refs.map(c => c.map(_ / c.head))
      for (i <- 1 until Iters) {
        val vals = refsN.map(_(i))
        val (lo, hi) = (vals.min, vals.max)
        val mid = vals.sum / vals.length
        // widen by max(1%, one envelope width): the engine is one
        // more unseeded-init draw, so it may fall outside the
        // observed envelope by about its width again
        val tol = math.max(0.01 * mid, hi - lo)
        assert(oursN(i) >= lo - tol && oursN(i) <= hi + tol,
          s"iter $i: normalized ${oursN(i)} outside " +
            s"[${lo - tol}, ${hi + tol}] (ref $vals)")
      }
    }
}
