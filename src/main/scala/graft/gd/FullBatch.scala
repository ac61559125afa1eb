package graft.gd

import java.util.concurrent.{Callable, ExecutionException, Executors, Future}
import scala.reflect.ClassTag
import org.apache.spark.rdd.RDD
import graft.core.LocalFinish

/** The full-batch training loop of the reference's Stack B
  * (`RDD_logisticregression.py`, `RDD_SVM.py`, `LR_Optimizers.py`,
  * `RDD_NN.py`): each round sums per-partition partials of the cost and
  * gradient over the whole training set, then the trainer's driver
  * `step` updates the parameters in place. [[GradientDescent.runRdd]]
  * and [[TwoLayerNet.trainRdd]] supply only the partial, the merge and
  * the step; this is the one copy of everything else.
  *
  * Bounded local finish ([[LocalFinish]]): the state is the training
  * set, `size` its rows and estimated heap bytes
  * ([[SparseDoc.rowsAndBytes]]), evaluated only when the override
  * allows a local finish. When it fits, the rows are `glom`-collected
  * once and each round runs the non-empty partitions on a pool of
  * min(partitions, `defaultParallelism`) threads: the session's task
  * slots, not the host's cores, so a `local[8]` run never borrows more
  * CPUs than its distributed path could use. Otherwise each round
  * broadcasts the parameters, emits one partial per non-empty partition
  * and combines them with one `treeAggregate`.
  *
  * Both paths visit a partition's rows in the same order and merge
  * whole-partition partials. The local path merges in partition-index
  * order, one of the arrival orders the distributed combine produces,
  * so the two agree to the last few ULPs (GdLocalParitySpec, 1e-9);
  * the thread count never changes the result.
  */
private[gd] object FullBatch {

  /** A tree level per round only pays when there are enough partitions
    * to fan in: a handful aggregate directly (one job per round), a
    * 1000-executor run gets the tree.
    */
  private def depth(partitions: Int): Int = if (partitions <= 16) 1 else 2

  /** Runs up to `rounds` rounds over `rdd`, stopping early when `step`
    * returns true. `newPartial` makes a partition's partial function:
    * once per non-empty partition on the local path (so it may hold
    * buffers it reuses every round) and once per task on the
    * distributed one. The partial reads the parameters it is given,
    * never the driver's `params` directly. `merge` may mutate and
    * return either side. `step` gets the round's total (None when
    * every partition is empty) and the 0-based round.
    */
  def run[M: ClassTag, P: ClassTag](rdd: RDD[SparseDoc], params: M,
      rounds: Int, localFinishRows: Long, size: => (Long, Double))(
      newPartial: () => (M, Iterator[SparseDoc]) => P,
      merge: (P, P) => P)(
      step: (Option[P], Int) => Boolean): Unit = {
    val local = LocalFinish.enabled(localFinishRows) && {
      val (rows, bytes) = size
      LocalFinish.fits(rows, bytes, rounds, localFinishRows)
    }
    if (local) runLocal(rdd, params, rounds, newPartial, merge, step)
    else runDistributed(rdd, params, rounds, newPartial, merge, step)
  }

  /** At most `threads` partials are in flight or waiting to be merged,
    * so a round holds no more than `threads` + 1 of them at once.
    */
  private def runLocal[M, P](rdd: RDD[SparseDoc], params: M,
      rounds: Int, newPartial: () => (M, Iterator[SparseDoc]) => P,
      merge: (P, P) => P, step: (Option[P], Int) => Boolean): Unit = {
    val parts = rdd.glom().collect().filter(_.nonEmpty)
    val partials = parts.map(_ => newPartial())
    val threads =
      math.max(1, math.min(parts.length, rdd.sparkContext.defaultParallelism))
    val pool = Executors.newFixedThreadPool(threads)
    try {
      var i = 0
      var stop = false
      while (i < rounds && !stop) {
        val futures = new Array[Future[P]](parts.length)
        def submit(k: Int): Unit = if (k < parts.length) {
          futures(k) = pool.submit(new Callable[P] {
            def call(): P = partials(k)(params, parts(k).iterator)
          })
        }
        (0 until threads).foreach(submit)
        var total = Option.empty[P]
        var k = 0
        while (k < parts.length) {
          val p = try futures(k).get() catch {
            case e: ExecutionException => throw e.getCause
          }
          futures(k) = null
          submit(k + threads)
          total = Some(total.fold(p)(merge(_, p)))
          k += 1
        }
        stop = step(total, i)
        i += 1
      }
    } finally pool.shutdownNow()
  }

  private def runDistributed[M: ClassTag, P: ClassTag](rdd: RDD[SparseDoc],
      params: M, rounds: Int,
      newPartial: () => (M, Iterator[SparseDoc]) => P,
      merge: (P, P) => P, step: (Option[P], Int) => Boolean): Unit = {
    val combine: (Option[P], Option[P]) => Option[P] = {
      case (Some(a), Some(b)) => Some(merge(a, b))
      case (a, None) => a
      case (None, b) => b
    }
    val d = depth(rdd.getNumPartitions)
    var i = 0
    var stop = false
    while (i < rounds && !stop) {
      val bc = rdd.sparkContext.broadcast(params)
      val total = try {
        rdd.mapPartitions { docs =>
          if (!docs.hasNext) Iterator.empty
          else Iterator.single(newPartial()(bc.value, docs))
        }.treeAggregate(Option.empty[P])(
          (acc, p) => combine(acc, Some(p)), combine, d)
      } finally bc.destroy()
      stop = step(total, i)
      i += 1
    }
  }
}
