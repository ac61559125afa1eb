package graft.core

/** Bounded local finish: the one driver budget for loops whose state
  * is small next to the corpus it came from — the training set of
  * `GradientDescent.runRdd` and `TwoLayerNet.trainRdd`, the vocabulary
  * of `Bpe.trainMerges`, the pair graph of `Dedup.dupClusters`,
  * `dupClustersStar` and `centralityFixedPoint`. Run distributed, each
  * round pays Spark's per-job fixed cost (closure cleaning, task
  * broadcast, scheduling, shuffles), and at bench scale that cost, not
  * the data, is the time: 300 GD iterations at 15–100 ms of job
  * machinery each (OPTIMIZATION_r15.md), a 25-edge d09 graph taking
  * 3.6 → 6.2 s at sf0.1 (Chukonu, VLDB 2021, splits Spark cost the same
  * way). So each loop measures its state once and, when it fits,
  * collects it once and finishes on the driver; above the budget the
  * distributed loop runs unchanged.
  *
  * The state fits when rows ≤ the caller's `localFinishRows` (default
  * [[MaxRows]]), estimated bytes ≤ [[MaxBytes]] (a row bound alone
  * lets a few huge rows exhaust the heap), and rows × rounds ≤
  * [[MaxWork]] (a local loop has at most the session's task slots:
  * both trainers' loop, `gd.FullBatch`, runs partitions on them and
  * the other sites run on one thread, so a near-bound state iterated
  * many times belongs on the cluster). Each site says what
  * its byte figure measures; bytes and work are `Double`s, so no
  * product of driver statistics overflows. `localFinishRows = 0`
  * forces the distributed path, empty state included (parity specs,
  * golden dumps, the bench's distributed GD phase). Each site's
  * scaladoc says why its local loop computes what the distributed one
  * does.
  */
object LocalFinish {
  /** Rows of loop state the driver may collect. */
  val MaxRows: Long = 1L << 20

  /** Estimated bytes of that state once collected (64 MB). */
  val MaxBytes: Double = (1L << 26).toDouble

  /** Row-visits (rows × rounds) of the local loop, which has at most
    * the session's task slots where the cluster has all of its.
    */
  val MaxWork: Double = (1L << 28).toDouble

  /** False when the override forces the distributed path, so a caller
    * can skip measuring its state.
    */
  def enabled(maxRows: Long): Boolean = maxRows > 0

  /** Whether a state of `rows` rows and `bytes` estimated bytes, which
    * the local loop visits `rounds` times (at least once), finishes on
    * the driver, given the caller's row override `maxRows`.
    */
  def fits(rows: Long, bytes: Double, rounds: Long,
           maxRows: Long = MaxRows): Boolean =
    enabled(maxRows) && rows <= maxRows && bytes <= MaxBytes &&
      rows.toDouble * math.max(rounds, 1L).toDouble <= MaxWork
}
