package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.operators.Bpe
import graft.operators.Bpe.Merge

/** Executable spec of [[graft.operators.Bpe.encodeKernel]]: the
  * chained in-row `replace` encoder, one plan node per merge rule, and
  * its sliced, checkpointed form for rule lists past the plan-literal
  * ceiling. BpeSpec holds the kernel, the oracle mirror and the
  * trainer to these.
  */
object BpeComposed {

  /** Plan-literal ceiling for [[encode]]: each rule adds one nested
    * `replace` node, and the REAL limit is the codegen recursion
    * stack, not Catalyst node count — `StringReplace.doGenCode`
    * recurses ~6 JVM frames per nested rule, and a measured 500-deep
    * chain overflows a default-`-Xss` JVM with a fatal
    * `StackOverflowError` that Spark's interpreted-fallback cannot
    * catch (BpeSpec's beyond-the-ceiling test found this; the round-8
    * value of 4096 assumed node-count was the bound and was never
    * executed). 256 is measured-safe with 2× margin and composes
    * with surrounding plan expressions. Production-sized rule sets
    * (30k+) go through [[encodeSliced]], which loops ≤MaxPlanMerges
    * slices with a `localCheckpoint` between them.
    */
  val MaxPlanMerges = 256

  /** Encode a token array with a learned rule list: every word is
    * boundary-marked, words join on a single space (which no merge
    * pattern can span), and the rules apply in rank order as chained
    * in-row replaces. Returns the encoded marked string; use
    * [[Bpe.pieceCount]] for the subword count.
    */
  def encode(tokens: Column, merges: Seq[Merge]): Column = {
    require(merges.size <= MaxPlanMerges,
      s"${merges.size} merge rules exceed the $MaxPlanMerges plan-literal " +
        "ceiling; apply in slices with checkpoints between them")
    val marked = array_join(transform(tokens, w => Bpe.mark(w)), " ")
    merges.sortBy(_.rank).foldLeft(marked)((c, m) =>
      Bpe.applyMerge(c, m.lhs, m.rhs))
  }

  /** Production-sized encode: apply an arbitrarily long rule list
    * (30k+ merges — a real tokenizer) by slicing it into
    * ≤`sliceSize`-rule chunks and `localCheckpoint`ing between
    * chunks, so no single plan exceeds the [[MaxPlanMerges]]
    * plan-literal ceiling and the replace chain never replays from
    * the corpus scan. This is the loop the [[MaxPlanMerges]] scaladoc
    * promises; spec-verified against the naive reference encoder at
    * 256+ merges (BpeSpec).
    *
    * Storage discipline: each slice pins exactly one checkpoint and
    * frees the previous ([[graft.core.Checkpoints.roll]]), so a 30k-
    * rule encode holds O(corpus), not O(corpus × slices). The
    * returned frame is backed by the final checkpoint — callers that
    * are done with it can `Checkpoints.release` it.
    *
    * Trade-off vs [[encode]]: checkpointing materializes the corpus
    * per slice, so for rule lists under the ceiling the single-plan
    * zero-materialization [[encode]] is strictly better; this path
    * exists for rule lists that cannot fit one plan.
    */
  def encodeSliced(docs: DataFrame, tokens: Column, merges: Seq[Merge],
                   outCol: String = "encoded",
                   sliceSize: Int = MaxPlanMerges): DataFrame = {
    require(sliceSize >= 1 && sliceSize <= MaxPlanMerges,
      s"sliceSize must be in [1, $MaxPlanMerges], got $sliceSize")
    val marked = array_join(transform(tokens, w => Bpe.mark(w)), " ")
    val slices = merges.sortBy(_.rank).grouped(sliceSize).toSeq
    slices.zipWithIndex.foldLeft(docs.withColumn(outCol, marked)) {
      case (df, (slice, i)) =>
        val applied = df.withColumn(outCol,
          slice.foldLeft(col(outCol))((c, m) => Bpe.applyMerge(c, m.lhs, m.rhs)))
        // last slice stays lazy: the caller's consumption materializes
        // it once; checkpointing here would pay an extra full pass
        if (i == slices.size - 1) applied
        else if (i == 0) applied.localCheckpoint()
        else graft.core.Checkpoints.roll(applied, df)
    }
  }
}
