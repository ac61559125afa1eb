package graft.features

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Top-K vocabulary with rank index (SURVEY.md §2.4 A1–A3).
  *
  * The reference collects word counts to the driver (`top(10000)`)
  * then re-parallelizes with indices. Here: distributed top-K
  * (`orderBy.limit` plans as TakeOrderedAndProject — per-partition
  * heaps + merge, no global sort, no full collect), then a
  * row_number window over the tiny K-row result (single partition of
  * K rows, fine for any K that fits a dictionary).
  *
  * Ordering is (count desc, word asc): the reference's `top()` breaks
  * count ties by tuple order (word desc) nondeterministically across
  * partitionings; we pin a total order for reproducibility.
  */
object Vocabulary {

  /** @param tokenized DataFrame with an array-of-strings column
    * @return (word, count, id) with id = dense rank 0..k-1
    */
  def topK(tokenized: DataFrame, tokensCol: String, k: Int): DataFrame = {
    val counts = tokenized
      .select(explode(col(tokensCol)).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("word").asc)
      .limit(k)
    // The ranking deliberately runs in ONE partition (the frame is ≤K
    // rows post-limit), but an empty partitionSpec makes Spark log the
    // scary "No Partition Defined for Window" warning on every run —
    // and a literal key (partitionBy(lit(0))) gets folded back to an
    // empty spec by EliminateWindowPartitions. substring(word, 0, 0)
    // is a NON-foldable constant ("" for every non-null word — vocab
    // words are exploded tokens, never null): same single-partition
    // clustering, warning structurally silenced. If a future optimizer
    // rule learns to fold this expression, the semantics are unchanged
    // (the key is still constant) — only the warning returns; the f01
    // oracle row re-verifies the ranking itself every round.
    counts.withColumn("id",
      (row_number().over(Window
        .partitionBy(substring(col("word"), 0, 0))
        .orderBy(col("cnt").desc, col("word").asc)) - 1).cast("int"))
  }
}
