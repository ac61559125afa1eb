package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Frequent-item detection without a full-cardinality shuffle: the
  * two-phase candidates-then-exact pipeline every 100 TB profiler
  * ships (same discipline as LSH candidates → exact Jaccard, bloom
  * prune → exact confirm).
  *
  * Phase 1 runs the [[graft.expressions.MisraGriesAgg]] sketch — one
  * partial-aggregated pass with an O(k) buffer per partition, no
  * shuffle of the item domain (a naive `groupBy(item)` shuffles every
  * distinct item; at web scale the token/URL/ngram domain is
  * billions). Its ≤ k−1 candidates are a GUARANTEED superset of every
  * item with frequency > n/k (the MG invariant, preserved under
  * merge). Phase 2 computes exact counts for the candidates only —
  * a broadcast-literal `isin` filter, so the shuffle carries ≤ k−1
  * groups — and keeps those strictly above n/k.
  *
  * The output is therefore EXACT and partition-order independent
  * (sketch counters are not, but the superset guarantee is), which is
  * what lets the t16 oracle hash-check it: `HAVING count(*) * k > n`
  * in plain SQL. Integer compare on both sides — no float threshold.
  */
object HeavyHitters {

  /** Items with frequency strictly greater than n/k, with exact
    * counts. Two actions: the sketch+total pass (one row to the
    * driver: ≤ k−1 candidate strings — bounded like the Splits
    * prefix table), then the exact-count pass.
    */
  def topFrequent(items: DataFrame, itemCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge._
    val sketch = column(graft.expressions.MisraGriesAgg(
      expression(col(itemCol)), k).toAggregateExpression())
    val row = items.agg(
      count(col(itemCol)).as("n"), sketch.as("mg")).head()
    val n = row.getLong(0)
    val cands = row.getSeq[org.apache.spark.sql.Row](1).map(_.getString(0))
    if (cands.isEmpty) {
      items.sparkSession.emptyDataFrame
        .select(lit("").as("item"), lit(0L).as("n_occ")).limit(0)
    } else {
      items.filter(col(itemCol).isin(cands: _*))
        .groupBy(col(itemCol).as("item"))
        .agg(count(lit(1)).as("n_occ"))
        .filter(col("n_occ") * k > n)
    }
  }
}
