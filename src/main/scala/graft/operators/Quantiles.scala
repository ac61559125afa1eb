package graft.operators

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Leased

/** Exact distributed percentiles via two-phase histogram rank-select.
  *
  * Spark's built-in `percentile` aggregate materializes a per-group
  * value→count OpenHashMap inside a non-codegen ObjectHashAggregate —
  * state bounded only by the column's NDV, i.e. by ROW COUNT for a
  * genuinely near-unique double column, where at 100 TB the map
  * simply cannot exist. Even at pseudo-sf10 with NDV 583k
  * (`l_extendedprice`) the raw-row form measured 22.7/72.5/25.8 s
  * across interleaved rounds with heap-degradation spikes, vs
  * 19.6/15.2/15.6 s for this operator (interleaved A/B, SCALE.md
  * round 9 coda 3). Counterpoint, same A/B: when the NDV is small
  * enough that a (group, value) frequency histogram is cheap to build
  * and tiny to hold, percentile-WITH-FREQUENCY over that histogram
  * beats this operator's three prepass scans (q17's bounds, NDV ≤
  * 583k: 13.9 s vs 51 s warm floors) — this file is the near-unique /
  * unbounded-NDV path, not a universal replacement.
  *
  * This operator computes the SAME interpolated order statistics with
  * three narrow codegen scans and bounded state everywhere:
  *
  *   1. per-group `(count, min, max)` — one hash agg over ≤|groups|
  *      entries;
  *   2. a fixed-width histogram `(group, bucket) → count`, cumulated
  *      by a window over ≤`buckets` rows per group, locating the
  *      bucket that owns each target rank `k` (0-based, computed from
  *      Spark's `position = (n−1)·q` semantics);
  *   3. a second scan restricted (broadcast semi-structure) to the
  *      located buckets — expected `n/buckets` rows each — where a
  *      tiny per-(group, rank) window over in-bucket DISTINCT values
  *      yields the k-th smallest; the final projection applies
  *      Percentile's interpolation between the floor/ceil ranks.
  *
  * Equality with the built-in is property-asserted in ApproxSpec
  * (random grouped corpora with heavy duplication, relative 1e-12);
  * the driver gate's q23 row is the standing DuckDB
  * `quantile_cont` cross-check.
  *
  * Scale assumptions, stated: per-group stats rows broadcast (fine up
  * to ~1e6 groups — percentile-per-group beyond that is a different
  * workload); one histogram level (a bucket hosting a large fraction
  * of all DISTINCT values degrades the stage-3 window — with 2^16
  * buckets that needs >90% of the value mass inside a 2^-16 slice of
  * the range; recursive refinement is the documented escape, not
  * built).
  */
object Quantiles {

  /** Exact percentiles of `valCol` per `grpCol` at each q in `qs`,
    * with the pin-release handle ([[graft.core.Leased]]).
    * Output: (grpCol, q, value) — `value` matches Spark's
    * `percentile(valCol, q)` (interpolated, weights 1). Nulls in
    * `valCol` are ignored (as the built-in does); NaN unsupported.
    *
    * Why the pins exist: each internally checkpointed frame is TINY
    * (≤ groups × buckets rows) but referenced from several subtrees —
    * the result plan joins `vAtK` twice and reads `stats` from four —
    * and without eager pinning each reference re-runs the full corpus
    * scan underneath (measured 14 scans / 33 s for one 3-quantile
    * call at pseudo-sf10, vs 3 scans / 15.6 s pinned).
    */
  def exactPercentilesLeased(df: DataFrame, grpCol: String,
                             valCol: String, qs: Seq[Double],
                             buckets: Int = 1 << 16): Leased = {
    val pins = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def pin(d: DataFrame): DataFrame = {
      val cp = d.localCheckpoint(); pins += cp; cp
    }
    require(qs.nonEmpty && qs.forall(q => q >= 0.0 && q <= 1.0),
      s"qs must be within [0, 1], got $qs")
    require(buckets >= 2, s"buckets must be >= 2, got $buckets")
    val spark = df.sparkSession
    val base = df
      .select(col(grpCol).as("g"), col(valCol).cast("double").as("v"))
      .filter(col("v").isNotNull)
    val stats = pin(base.groupBy(col("g")).agg(count(lit(1)).as("n"),
      min(col("v")).as("mn"), max(col("v")).as("mx")))
    val qDf = spark.createDataset(qs)(Encoders.scalaDouble).toDF("q")
    // 0-based fractional position per (group, q) — Spark Percentile's
    // position = (Σweights − 1)·q — and its bracketing integer ranks.
    // crossJoin is |groups| × |qs|, both broadcast-tiny (the only
    // other crossJoin in src/main is Bm25's 1-row stats).
    val pos = stats.crossJoin(broadcast(qDf))
      .withColumn("pos", (col("n") - 1).cast("double") * col("q"))
      .withColumn("klo", floor(col("pos")).cast("long"))
      .withColumn("khi", ceil(col("pos")).cast("long"))
    val ranks = pos.select(col("g"),
      explode(array(col("klo"), col("khi"))).as("k")).distinct()
    // fixed-width bucket index, degenerate single-value groups → 0
    val width = (col("mx") - col("mn")) / lit(buckets.toDouble)
    val withB = base.join(broadcast(stats), Seq("g"))
      .withColumn("b", when(col("mx") === col("mn"), lit(0L))
        .otherwise(least(lit((buckets - 1).toLong),
          floor((col("v") - col("mn")) / width).cast("long"))))
      .select(col("g"), col("b"), col("v"))
    val hist = withB.groupBy(col("g"), col("b")).agg(count(lit(1)).as("c"))
    val wCum = Window.partitionBy(col("g")).orderBy(col("b"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = pin(hist.withColumn("cum", sum(col("c")).over(wCum))
      .withColumn("cumBefore", col("cum") - col("c")))
    // the bucket owning 0-based rank k: cumBefore ≤ k < cum
    // checkpointed frames are LogicalRDDs with no stats, so every
    // tiny side below is broadcast-hinted explicitly — without the
    // hints each join plans as an SMJ with two shuffles of data that
    // fits in a closure
    val located = broadcast(ranks).join(cum, Seq("g"))
      .filter(col("cumBefore") <= col("k") && col("k") < col("cum"))
      .select(col("g"), col("k"), col("b"), col("cumBefore"))
    // second scan sees located buckets only; the k-th smallest overall
    // is the (k − cumBefore)-th smallest in-bucket, found on the
    // in-bucket DISTINCT-value cumulation (ties never straddle
    // buckets: equal v ⇒ equal b)
    val inBucket = withB.join(broadcast(located), Seq("g", "b"))
    val wIn = Window.partitionBy(col("g"), col("k")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val vAtK = pin(inBucket
      .groupBy(col("g"), col("k"), col("cumBefore"), col("v"))
      .agg(count(lit(1)).as("c2"))
      .withColumn("cum2", sum(col("c2")).over(wIn))
      .filter(col("cumBefore") + col("cum2") > col("k") &&
        col("cumBefore") + col("cum2") - col("c2") <= col("k"))
      .select(col("g"), col("k"), col("v")))
    val result = pos
      .select(col("g"), col("q"), col("pos"), col("klo"), col("khi"))
      .join(broadcast(vAtK.select(col("g"), col("k").as("klo"),
        col("v").as("vlo"))), Seq("g", "klo"))
      .join(broadcast(vAtK.select(col("g"), col("k").as("khi"),
        col("v").as("vhi"))), Seq("g", "khi"))
      .select(col("g").as(grpCol), col("q"),
        when(col("khi") === col("klo") || col("vlo") === col("vhi"),
          col("vlo"))
          .otherwise((col("khi") - col("pos")) * col("vlo") +
            (col("pos") - col("klo")) * col("vhi")).as("value"))
    Leased(result, pins.toSeq)
  }

  /** [[exactPercentilesLeased]] pivoted to one row per group: each q
    * in `named` becomes a column holding the (optionally rounded)
    * percentile value. The result plan references the same tiny
    * checkpointed frames, which live until a caller-side storage
    * sweep; [[exactPercentilesWideLeased]] is the scoped-release
    * form. */
  def exactPercentilesWide(df: DataFrame, grpCol: String,
                           valCol: String, named: Seq[(Double, String)],
                           roundTo: Int = -1): DataFrame =
    exactPercentilesWideLeased(df, grpCol, valCol, named, roundTo).df

  /** [[exactPercentilesWide]] with the pin-release handle. */
  def exactPercentilesWideLeased(df: DataFrame, grpCol: String,
                                 valCol: String,
                                 named: Seq[(Double, String)],
                                 roundTo: Int = -1): Leased = {
    val long = exactPercentilesLeased(df, grpCol, valCol, named.map(_._1))
    val aggs = named.map { case (q, name) =>
      val v = first(when(col("q") === lit(q), col("value")), true)
      (if (roundTo >= 0) round(v, roundTo) else v).as(name)
    }
    Leased(long.df.groupBy(col(grpCol)).agg(aggs.head, aggs.tail: _*),
      long.pins)
  }
}
