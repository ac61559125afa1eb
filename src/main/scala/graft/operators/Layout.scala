package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Physical data-layout operators for parquet at corpus scale: Z-order
  * (Morton) clustering for multi-column scan locality, and sized-file
  * compaction for the small-files problem. Layout ops, not queries —
  * verified by LayoutSpec (per-file min/max statistics), not a SQL
  * oracle.
  *
  * Why Z-order: range-partitioning by ONE column gives perfect file
  * pruning on that column and none on any other — each file spans the
  * full range of the second dimension. Interleaving the bits of two
  * keys orders rows along a space-filling curve, so every file covers
  * a narrow rectangle in BOTH dimensions and min/max row-group
  * statistics prune scans filtered on either column. At 100 TB this
  * is the difference between reading one file and reading all of
  * them for a point lookup on the secondary dimension.
  */
object Layout {

  /** Classic 2D Morton spread: move bit i of a 31-bit value to bit
    * 2i, via 5 shift-and-mask steps — pure Catalyst bit arithmetic,
    * codegen'd, no UDF. Inputs are clamped to 31 bits so the final
    * interleaved value (bit 61 max) never touches the sign bit.
    */
  private def spreadBits(c: Column): Column = {
    val x0 = c.cast("long").bitwiseAND(lit(0x7FFFFFFFL))
    val x1 = x0.bitwiseOR(shiftleft(x0, 16))
      .bitwiseAND(lit(0x0000FFFF0000FFFFL))
    val x2 = x1.bitwiseOR(shiftleft(x1, 8))
      .bitwiseAND(lit(0x00FF00FF00FF00FFL))
    val x3 = x2.bitwiseOR(shiftleft(x2, 4))
      .bitwiseAND(lit(0x0F0F0F0F0F0F0F0FL))
    val x4 = x3.bitwiseOR(shiftleft(x3, 2))
      .bitwiseAND(lit(0x3333333333333333L))
    x4.bitwiseOR(shiftleft(x4, 1))
      .bitwiseAND(lit(0x5555555555555555L))
  }

  /** Z-value of two non-negative integral columns: bits of `a` on
    * even positions, bits of `b` on odd.
    */
  def zValue(a: Column, b: Column): Column =
    spreadBits(a).bitwiseOR(shiftleft(spreadBits(b), 1))

  /** Write `df` clustered along the (a, b) Z-curve into `numFiles`
    * range-partitioned, internally sorted parquet files. The z column
    * is dropped before writing — it's a layout key, not data.
    *
    * Both columns are min/max-normalized to the same `bits` width
    * before interleaving. This is essential, not cosmetic: raw values
    * with unequal magnitudes put one column's bits above ALL of the
    * other's, and the curve degenerates to a single-column sort (the
    * narrow column's bits never reach the range-partition cut
    * points). Production z-order implementations normalize to
    * ranks/range-ids for the same reason; linear min/max scaling is
    * the one-aggregate approximation that suffices for roughly
    * uniform keys.
    */
  def zOrderWrite(df: DataFrame, a: String, b: String, path: String,
      numFiles: Int, bits: Int = 16): Unit = {
    require(bits > 0 && bits <= 31)
    val r = df.agg(min(col(a)).cast("double"), max(col(a)).cast("double"),
      min(col(b)).cast("double"), max(col(b)).cast("double")).head
    val top = (1L << bits) - 1
    def norm(c: Column, lo: Double, hi: Double): Column =
      if (hi <= lo) lit(0L)
      else least(lit(top),
        ((c.cast("double") - lit(lo)) * (top / (hi - lo))).cast("long"))
    val z = zValue(norm(col(a), r.getDouble(0), r.getDouble(1)),
      norm(col(b), r.getDouble(2), r.getDouble(3)))
    df.withColumn("__z", z)
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode("overwrite").parquet(path)
  }

  /** Write `df` as an external table bucketed (and per-bucket
    * sorted) on `key` — hash-pre-shuffled ONCE at write time. Every
    * later equi-join or aggregation on `key` between tables sharing
    * a bucket count reads co-located partitions and plans with NO
    * Exchange: the strategy a 100 TB fact⋈fact join relies on when
    * neither side broadcasts and the join repeats across jobs (the
    * write amortizes the shuffle over every subsequent read).
    *
    * The pre-write `repartition(buckets, key)` uses the same
    * murmur3-hash partitioning as the bucket spec, so each bucket's
    * rows land in exactly one task → one file per bucket — the layout
    * that makes the write-time sort order trustworthy (with several
    * files per bucket there IS no single order, which is why modern
    * Spark re-sorts within buckets by default; the legacy
    * `bucketedTableScan.outputOrdering` conf elides even that given
    * this layout — both plan shapes asserted in BucketingSpec).
    */
  def writeBucketed(df: DataFrame, table: String, path: String,
      buckets: Int, key: String): Unit = {
    val s = df.sparkSession
    s.sql(s"DROP TABLE IF EXISTS $table")
    df.repartition(buckets, col(key))
      .write.mode("overwrite")
      .bucketBy(buckets, key).sortBy(key)
      .option("path", path).saveAsTable(table)
  }

  /** Compact a parquet directory to ~`targetRows`-row files: the
    * antidote to the small-files problem (a 100 TB table written by
    * thousands of tasks accumulates millions of KB-sized files whose
    * open/footer costs dominate scans). One count + one shuffle;
    * `maxRecordsPerFile` caps stragglers if the repartition is
    * uneven.
    */
  def compact(spark: SparkSession, inPath: String, outPath: String,
      targetRows: Long): Unit = {
    val df = spark.read.parquet(inPath)
    val files = math.max(1L,
      math.ceil(df.count().toDouble / targetRows).toLong).toInt
    df.repartition(files)
      .write.option("maxRecordsPerFile", targetRows)
      .mode("overwrite").parquet(outPath)
  }

  /** ANALYZE-style per-column statistics with EXACT distinct counts
    * (c10): row count, null count, NDV, min/max — the table the
    * planner's join-reorder / broadcast decisions and a data-quality
    * monitor both read. Numeric columns report min/max as doubles
    * (pass an expression to numeric-ize dates: `unix_millis`),
    * string columns lexicographically.
    *
    * Plan shape: ONE NARROW BRANCH PER COLUMN, union'd. Each branch
    * carries exactly one distinct aggregate, so Catalyst plans it as
    * the two-phase distinct rewrite — partial per-partition dedup of
    * that single column before its shuffle — over a parquet scan
    * pruned to that column. The earlier single-aggregation form
    * (C `countDistinct`s in one agg) planned as an Expand: every row
    * replicated C times through one wide shuffle, which at sf10 cost
    * 3× the union form (measured A/B, SCALE.md round 14 (d)). The
    * branch count is the COLUMN count — scan-setup overhead, not
    * data — and each scan reads one column, so the union form's
    * total I/O equals the Expand form's single scan. At 100 TB a
    * sketch form (`approx_count_distinct` per column, measured in
    * SCALE.md) is the intended path; this exact form exists because
    * the gate hash-compares values.
    */
  def tableStats(df: DataFrame,
                 numericCols: Seq[(String, Column)],
                 stringCols: Seq[String]): DataFrame = {
    val nullS = lit(null).cast("string")
    val nullD = lit(null).cast("double")
    val branches = numericCols.map { case (name, e) =>
      df.select(e.as("v"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("v").isNull.cast("long")).as("n_nulls"),
          countDistinct(col("v")).as("ndv"),
          min(col("v")).cast("double").as("min_n"),
          max(col("v")).cast("double").as("max_n"))
        .select(lit(name).as("column"), col("n_rows"), col("n_nulls"),
          col("ndv"), col("min_n"), col("max_n"),
          nullS.as("min_s"), nullS.as("max_s"))
    } ++ stringCols.map { c =>
      df.select(col(c).as("v"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("v").isNull.cast("long")).as("n_nulls"),
          countDistinct(col("v")).as("ndv"),
          min(col("v")).as("mn"), max(col("v")).as("mx"))
        .select(lit(c).as("column"), col("n_rows"), col("n_nulls"),
          col("ndv"), nullD.as("min_n"), nullD.as("max_n"),
          col("mn").as("min_s"), col("mx").as("max_s"))
    }
    branches.reduce(_ unionAll _)
  }

  /** Equi-depth histogram of a non-null INTEGRAL column — the other
    * half of the planner-food story ([[tableStats]] gives NDV/min/max;
    * selectivity estimation wants depth-balanced ranges). Two scans:
    * pass 1 collects the `buckets − 1` boundary values at i/buckets
    * quantiles (exact `percentile`; with power-of-two `buckets` and
    * integral data every interpolation operand — i/2^k, pos, frac,
    * lo, hi — is exact in a double, so the oracle's `quantile_cont`
    * reproduces the boundaries BIT-FOR-BIT, the sp12 exact-in-double
    * discipline); pass 2 bins rows against the boundary literals
    * in-row (`bucket = #{b_i < v}`, boundary-valued rows sink to the
    * lower bucket) and aggregates count/lo/hi per bucket. At 100 TB
    * swap pass 1 for `approx_percentile`: edges move a little, depths
    * stay ~equal, and the contract — ordered disjoint ranges with
    * counts — is unchanged; pass 2's grouped scan doesn't care where
    * the literals came from.
    */
  def equiDepthHistogram(df: DataFrame, colName: String,
                         buckets: Int): DataFrame = {
    require(buckets >= 2, s"buckets must be >= 2, got $buckets")
    val probs = (1 until buckets).map(i => lit(i.toDouble / buckets))
    val bs = df.agg(percentile(col(colName), array(probs: _*)).as("bs"))
      .head().getSeq[Double](0)
    df.groupBy(size(filter(array(bs.map(lit): _*),
        x => x < col(colName))).as("bucket"))
      .agg(count(lit(1)).as("n"),
        min(col(colName)).cast("long").as("lo"),
        max(col(colName)).cast("long").as("hi"))
  }
}
