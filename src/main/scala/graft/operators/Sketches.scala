package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Frequency sketching beyond [[HeavyHitters]]' Misra–Gries pass: the
  * Count-Min grid ([[graft.expressions.CountMinAgg]]) answers point
  * frequency queries for ANY item — not just the ≥ n/k survivors —
  * from O(depth·width) state built in one partial-aggregated pass
  * over the corpus (no shuffle of the item domain; the exchange
  * carries one grid per partition, element-wise summed). The grid is
  * partition-order independent, so unlike the MG counters the sketch
  * ITSELF is oracle-hash-verifiable, estimates included.
  */
object Sketches {

  /** One-row frame holding the row-major flattened depth×width
    * Count-Min grid over `itemCol` as `cms: array<bigint>`. */
  def countMin(items: DataFrame, itemCol: String,
               depth: Int, width: Int): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge._
    items.agg(column(graft.expressions.CountMinAgg(
      expression(col(itemCol)), depth, width)
      .toAggregateExpression()).as("cms"))
  }

  /** [[countMin]] under the production hash profile —
    * floorMod(fmix64(fnv1a64("r|item")), width) per cell
    * ([[graft.expressions.CountMinAgg.cellFast]]): one multiply+xor
    * per character instead of `depth` md5 digests per token, with
    * the identical grid/merge semantics. Oracle-mirrored through
    * [[graft.queries.FnvSql]] (gate row t24), so the fast profile is
    * hash-verified like the md5 one. */
  def countMinFast(items: DataFrame, itemCol: String,
                   depth: Int, width: Int): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge._
    items.agg(column(graft.expressions.CountMinAgg(
      expression(col(itemCol)), depth, width, fnvProfile = true)
      .toAggregateExpression()).as("cms"))
  }

  /** Row-r cell index of `item` — the md5-chunk hash mirrored in
    * [[graft.expressions.CountMinAgg.cell]] and in the DuckDB oracle
    * (`CAST(('0x' || substring(md5(r || '|' || x), 1, 8)) AS BIGINT)
    * % width`). */
  def cmsCell(r: Int, item: Column, width: Int): Column =
    conv(substring(md5(concat(lit(s"$r|"), item)), 1, 8), 16, 10)
      .cast("long") % width

  /** Fast-profile row-r cell of `item` — the in-row Column form of
    * [[graft.expressions.CountMinAgg.cellFast]], riding the codegen'd
    * [[graft.expressions.Fnv64]] kernel. */
  def cmsCellFast(r: Int, item: Column, width: Int): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge._
    pmod(column(graft.expressions.Fnv64(
      expression(concat(lit(s"$r|"), item)))), lit(width.toLong))
  }

  /** Point estimate of `item`'s frequency from the flattened grid:
    * min over the `depth` probed cells, computed IN-ROW — probing n
    * items never re-touches the corpus. */
  def cmsEstimate(cms: Column, item: Column,
                  depth: Int, width: Int): Column =
    least((0 until depth).map(r =>
      element_at(cms,
        (cmsCell(r, item, width) + lit(r * width) + lit(1)).cast("int"))
    ): _*)

  /** [[cmsEstimate]] probing with the fast-profile cells — use with
    * grids built by [[countMinFast]]. */
  /** Per-row LogLog decomposition of an item under the engine-wide
    * 60-bit md5 slice: `bucket` = low `p` hash bits, `wbits` = the
    * remaining 60−p bits, `rho` = 1 + leading zeros of `wbits`
    * within its 60−p-bit field (from `length(bin(...))`, which
    * prints no leading zeros — the DuckDB mirror ltrims). Registers
    * are then `max(rho) GROUP BY bucket`: order- AND
    * duplicate-insensitive, so the sketch partial-aggregates to
    * O(2^p) longs per partition, merges by element-wise max, and is
    * hash-verifiable cell by cell (t25 / st12). Every step is a
    * codegen'd builtin — no UDF, no custom aggregate needed.
    */
  def logLog(item: Column, p: Int): Column = {
    require(p >= 1 && p <= 20, s"logLog: p must be in [1,20], got $p")
    import org.apache.spark.sql.graftbridge.ColumnBridge._
    val hv = conv(substring(md5(item), 1, 15), 16, 10).cast("long")
    val bucket = (hv % (1L << p)).cast("int")
    val wbits = shiftright(hv, p)
    // rank via the allocation-free LZCNT kernel; the builtin-only
    // executable spec it must equal is SketchesComposed.logLogComposed
    val rho = column(graft.expressions.LogLogRho(expression(wbits), p))
    struct(bucket.as("bucket"), wbits.as("wbits"), rho.as("rho"))
  }

  def cmsEstimateFast(cms: Column, item: Column,
                      depth: Int, width: Int): Column =
    least((0 until depth).map(r =>
      element_at(cms,
        (cmsCellFast(r, item, width) + lit(r * width) + lit(1))
          .cast("int"))
    ): _*)
}
