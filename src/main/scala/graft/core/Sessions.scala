package graft.core

import org.apache.spark.sql.SparkSession

/** One place to build a correctly-configured local session.
  *
  * Defaults are scale-aware: AQE on (runtime shuffle-partition
  * coalescing + skew-join splitting), shuffle partitions sized to the
  * local core count instead of Spark's default 200 (on a real cluster
  * the deploy config overrides this), UTC so timestamps hash the same
  * as the DuckDB oracle.
  */
object Sessions {
  def local(appName: String = "graft",
            cores: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "*"))
      : SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      .withExtensions(new graft.expressions.GraftExtensions)
      .config("spark.sql.shuffle.partitions",
        if (cores == "*") "32" else cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // coalescePartitions.parallelismFirst stays at Spark's default
      // (true) DELIBERATELY — round-15 probed the docs-recommended
      // `false` (byte-sized targeting) and REVERTED it on decade
      // evidence: at pseudo-sf1 it coalesces the pre-generator
      // shuffles of d20/q17 by their INPUT bytes, under-parallelizing
      // stages whose row count fans out 5x+ downstream (d20 5.8 ->
      // 17.5 s, q17 3.3 -> 9.4 s warm, OPTIMIZATION_r15.md), while the
      // sf0.1 tiny-stage tail already collapses to 1 partition under
      // EITHER setting (the default's target is
      // max(totalBytes/parallelism, 1MB), so KB-sized stages merge to
      // one partition both ways — plans/r15 runtime partition
      // counts). Full story: OPTIMIZATION_r15.md "AQE" section.
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet stores TIMESTAMP(NANOS); read as raw long once
      // session-wide instead of mutating conf inside a table loader.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
