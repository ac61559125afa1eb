package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated synthetic star schema (TESTDATA.md).
  *
  * Tables are plain parquet files under `sfDir`; reads go through
  * `spark.read.parquet` so Catalyst gets vectorized scans, column
  * pruning and filter pushdown for free. At cluster scale the same
  * call works on a directory of many files — nothing here assumes a
  * single file or a single executor.
  */
object Tables {
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame     = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = load(s, d, "lineitem")
  /** `events.ts` has been written by the data generator as either
    * parquet TIMESTAMP(NANOS) (which Spark's micros TimestampType
    * refuses; read as a raw long via legacy nanosAsLong and convert
    * with integer division so no precision is lost), or tz-less
    * TIMESTAMP(MICROS) (which Spark 4 decodes as TIMESTAMP_NTZ).
    * Either way, normalize to TimestampType — the session timezone is
    * pinned to UTC so the NTZ→instant cast is value-preserving and
    * every downstream `unix_millis`/window/watermark call type-checks.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    // Sessions.local sets this at build time; the guarded set here is a
    // fallback for externally-built sessions only (no-op otherwise).
    if (!s.conf.getOption("spark.sql.legacy.parquet.nanosAsLong")
        .contains("true"))
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = load(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw // already TimestampType — nothing to do
    }
  }
  def documents(s: SparkSession, d: String): DataFrame  = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
