package graft
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated name prefixes — run only those
    // queries (local iteration; the driver always runs the full set).
    val only = args.lift(2).map(_.split(',').toSeq)
    val spark = graft.core.Sessions.local("graft-verify",
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    new java.io.File(outDir).mkdirs()
    val queries = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.exists(name.startsWith)) }
    val loop = QueryLoop(spark, sfDir, queries.keys)
    queries.foreach { case (name, fn) =>
      dump(spark, loop, outDir, name)(fn(spark, sfDir))
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Self-diagnosing gate: the resolved oracle mode, environment
    // fingerprint, parallelism, and each pinned query's RAW measured
    // values (GateDiag) land next to the outputs, so a driver-side
    // hash fail on a pinned row carries its own evidence —
    // check_oracle.py prints this file on FAIL. Round-10's m07 red
    // cell (partition-layout-dependent split, visible only as a bare
    // hash_match=false) is the failure class this closes.
    def opt(o: Option[String]): String = o.map(q).getOrElse("null")
    val env = graft.core.OracleEnv
    val envJson = Seq(
      s"""\"oracle_mode\": ${q(if (env.bitExact) "pinned" else "banded")}""",
      s"""\"fingerprint\": ${q(env.fingerprint)}""",
      s"""\"pinned_fingerprint\": ${q(env.PinnedFingerprint)}""",
      s"""\"mode_override_prop\": ${opt(sys.props.get("graft.oracle.mode"))}""",
      s"""\"mode_override_env\": ${opt(sys.env.get("GRAFT_ORACLE_MODE"))}""",
      s"""\"master\": ${q(spark.sparkContext.master)}""",
      s"""\"default_parallelism\": ${spark.sparkContext.defaultParallelism}""",
      s"""\"shuffle_partitions\": ${q(spark.conf.get("spark.sql.shuffle.partitions"))}""",
      s"""\"spark_graft_cpus\": ${opt(sys.env.get("SPARK_GRAFT_CPUS"))}""",
      s"""\"java_version\": ${q(System.getProperty("java.version", "?"))}""",
      s"""\"spark_version\": ${q(spark.version)}""",
      s"""\"measured\": ${graft.core.GateDiag.snapshotJson}"""
    ).mkString("{", ", ", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_env.json"), envJson)
    spark.stop()
  }

  /** Writes `query`'s result to `outDir/name` as one parquet file.
    * A query that throws gets a fail-loud sentinel instead, so it
    * cannot vanish from the gate: a 0-row frame whose one column,
    * `__verify_error`, can never match an oracle's schema (and whose
    * rowcount fails a rows-only check), so the compare records an
    * explicit fail rather than omitting the entry. */
  def dump(spark: SparkSession, loop: QueryLoop, outDir: String,
           name: String)(query: => DataFrame): Unit = loop.run {
    try query.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
    catch { case e: Throwable =>
      System.err.println(s"[verify] $name failed: ${e.getMessage}")
      e.printStackTrace()
      try {
        import spark.implicits._
        Seq.empty[String].toDF("__verify_error")
          .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      } catch { case _: Throwable => () }
    }
  }
}
