package graft
import graft.core.Sessions

/** Benchmark main: runs every SparkEntry query on SPARK_GRAFT_SF_DIR,
  * prints one JSON line with per-query wall seconds. A failing query is
  * recorded as -1 in `queries`, listed in `errors`, and makes the
  * process exit nonzero — a regression cannot silently "pass" the bench.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local("graft-bench",
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "*"))
    val errors = scala.collection.mutable.ArrayBuffer.empty[String]
    val loop = QueryLoop(spark, sfDir, SparkEntry.queries.keys)
    // Order-randomized pass (protocol recorded in the JSON): a FIXED
    // alphabetical order gives every query the same predecessors
    // every round, so same-JVM heap/GC debt biases the same block of
    // successors — r11's "regression" of 18 contiguous run-order
    // queries was exactly this artifact (the forked-JVM study showed
    // full-pass lines overstate the short tail up to 8.5x). A
    // per-run shuffled order spreads predecessor debt randomly, so a
    // round-over-round per-query delta that persists across seeds is
    // a real regression, not an ordering echo. Seed from
    // SPARK_GRAFT_BENCH_SEED for reproducing a specific pass.
    val seed = sys.env.get("SPARK_GRAFT_BENCH_SEED").map(_.toLong)
      .getOrElse(System.nanoTime() % 1000000L)
    val order = new scala.util.Random(seed)
      .shuffle(SparkEntry.queries.toSeq.sortBy(_._1))
    val results = order.map { case (name, fn) =>
      val dt =
        try loop.time(fn(spark, sfDir))
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
          errors += name
          -1.0
        }
      name -> dt
    }
    def fmt(v: Double, dec: Int): String =
      s"%.${dec}f".formatLocal(java.util.Locale.ROOT, v)
    // emit name-sorted regardless of measured order, for stable diffs
    val emitted = results.sortBy(_._1)
    def qJson(short: Boolean): String = emitted.map { case (k, v) =>
      val key = if (short) k.takeWhile(_ != '_') else k
      "\"" + key + "\":" + fmt(v, if (short) 2 else 3)
    }.mkString("{", ",", "}")
    val total = results.collect { case (_, v) if v >= 0 => v }.sum
    val errs = errors.map("\"" + _ + "\"").mkString("[", ",", "]")
    def line(qs: String, extra: String): String =
      s"""{"metric":"total","value":${fmt(total, 2)},"unit":"sec","queries":$qs,"errors":$errs,"sf":"$sfDir","protocol":"warmup; per-query gc + blocking pin-sweep; shuffled run order","order_seed":$seed$extra}"""
    // The driver keeps only a ~2 KB stdout TAIL, and the full-name
    // 106-query record is ~3 KB — r4 and r6 both lost the JSON line's
    // head that way. Stdout therefore prints the record with short
    // query ids (the unique prefix before the first '_', e.g. "m03")
    // at centisecond precision — ~1.5 KB, inside the tail window —
    // while the full-name record goes to target/bench.json, which
    // survives however stdout is clipped.
    val json = line(qJson(short = false), "")
    val out = java.nio.file.Paths.get("target", "bench.json")
    java.nio.file.Files.createDirectories(out.getParent)
    java.nio.file.Files.write(out, (json + "\n").getBytes("UTF-8"))
    println(line(qJson(short = true),
      ""","keys":"short ids; full names in target/bench.json""""))
    spark.stop()
    if (errors.nonEmpty) sys.exit(1)
  }
}
