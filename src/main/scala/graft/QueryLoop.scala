package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftbridge.CacheBridge

/** The per-query loop of [[Bench]], [[Verify]] and
  * [[graft.tools.TimeQuery]]: each query runs after an untimed GC, and
  * whatever it pinned is swept when it returns or throws.
  *
  * The RDDs persisted when the loop is built (the warm featurized
  * cache) survive every query; anything a query pins after that — its
  * own persists and localCheckpoint blocks — is unpersisted. Round 8
  * showed why: checkpoint blocks leaked by d06/d09/d10/bpe01 inflated
  * later queries 7-9x over their dedicated-run times (d06 40.9 s
  * sequential vs 4.5 s dedicated). The sweep is BLOCKING, so block
  * removal completes before the next query starts instead of running
  * inside its timed window (round 9: d20's multi-GB shingle arrays,
  * dropped concurrently, inflated the next query ~2×).
  *
  * Dataset caches are swept through the cache manager, not only as
  * RDDs: an entry whose RDD was unpersisted behind its back stays
  * registered, so a later `persist()` of an equal plan is a no-op and
  * every read of it recomputes. The plans cached when the loop is
  * built are kept; every entry a query adds is uncached.
  *
  * The GC is the same hygiene JMH applies between iterations: without
  * it a query pays collection debt left by its predecessor (m07 after
  * the GBT ensemble measured 2-4x its isolated time).
  */
final class QueryLoop(spark: SparkSession) {
  private val keep = spark.sparkContext.getPersistentRDDs.keySet.toSet
  private val keepPlans = CacheBridge.cachedPlans(spark)

  /** Runs `query` between the GC and the sweep. */
  def run[A](query: => A): A = {
    System.gc()
    try query finally sweep()
  }

  /** Wall seconds to build `query` and materialize every output
    * column executor-side (`toRdd.foreach`), not `count()`: under
    * `count()` the optimizer prunes all columns, so a projection-only
    * query (d19's in-row strip, t19's kernel) measured its SCAN, not
    * its work — d19 timed 0.21 s under count() vs 1.0 s materialized at
    * sf0.1. No driver collection, so the time is compute, not
    * transfer. */
  def time(query: => DataFrame): Double = run {
    val t0 = System.nanoTime()
    query.queryExecution.toRdd.foreach(_ => ())
    (System.nanoTime() - t0) / 1e9
  }

  private def sweep(): Unit = {
    CacheBridge.cachedPlans(spark)
      .filterNot(p => keepPlans.exists(_ eq p))
      .foreach(CacheBridge.uncache(spark, _))
    spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!keep.contains(id)) rdd.unpersist(blocking = true)
    }
  }
}

object QueryLoop {
  /** Untimed warm-up for the queries `names`, then the loop. Reading
    * `lineitem` keeps the first query from absorbing JVM, codegen and
    * FS-cache startup; when an ML query runs, the m-pack's shared
    * featurization is built and kept, so m01–m06 time train+predict
    * only (how BASELINE.md's per-model numbers were measured). A
    * failed warm-up is printed — it would skew the first query's
    * time — and the loop still starts. */
  def apply(spark: SparkSession, sfDir: String,
            names: Iterable[String]): QueryLoop = {
    def warm(what: String)(f: => Any): Unit =
      try f catch { case e: Throwable =>
        System.err.println(s"[warmup] $what FAILED: $e") }
    warm("lineitem")(graft.core.Tables.lineitem(spark, sfDir).count())
    if (names.exists(queries.MlQueries.queries.contains))
      warm("featurization")(queries.MlQueries.warmFeaturized(spark))
    new QueryLoop(spark)
  }
}
