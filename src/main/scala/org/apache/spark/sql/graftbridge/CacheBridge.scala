package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{CacheManager, CachedData}

/** The session's Dataset cache entries. `CacheManager` lists them only
  * through a private accessor, so reading them takes one reflective
  * call; uncaching goes through the public `uncacheQuery`, which also
  * unpersists the entry's blocks.
  */
object CacheBridge {
  private val cachedData = {
    val m = classOf[CacheManager].getDeclaredMethod("cachedData")
    m.setAccessible(true)
    m
  }

  private def classic(spark: SparkSession) =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]

  /** The logical plans of every cached Dataset, in cache order. */
  def cachedPlans(spark: SparkSession): Seq[LogicalPlan] =
    cachedData.invoke(classic(spark).sharedState.cacheManager)
      .asInstanceOf[IndexedSeq[CachedData]].map(_.plan)

  /** Drops `plan`'s cache entry and blocks until its blocks are gone. */
  def uncache(spark: SparkSession, plan: LogicalPlan): Unit =
    classic(spark).sharedState.cacheManager
      .uncacheQuery(classic(spark), plan, cascade = false, blocking = true)
}
