package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSession

/** Spec-only views of Spark internals that are package-private. */
object SpecProbes {
  /** Deliver every posted listener event before returning, so a spec
    * counting events sees all of them. */
  def drainListeners(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** Entries in the session's cache manager, materialized or not. */
  def cachedEntries(spark: SparkSession): Int =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.numCachedEntries
}
