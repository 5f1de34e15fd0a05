package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSession

/** The number of entries in a session's `CacheManager`, which Spark 4
  * scopes `private[sql]`; tests compare it before and after a run to prove
  * the run released what it cached. */
object CacheEntries {
  def count(s: SparkSession): Int =
    s.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sharedState.cacheManager.numCachedEntries
}
