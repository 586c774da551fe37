package org.apache.spark.sql.graft

/** Test-scope bridge into the `private[sql]` CacheManager entry count, so
  * leak specs can assert that a failed call dropped every Dataset-level
  * cache entry it registered (persisted-RDD ids alone miss entries whose
  * plan never materialized).
  */
object CacheBridge {
  def numCachedEntries(spark: org.apache.spark.sql.SparkSession): Int =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.numCachedEntries
}
