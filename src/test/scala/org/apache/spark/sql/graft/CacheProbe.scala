package org.apache.spark.sql.graft

/** Test access to the session's shared cache manager, whose entry count is
  * sql-private. */
object CacheProbe {

  /** Plans currently registered as cached, across every session of the
    * application. */
  def cachedPlans(spark: org.apache.spark.sql.SparkSession): Int =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.numCachedEntries
}
