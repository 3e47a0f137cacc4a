package org.apache.spark.sql

import org.apache.spark.SparkContext

/** The two Spark-private reads the benchmark needs, reachable only from
  * this package. */
object PerfbenchAccess {
  /** Waits for the asynchronous listener bus to deliver every event posted
    * so far, so an op's scheduler counters are complete before they are
    * read. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)

  /** Number of entries in the session's CacheManager. */
  def cachedEntries(spark: SparkSession): Int =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.numCachedEntries
}
