package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.SparkSession

/** The number of frames registered in a session's cache manager. The
  * count is `private[sql]`, so the spec helper lives in a `sql`
  * subpackage, like [[Bridge]].
  */
object CacheEntries {
  def apply(spark: SparkSession): Int =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.numCachedEntries
}
