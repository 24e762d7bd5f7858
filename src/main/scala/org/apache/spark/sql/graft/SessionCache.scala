package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.classic.ClassicConversions.castToImpl

/** Bridge to the `private[spark]` members the leftover-block check
  * (`graft.Verify.released`) reads: the session cache's entry count and an
  * RDD's creation site. */
object SessionCache {
  def entries(spark: SparkSession): Int =
    castToImpl(spark).sharedState.cacheManager.numCachedEntries

  /** `<RDD class>[<id>] at <creation site>`. */
  def describe(rdd: RDD[_]): String =
    s"${rdd.getClass.getSimpleName}[${rdd.id}] at ${rdd.getCreationSite}"
}
