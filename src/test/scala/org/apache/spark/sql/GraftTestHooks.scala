package org.apache.spark.sql

import org.apache.spark.SparkContext

/** Spark-private state the specs read: the listener bus (drained so no
  * job-start event is still in flight when a count is read) and the
  * number of plans registered in the cache manager.
  */
object GraftTestHooks {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  def cachedPlans(spark: SparkSession): Int =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager.numCachedEntries
}
