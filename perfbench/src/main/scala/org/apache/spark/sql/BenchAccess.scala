package org.apache.spark.sql

import org.apache.spark.SparkContext

/** The two Spark internals the benchmark reads, both package-private,
  * hence this file's package. */
object BenchAccess {
  /** Blocks until the listener bus has delivered every queued event, so
    * the jobs, tasks and query executions of one traced operation are
    * attributed before the next operation starts. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Number of DataFrame cache entries alive in the session. */
  def cachedPlans(spark: SparkSession): Int =
    spark.sharedState.cacheManager.numCachedEntries
}
