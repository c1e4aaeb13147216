package org.apache.spark.sql

import org.apache.spark.metrics.source.CodegenMetrics

/** The Spark internals the harness reads that have no public accessor:
  * draining the listener bus, so an op's events are counted before its
  * totals are read, the codegen compile-time histogram, and the size of
  * the SQL cache. */
object LayerbenchAccess {

  def cachedEntries(spark: SparkSession): Int =
    spark.sharedState.cacheManager.numCachedEntries

  /** Waits up to 10 s for queued listener events to be delivered; past that
    * the readings that follow may miss some of them. */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    try sc.listenerBus.waitUntilEmpty()
    catch { case _: java.util.concurrent.TimeoutException => () }

  /** (compilations, summed compile ms) so far in this JVM. The histogram's
    * reservoir holds every sample up to 1028 compilations; beyond that the
    * sum is estimated from the reservoir mean. */
  def codegenCompiles(): (Long, Double) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    val n = h.getCount
    val snap = h.getSnapshot
    val exact = snap.getValues.map(_.toDouble).sum
    (n, if (n <= snap.size) exact else snap.getMean * n)
  }
}
