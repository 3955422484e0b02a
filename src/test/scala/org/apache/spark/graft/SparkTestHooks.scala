package org.apache.spark.graft

import org.apache.spark.SparkEnv
import org.apache.spark.sql.SparkSession

/** Test access to driver state Spark keeps package-private. */
object SparkTestHooks {

  /** Block until every listener has received every event posted so far.
    * Streaming-query events travel on the same bus, so this covers both of
    * the graft's bridges. */
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty(60000L)

  /** The value of gauge `gauge` in the newest registered metrics source
    * named `source`. */
  def gauge(source: String, gauge: String): Any =
    SparkEnv.get.metricsSystem.getSourcesByName(source).last
      .metricRegistry.getGauges.get(gauge).getValue
}
