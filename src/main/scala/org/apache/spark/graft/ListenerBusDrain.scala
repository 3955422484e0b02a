package org.apache.spark.graft

import org.apache.spark.sql.SparkSession

/** Waits out Spark's asynchronous listener bus, which is `private[spark]`
  * (hence this package, as for [[GraftMetricsSource]]). Streaming-query
  * events travel on the same bus, so a drain covers both listener bridges. */
object ListenerBusDrain {

  /** Block until every listener has received every event posted so far;
    * throws a `TimeoutException` after a minute. */
  def apply(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty(60000L)
}
