package org.apache.spark.graft

import org.apache.spark.{SparkEnv, Success, TaskState, UnknownReason}
import org.apache.spark.executor.{ExecutorMetrics, TaskMetrics}
import org.apache.spark.scheduler.{SparkListenerTaskEnd, TaskInfo, TaskLocality}
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

  /** A task-end event as the scheduler posts it, for a task of stage
    * `stageId` that ran on `executorId` from `launch` to `finish`. */
  def taskEnd(stageId: Int, taskId: Long, executorId: String, launch: Long, finish: Long,
              failed: Boolean = false): SparkListenerTaskEnd = {
    val info = new TaskInfo(taskId, taskId.toInt, 0, taskId.toInt, launch, executorId,
      "host-" + executorId, TaskLocality.PROCESS_LOCAL, false)
    info.markFinished(if (failed) TaskState.FAILED else TaskState.FINISHED, finish)
    SparkListenerTaskEnd(stageId, 0, "ResultTask", if (failed) UnknownReason else Success,
      info, new ExecutorMetrics(), TaskMetrics.empty)
  }
}
