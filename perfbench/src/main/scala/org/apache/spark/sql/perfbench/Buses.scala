package org.apache.spark.sql.perfbench

import java.util.{Properties, UUID}

import scala.jdk.CollectionConverters._

import org.apache.spark.{Success, TaskState, UnknownReason}
import org.apache.spark.executor.{ExecutorMetrics, TaskMetrics}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{SinkProgress, SourceProgress, StreamingQueryListener, StreamingQueryProgress}

/** The benchmark's door into Spark's two listener buses: it posts synthetic
  * scheduler and streaming-query events exactly where Spark posts real ones,
  * so every registered listener (the program's bridges included) receives
  * them on the bus thread. The constructors and the buses are Spark-private,
  * hence this package. */
object Buses {

  private val noMetrics = TaskMetrics.empty
  private val noExecutorMetrics = new ExecutorMetrics()

  def post(spark: SparkSession, e: SparkListenerEvent): Unit =
    spark.sparkContext.listenerBus.post(e)

  def postStreaming(spark: SparkSession, e: StreamingQueryListener.Event): Unit =
    spark.streams.asInstanceOf[org.apache.spark.sql.classic.StreamingQueryManager]
      .postListenerEvent(e)

  /** Block until every queue of the scheduler bus has delivered its events. */
  def drain(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty(120000L)

  /** Events every bus queue has dropped so far (queue full). */
  def droppedEvents(spark: SparkSession): Long =
    spark.sparkContext.listenerBus.metrics.metricRegistry.getCounters.asScala
      .collect { case (name, c) if name.endsWith("numDroppedEvents") => c.getCount }
      .sum

  /** Mean time, in microseconds, a listener of class `cls` spends on one
    * event on the bus thread (Spark times each listener class). */
  def listenerMeanUs(spark: SparkSession, cls: Class[_]): Double =
    spark.sparkContext.listenerBus.metrics.metricRegistry.getTimers.asScala
      .collectFirst { case (name, t) if name.endsWith("listenerProcessingTime." + cls.getName) =>
        t.getSnapshot.getMean / 1e3
      }.getOrElse(0.0)

  def jobStart(jobId: Int, time: Long, stages: Seq[StageInfo],
               props: Map[String, String]): SparkListenerJobStart = {
    val p = new Properties()
    props.foreach { case (k, v) => p.setProperty(k, v) }
    SparkListenerJobStart(jobId, time, stages, p)
  }

  def jobEnd(jobId: Int, time: Long): SparkListenerJobEnd =
    SparkListenerJobEnd(jobId, time, JobSucceeded)

  def stageInfo(stageId: Int, numTasks: Int, parents: Seq[Int],
                submitted: Option[Long], completed: Option[Long]): StageInfo = {
    val s = new StageInfo(stageId, 0, s"stage $stageId", numTasks, Seq.empty,
      parents, "", noMetrics, Seq.empty, None, 0, false, 0)
    s.submissionTime = submitted
    s.completionTime = completed
    s
  }

  def taskEnd(stageId: Int, taskId: Long, index: Int, launch: Long, finish: Long,
              failed: Boolean): SparkListenerTaskEnd = {
    val info = new TaskInfo(taskId, index, 0, index, launch, "exec-" + (index % 4),
      "host-" + (index % 4), TaskLocality.PROCESS_LOCAL, false)
    info.markFinished(if (failed) TaskState.FAILED else TaskState.FINISHED, finish)
    SparkListenerTaskEnd(stageId, 0, "ResultTask",
      if (failed) UnknownReason else Success, info, noExecutorMetrics, noMetrics)
  }

  def queryStarted(id: UUID, runId: UUID, name: String, timestamp: String)
      : StreamingQueryListener.QueryStartedEvent =
    new StreamingQueryListener.QueryStartedEvent(id, runId, name, timestamp)

  def queryProgress(id: UUID, runId: UUID, name: String, batchId: Long,
                    timestamp: String, numInputRows: Long,
                    processedRowsPerSecond: Double, source: String)
      : StreamingQueryListener.QueryProgressEvent = {
    val src = new SourceProgress(source, "0", "1", "1", numInputRows, 0.0,
      processedRowsPerSecond, java.util.Collections.emptyMap[String, String]())
    val p = new StreamingQueryProgress(id, runId, name, timestamp, batchId, 0L,
      java.util.Collections.emptyMap[String, java.lang.Long](),
      java.util.Collections.emptyMap[String, String](),
      Array.empty, Array(src), new SinkProgress("MemorySink"),
      java.util.Collections.emptyMap[String, org.apache.spark.sql.Row]())
    new StreamingQueryListener.QueryProgressEvent(p)
  }
}
