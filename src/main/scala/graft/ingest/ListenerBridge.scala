package graft.ingest

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.model.{ProgressEvent, SchedulerEvent}

/** Live ingestion bridges: thin listeners that translate Spark's scheduler
  * and streaming-query events into typed telemetry rows
  * (ref `listener/StreamingAppListener.scala:39-217` and
  * `listener/QueryProgressListener.scala:34-89`).
  *
  * The bridges keep immutable rows in driver memory, bounded at 2^20
  * scheduler and 2^16 progress rows by default; the analysis folds a
  * snapshot of those rows on the driver ([[graft.analyzer.SpanBuilder]]).
  * Most events append one row to a queue. Task ends fold per (stage,
  * executor) instead, as the reference folds each task end into its
  * stage's `StageTimeSpan` (ref `StreamingAppListener.scala:127`): one
  * `taskEnd` row per key carries the longest task (`durationMs`), the
  * summed task time (`totalDurationMs`) and the newest finish (`time`),
  * which is all the analysis reads of task ends. A fold row counts once
  * against the cap, when its key first appears. Rows past the cap are
  * counted in `droppedCount`, which the metrics source publishes as its
  * droppedEvents gauge. The listener-bus thread does O(1) work per event,
  * which is what keeps a busy app from dropping bus events.
  */
object ListenerBridge {

  /** Property keys carrying streaming context on jobs (modern equivalents
    * of the description-string parse at ref `common/BatchDescription
    * .scala:28-39`, which was brittle — SURVEY.md §7.4). */
  val SqlExecutionIdKey = "spark.sql.execution.id"
  val QueryIdKey = "sql.streaming.queryId"
  val BatchIdKey = "streaming.sql.batchId"

  class SchedulerBridge(maxBuffered: Int = 1 << 20) extends SparkListener {
    private val queue = new ConcurrentLinkedQueue[SchedulerEvent]()
    private val taskFolds = new ConcurrentHashMap[(Int, Option[String]), SchedulerEvent]()
    // ConcurrentLinkedQueue.size is O(n); the bus thread must stay O(1),
    // so the retained count (queue rows plus fold rows) is tracked separately.
    private val retained = new AtomicInteger(0)
    private val dropped = new AtomicLong(0)

    /** Whether one more row fits under the cap; counts it, or the drop. */
    private def admit(): Boolean =
      if (retained.get < maxBuffered) { retained.incrementAndGet(); true }
      else { dropped.incrementAndGet(); false }

    private def offer(e: SchedulerEvent): Unit = if (admit()) queue.add(e)

    def droppedCount: Long = dropped.get

    /** Snapshot the retained rows (queue rows, then fold rows) into a
      * Dataset without consuming them — telemetry stays available to later
      * analyses, like the reference's retained tracker maps
      * (`StreamingAppTracker.scala:33-42`). */
    def snapshot(spark: SparkSession): Dataset[SchedulerEvent] = {
      import spark.implicits._
      spark.createDataset((queue.asScala ++ taskFolds.values.asScala).toSeq)
    }

    /** Retention eviction: drop rows older than `horizonMs`
      * (ref purge `StreamingAppTracker.scala:44-74`). A fold row's time is
      * its newest task's finish, so it goes only once all its tasks are
      * older than the horizon. */
    def evictBefore(horizonMs: Long): Unit = {
      queue.removeIf(e => e.time < horizonMs)
      taskFolds.values.removeIf(e => e.time < horizonMs)
      retained.set(queue.size + taskFolds.size)
    }

    private def base(kind: String, time: Long) = SchedulerEvent(
      kind, time, None, Nil, None, Nil, None, None, None, None, None, None,
      None, None, None, None)

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      def prop(k: String): Option[String] = p.flatMap(pp => Option(pp.getProperty(k)))
      offer(base("jobStart", e.time).copy(
        jobId = Some(e.jobId.toLong),
        stageIds = e.stageIds.map(_.toInt),
        sqlExecutionId = prop(SqlExecutionIdKey).flatMap(_.toLongOption),
        queryId = prop(QueryIdKey),
        batchId = prop(BatchIdKey).flatMap(_.toLongOption)))
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      offer(base("jobEnd", e.time).copy(jobId = Some(e.jobId.toLong)))

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      offer(base("stageSubmitted", e.stageInfo.submissionTime.getOrElse(0L)).copy(
        stageId = Some(e.stageInfo.stageId),
        parentStageIds = e.stageInfo.parentIds.map(_.toInt),
        numTasks = Some(e.stageInfo.numTasks)))

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      offer(base("stageCompleted", e.stageInfo.completionTime.getOrElse(0L)).copy(
        stageId = Some(e.stageInfo.stageId),
        failed = Some(e.stageInfo.failureReason.isDefined)))

    /** Folds the task into its (stage, executor) row; an event without
      * task info counts as a 0 ms task on no executor. */
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val info = Option(e.taskInfo)
      val finish = info.map(_.finishTime).getOrElse(0L)
      val duration = info.map(_.duration).getOrElse(0L)
      val failed = info.exists(_.failed)
      taskFolds.compute((e.stageId, info.map(_.executorId)), (key, row) =>
        if (row != null) row.copy(
          time = math.max(row.time, finish),
          durationMs = row.durationMs.map(math.max(_, duration)),
          totalDurationMs = row.totalDurationMs.map(_ + duration),
          failed = row.failed.map(_ || failed))
        else if (admit()) base("taskEnd", finish).copy(
          stageId = Some(e.stageId),
          executorId = key._2,
          durationMs = Some(duration),
          failed = Some(failed),
          totalDurationMs = Some(duration))
        else null)
    }

    override def onExecutorAdded(e: SparkListenerExecutorAdded): Unit =
      offer(base("executorAdded", e.time).copy(
        executorId = Some(e.executorId),
        host = Some(e.executorInfo.executorHost),
        cores = Some(e.executorInfo.totalCores)))

    override def onExecutorRemoved(e: SparkListenerExecutorRemoved): Unit =
      offer(base("executorRemoved", e.time).copy(executorId = Some(e.executorId)))
  }

  class ProgressBridge(maxBuffered: Int = 1 << 16) extends StreamingQueryListener {
    private val queue = new ConcurrentLinkedQueue[ProgressEvent]()
    private val queued = new AtomicInteger(0)
    private val dropped = new AtomicLong(0)

    def droppedCount: Long = dropped.get

    /** Snapshot buffered events without consuming them. */
    def snapshot(spark: SparkSession): Dataset[ProgressEvent] = {
      import spark.implicits._
      spark.createDataset(queue.asScala.toSeq)
    }

    /** (queryId, sources description) per query, read from the buffered
      * events without a Dataset: the sources of the query's progress event
      * with the highest batch id, joined by ", ". */
    def newestSources: Seq[(String, String)] =
      queue.asScala.toSeq
        .filter(e => e.kind == "progress" && e.batchId.isDefined)
        .groupBy(_.queryId).toSeq
        .map { case (queryId, es) => (queryId, es.maxBy(_.batchId.get).sources.mkString(", ")) }

    /** Retention eviction (ref `QueryInsightsManager.scala:234-240`): keep
      * only the newest `maxBatches` batch ids per query, and drop the
      * batchId-less started/terminated lifecycle rows of runs that have
      * terminated AND have no retained batches left — otherwise restarts
      * accumulate lifecycle rows until the buffer cap silently drops
      * everything new. */
    def evictBeyond(maxBatches: Int): Unit = {
      val snapshotSeq = queue.asScala.toSeq
      // .toSeq before flatMap: flatMapping a Map into tuples would rebuild a
      // Map and collapse all batches of a query onto the last one.
      val keep = snapshotSeq
        .filter(_.batchId.isDefined)
        .groupBy(_.queryId)
        .toSeq
        .flatMap { case (q, es) =>
          es.flatMap(_.batchId).distinct.sorted.takeRight(maxBatches)
            .map(b => (q, b))
        }.toSet
      val retainedQueries = keep.map(_._1)
      val terminatedQueries = snapshotSeq.filter(_.kind == "terminated").map(_.queryId).toSet
      queue.removeIf { e =>
        (e.batchId.isDefined && !keep.contains((e.queryId, e.batchId.get))) ||
        (e.batchId.isEmpty && terminatedQueries.contains(e.queryId) &&
          !retainedQueries.contains(e.queryId))
      }
      queued.set(queue.size)
    }

    private def offer(e: ProgressEvent): Unit =
      if (queued.get < maxBuffered) { queue.add(e); queued.incrementAndGet() }
      else dropped.incrementAndGet()

    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      offer(ProgressEvent("started", e.id.toString, e.runId.toString,
        Option(e.name), None, Some(e.timestamp), None, None, Nil, None))

    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      offer(ProgressEvent("progress", p.id.toString, p.runId.toString,
        Option(p.name), Some(p.batchId), Some(p.timestamp),
        Some(p.numInputRows), Some(p.processedRowsPerSecond),
        p.sources.map(_.description).toSeq, Option(p.sink).map(_.description)))
    }

    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      offer(ProgressEvent("terminated", e.id.toString, e.runId.toString,
        None, None, None, None, None, Nil, None))
  }
}
