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
  * Each bridge holds only the rows the analysis reads. The scheduler bridge
  * folds at ingest, as the reference keeps one
  * `jobMap` and one `stageMap` entry each (ref `StreamingAppTracker.scala:
  * 33-34`): one `jobStart` row per job, whose `endTime` the job's end sets,
  * and one `stageSubmitted` row per stage, whose `endTime` the stage's
  * completion sets and into which every task end folds its longest task
  * (`durationMs`), summed task time (`totalDurationMs`) and failure
  * (`failed`: the stage or any of its tasks failed), as the reference folds
  * each task end into its stage's `StageTimeSpan` (ref
  * `StreamingAppListener.scala:127`). A resubmitted stage attempt merges
  * into its stage's row. An end or task event with no open row joins
  * nothing and is ignored, and so are executor events. The cap counts each
  * job and each stage once; rows past it are counted in `droppedCount`,
  * which the metrics source publishes as its droppedEvents gauge. The
  * progress bridge holds one `progress` row per progress event; query
  * started and terminated events leave no row. The listener-bus thread does
  * O(1) work per event, which is what keeps a busy app from dropping bus
  * events.
  */
object ListenerBridge {

  /** Property keys carrying streaming context on jobs (modern equivalents
    * of the description-string parse at ref `common/BatchDescription
    * .scala:28-39`, which was brittle — SURVEY.md §7.4). */
  val SqlExecutionIdKey = "spark.sql.execution.id"
  val QueryIdKey = "sql.streaming.queryId"
  val BatchIdKey = "streaming.sql.batchId"

  class SchedulerBridge(maxBuffered: Int = 1 << 20) extends SparkListener {
    private val jobs = new ConcurrentHashMap[Long, SchedulerEvent]()
    private val stages = new ConcurrentHashMap[Int, SchedulerEvent]()
    private val dropped = new AtomicLong(0)

    /** Whether one more row fits under the cap; counts the drop if not. */
    private def admit(): Boolean =
      retainedCount < maxBuffered || { dropped.incrementAndGet(); false }

    /** Opens `key`'s row, or merges `row` into the open one. */
    private def open[K](rows: ConcurrentHashMap[K, SchedulerEvent], key: K, row: SchedulerEvent)
                       (merge: SchedulerEvent => SchedulerEvent): Unit =
      rows.compute(key, (_, old) => if (old != null) merge(old) else if (admit()) row else null)

    /** Folds an event into `key`'s open row; without one it is ignored. */
    private def fold[K](rows: ConcurrentHashMap[K, SchedulerEvent], key: K)
                       (f: SchedulerEvent => SchedulerEvent): Unit =
      rows.computeIfPresent(key, (_, row) => f(row))

    private def ended(row: SchedulerEvent, time: Long): SchedulerEvent =
      row.copy(endTime = Some(row.endTime.fold(time)(math.max(_, time))))

    def droppedCount: Long = dropped.get

    /** Rows held: job and stage rows. */
    def retainedCount: Long = jobs.size + stages.size

    /** Snapshot the retained rows (job rows, then stage rows) into a
      * Dataset without consuming them — telemetry stays available to later
      * analyses, like the reference's retained tracker maps
      * (`StreamingAppTracker.scala:33-42`). */
    def snapshot(spark: SparkSession): Dataset[SchedulerEvent] = {
      import spark.implicits._
      spark.createDataset((jobs.values.asScala ++ stages.values.asScala).toSeq)
    }

    /** Retention eviction: drop rows older than `horizonMs`
      * (ref purge `StreamingAppTracker.scala:44-74`). A row's time is its
      * job's or stage's start. */
    def evictBefore(horizonMs: Long): Unit = {
      jobs.values.removeIf(e => e.time < horizonMs)
      stages.values.removeIf(e => e.time < horizonMs)
    }

    private def base(kind: String, time: Long) = SchedulerEvent(
      kind, time, None, Nil, None, Nil, None, None, None, None, None, None)

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      def prop(k: String): Option[String] = p.flatMap(pp => Option(pp.getProperty(k)))
      open(jobs, e.jobId.toLong, base("jobStart", e.time).copy(
        jobId = Some(e.jobId.toLong),
        stageIds = e.stageIds.map(_.toInt),
        sqlExecutionId = prop(SqlExecutionIdKey).flatMap(_.toLongOption),
        queryId = prop(QueryIdKey),
        batchId = prop(BatchIdKey).flatMap(_.toLongOption)))(identity)
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      fold(jobs, e.jobId.toLong)(ended(_, e.time))

    /** A resubmitted attempt merges: the earliest submission, the most
      * tasks. */
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val s = e.stageInfo
      val time = s.submissionTime.getOrElse(0L)
      open(stages, s.stageId, base("stageSubmitted", time).copy(
        stageId = Some(s.stageId),
        parentStageIds = s.parentIds.map(_.toInt),
        numTasks = Some(s.numTasks)))(
        row => row.copy(time = math.min(row.time, time),
          numTasks = row.numTasks.map(math.max(_, s.numTasks))))
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = e.stageInfo
      fold(stages, s.stageId)(row => ended(row, s.completionTime.getOrElse(0L))
        .copy(failed = Some(row.failed.contains(true) || s.failureReason.isDefined)))
    }

    /** Folds the task into its stage's row, also after the stage completed;
      * an event without task info counts as a 0 ms task. */
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val info = Option(e.taskInfo)
      val duration = info.map(_.duration).getOrElse(0L)
      val failed = info.exists(_.failed)
      fold(stages, e.stageId)(row => row.copy(
        durationMs = Some(row.durationMs.fold(duration)(math.max(_, duration))),
        totalDurationMs = Some(row.totalDurationMs.getOrElse(0L) + duration),
        failed = Some(row.failed.contains(true) || failed)))
    }
  }

  class ProgressBridge(maxBuffered: Int = 1 << 16) extends StreamingQueryListener {
    private val queue = new ConcurrentLinkedQueue[ProgressEvent]()
    private val queued = new AtomicInteger(0)
    private val dropped = new AtomicLong(0)

    def droppedCount: Long = dropped.get

    /** Rows held. */
    def retainedCount: Long = queued.get

    /** Snapshot buffered events without consuming them. */
    def snapshot(spark: SparkSession): Dataset[ProgressEvent] = {
      import spark.implicits._
      spark.createDataset(queue.asScala.toSeq)
    }

    /** (queryId, sources description) per query, read from the buffered
      * events without a Dataset: the sources of the query's progress event
      * with the highest batch id, joined by ", ". */
    def newestSources: Seq[(String, String)] =
      queue.asScala.toSeq.groupBy(_.queryId).toSeq
        .map { case (queryId, es) => (queryId, es.maxBy(_.batchId.get).sources.mkString(", ")) }

    /** Retention eviction (ref `QueryInsightsManager.scala:234-240`): keep
      * only the newest `maxBatches` batch ids per query. */
    def evictBeyond(maxBatches: Int): Unit = {
      // .toSeq before flatMap: flatMapping a Map into tuples would rebuild a
      // Map and collapse all batches of a query onto the last one.
      val keep = queue.asScala.toSeq
        .groupBy(_.queryId)
        .toSeq
        .flatMap { case (q, es) =>
          es.flatMap(_.batchId).distinct.sorted.takeRight(maxBatches)
            .map(b => (q, b))
        }.toSet
      queue.removeIf(e => !keep.contains((e.queryId, e.batchId.get)))
      queued.set(queue.size)
    }

    private def offer(e: ProgressEvent): Unit =
      if (queued.get < maxBuffered) { queue.add(e); queued.incrementAndGet() }
      else dropped.incrementAndGet()

    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()

    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      offer(ProgressEvent("progress", p.id.toString, p.runId.toString,
        Option(p.name), Some(p.batchId), Some(p.timestamp),
        Some(p.numInputRows), Some(p.processedRowsPerSecond),
        p.sources.map(_.description).toSeq, Option(p.sink).map(_.description)))
    }

    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }
}
