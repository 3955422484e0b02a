package graft.model

/** Telemetry data model: the reference's mutable in-memory maps
  * (qubole/streaminglens `StreamingAppTracker.scala:33-42`) re-expressed as
  * flat case-class rows with foreign keys, so the analysis folds immutable
  * rows instead of mutating maps in place (SURVEY.md §1.1).
  */

/** Scheduler-bus event (ref `listener/StreamingAppListener.scala:39-217`).
  * Two row shapes carry the same spans. Replay files and specs hold one
  * row per listener callback. The live bridge holds one row per job and one
  * per stage, as the reference's `jobMap`/`stageMap` hold one entry each
  * (`StreamingAppTracker.scala:33-34`): its `jobStart` row carries the
  * job's end in `endTime`, and its `stageSubmitted` row carries the stage's
  * end in `endTime` and the fold of its tasks (`durationMs`,
  * `totalDurationMs`, `failed`). Rows of any other kind are ignored by the
  * span builders. Nullable fields depend on `kind`. */
case class SchedulerEvent(
    kind: String,                 // jobStart|jobEnd|stageSubmitted|stageCompleted|taskEnd
    time: Long,                   // epoch millis
    jobId: Option[Long],
    stageIds: Seq[Int],
    stageId: Option[Int],
    parentStageIds: Seq[Int],
    numTasks: Option[Int],
    durationMs: Option[Long],     // taskEnd, folded stageSubmitted: the row's longest task
    failed: Option[Boolean],      // taskEnd: the task failed; stageCompleted: the stage did;
                                  // folded stageSubmitted: the stage or any of its tasks did
    sqlExecutionId: Option[Long], // "spark.sql.execution.id" job property
    queryId: Option[String],      // "sql.streaming.queryId" job property
    batchId: Option[Long],
    // taskEnd, folded stageSubmitted: summed execution time of the row's
    // tasks; None on a per-task row, which counts as its own durationMs
    totalDurationMs: Option[Long] = None,
    // folded jobStart/stageSubmitted: the latest jobEnd/stageCompleted time
    // seen; None while the job or stage is in flight, and on per-event rows
    endTime: Option[Long] = None)

/** Streaming-query progress event
  * (ref `listener/QueryProgressListener.scala:34-89`). The live bridge holds
  * only `progress` rows; replay files may also hold `started`/`terminated`
  * lifecycle rows, which the analysis ignores. */
case class ProgressEvent(
    kind: String,                 // progress (started | terminated in replay files)
    queryId: String,
    queryRunId: String,
    queryName: Option[String],
    batchId: Option[Long],
    timestamp: Option[String],    // ISO-8601 UTC
    numInputRows: Option[Long],
    processedRowsPerSecond: Option[Double],
    sources: Seq[String],
    sinkDesc: Option[String])

/** One job's span (ref T1 `jobMap`, sparklens `JobTimeSpan`). */
case class JobSpan(
    jobId: Long,
    startTime: Long,
    endTime: Long,
    sqlExecutionId: Option[Long],
    queryId: Option[String],
    batchId: Option[Long])

/** One stage's span + the longest single task in it (ref T2 `stageMap`,
  * sparklens `StageTimeSpan`; max task time feeds the critical path;
  * total task time feeds the task-slot what-if — defaulted so
  * pre-existing construction sites and serialized spans stay valid). */
case class StageSpan(
    stageId: Int,
    jobId: Long,
    startTime: Long,
    endTime: Long,
    parentStageIds: Seq[Int],
    numTasks: Int,
    maxTaskDurationMs: Long,
    totalTaskDurationMs: Long = 0L)

/** Per-query SLA config row (ref T8 `expectedMicroBatchSLAMap`). */
case class QuerySla(queryIdent: String, slaMillis: Long)

/** Per-batch progress snapshot (ref `common/QueryProgress.scala:22-26`). */
case class BatchProgress(
    queryId: String,
    batchId: Long,
    timestamp: String,
    numInputRows: Long,
    processedRowsPerSecond: Double)

/** Critical-path analysis output
  * (ref `common/results/StreamingCriticalPathResults.scala:23-26`). */
case class CriticalPathResult(
    queryId: String,
    batchId: Long,
    expectedMicroBatchSLA: Long,
    batchRunningTime: Long,
    criticalTime: Long,
    streamingQueryState: String,
    stateOrdinal: Int)

/** Hourly aggregate (ref `common/results/AggregateStateResults.scala:20-21`). */
case class AggregateStateResult(
    queryId: String,
    score: Double,
    state: String,
    recommendation: String)
