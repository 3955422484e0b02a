package graft.analyzer

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.model._

/** Builds the span tables (T1/T2/T6 of SURVEY.md §1.1) from raw scheduler
  * events — the reference's listener handlers mutating
  * `StreamingAppTracker`'s maps (ref `listener/StreamingAppListener.scala:39-217`)
  * re-expressed over retained rows.
  *
  * The live-path builders ([[jobSpans]], [[stageSpans]], [[batchProgress]])
  * collect their input and fold it on the driver, where the telemetry
  * already lives: the listener bridges cap it at 2^20 scheduler and 2^16
  * progress rows, and the replay file sources feed the same functions
  * under the same bound. Their results come back as local Datasets, so a
  * downstream projection runs on the driver without a Spark job. The
  * executor tables stay Dataset plans.
  */
object SpanBuilder {

  private val StageKinds = Set("stageSubmitted", "stageCompleted", "taskEnd")

  /** Job spans: correlate jobStart/jobEnd, carrying the streaming FKs from
    * the start event (ref `StreamingAppListener.scala:39-81`). Jobs without
    * both events (in flight at snapshot time) are dropped: completed work
    * only. */
  def jobSpans(events: Dataset[SchedulerEvent]): Dataset[JobSpan] = {
    import events.sparkSession.implicits._
    val spans = events.collect().toSeq
      .filter(e => (e.kind == "jobStart" || e.kind == "jobEnd") && e.jobId.isDefined)
      .groupBy(_.jobId.get).toSeq
      .flatMap { case (jobId, es) =>
        def times(kind: String) = es.filter(_.kind == kind).map(_.time)
        // FKs ride on jobStart only; the max over the group recovers them.
        for (start <- times("jobStart").minOption; end <- times("jobEnd").maxOption)
          yield JobSpan(jobId, start, end, es.flatMap(_.sqlExecutionId).maxOption,
            es.flatMap(_.queryId).maxOption, es.flatMap(_.batchId).maxOption)
      }
    events.sparkSession.createDataset(spans)
  }

  /** Stage spans incl. the longest single task, the input to the critical
    * path, and the summed task time, the input to [[BatchAnalyzer.estimateAt]]
    * (ref `StreamingAppListener.scala:110-142,144-192` and sparklens
    * `StageTimeSpan.updateTasks`). A stage's `taskEnd` rows are folds of its
    * tasks: the longest task is the max of their `durationMs`, and the total
    * the sum of their `totalDurationMs`, where a per-task row (None) counts
    * its `durationMs`. So per-task rows from a replay file and the live
    * bridge's per-(stage, executor) rows give the same span. Stage→job comes
    * from the jobStart's stageIds (T3 `stageIDToJobID`): a stage listed by
    * two jobs yields one span per job. Stages without both a submission and
    * a completion event are dropped, as in [[jobSpans]]. */
  def stageSpans(events: Dataset[SchedulerEvent]): Dataset[StageSpan] = {
    import events.sparkSession.implicits._
    val all = events.collect().toSeq
    val byStage = all
      .filter(e => e.stageId.isDefined && StageKinds(e.kind))
      .groupBy(_.stageId.get)
      .flatMap { case (stageId, es) =>
        def times(kind: String) = es.filter(_.kind == kind).map(_.time)
        val tasks = es.filter(_.kind == "taskEnd")
        val maxTask = tasks.map(_.durationMs.getOrElse(0L)).foldLeft(0L)(math.max)
        val totalTask = tasks.map(t => t.totalDurationMs.orElse(t.durationMs).getOrElse(0L)).sum
        val parents = es.find(e => e.kind == "stageSubmitted" && e.parentStageIds != null)
          .map(_.parentStageIds).getOrElse(Nil)
        for (start <- times("stageSubmitted").minOption; end <- times("stageCompleted").maxOption)
          yield stageId -> StageSpan(stageId, -1L, start, end, parents,
            es.map(_.numTasks.getOrElse(0)).max, maxTask, totalTask)
      }
    val spans = for {
      e <- all if e.kind == "jobStart" && e.jobId.isDefined && e.stageIds != null
      stageId <- e.stageIds
      span <- byStage.get(stageId)
    } yield span.copy(jobId = e.jobId.get)
    events.sparkSession.createDataset(spans)
  }

  /** Executor spans (ref `StreamingAppListener.scala:194-217`). */
  def executorSpans(events: Dataset[SchedulerEvent]): Dataset[ExecutorSpan] = {
    import events.sparkSession.implicits._
    events.toDF()
      .filter(col("kind").isin("executorAdded", "executorRemoved") &&
        col("executorId").isNotNull)
      .groupBy(col("executorId"))
      .agg(
        max(col("host")).as("host"),
        max(coalesce(col("cores"), lit(0))).as("cores"),
        min(when(col("kind") === "executorAdded", col("time"))).as("startTime"),
        max(when(col("kind") === "executorRemoved", col("time"))).as("endTime"))
      .select(col("executorId"), col("host"), col("cores"),
        col("startTime"), col("endTime"))
      .as[ExecutorSpan]
  }

  /** Job→executor bridge rows (T5 `jobIdToExecutorId`,
    * ref `StreamingAppTracker.scala:37`): which executors ran tasks of which
    * job, from taskEnd events resolved through the stage→job mapping. */
  def jobExecutors(events: Dataset[SchedulerEvent]): DataFrame = {
    val stageToJob = events.toDF()
      .filter(col("kind") === "jobStart")
      .select(col("jobId"), explode(col("stageIds")).as("stageId"))
    events.toDF()
      .filter(col("kind") === "taskEnd" &&
        col("executorId").isNotNull && col("stageId").isNotNull)
      .select(col("stageId"), col("executorId"))
      .join(stageToJob, "stageId")
      .select(col("jobId"), col("executorId"))
      .distinct()
  }

  /** Executors active in one batch — the reference's semi-join chain
    * (ref `common/MicroBatchContext.scala:96-99,123-129`): executors whose
    * id appears among the batch's jobs' executors. */
  def batchExecutors(executors: Dataset[ExecutorSpan], jobs: Dataset[JobSpan],
                     jobExec: DataFrame, queryId: String,
                     batchId: Long): Dataset[ExecutorSpan] = {
    import executors.sparkSession.implicits._
    val batchJobs = jobs.toDF()
      .filter(col("queryId") === queryId && col("batchId") === batchId)
      .select(col("jobId"))
    executors.toDF()
      .join(
        jobExec.join(batchJobs, Seq("jobId"), "left_semi")
          .select(col("executorId")),
        Seq("executorId"), "left_semi")
      .as[ExecutorSpan]
  }

  /** Batch progress rows from the progress stream
    * (ref `QueryInsightsManager.scala:198-204`); rows without their counts
    * are skipped. */
  def batchProgress(events: Dataset[ProgressEvent]): Dataset[BatchProgress] = {
    import events.sparkSession.implicits._
    events.sparkSession.createDataset(events.collect().toSeq.collect {
      case ProgressEvent("progress", queryId, _, _, Some(batchId), timestamp,
          Some(rows), Some(rps), _, _) =>
        BatchProgress(queryId, batchId, timestamp.orNull, rows, rps)
    })
  }
}
