package graft.analyzer

import org.apache.spark.sql.Dataset
import graft.model._

/** Builds the span tables (T1/T2 of SURVEY.md §1.1) from scheduler rows
  * — the reference's listener handlers mutating `StreamingAppTracker`'s
  * maps (ref `listener/StreamingAppListener.scala:39-217`) re-expressed over
  * retained rows. One path reads both row shapes of [[SchedulerEvent]]: a
  * row per listener callback (replay files, specs) and the live bridge's
  * one row per job and per stage, whose `endTime` and task fold stand for
  * the end and task rows it absorbed.
  *
  * The builders ([[jobSpans]], [[stageSpans]], [[batchProgress]]) collect
  * their input and fold it on the driver, where the telemetry
  * already lives: the listener bridges cap it at 2^20 scheduler and 2^16
  * progress rows, and the replay file sources feed the same functions
  * under the same bound. Their results come back as local Datasets, so a
  * downstream projection runs on the driver without a Spark job. The
  * bridges' executorAdded/executorRemoved rows (T6) have no builder: the
  * capacity what-if counts task slots, not executors.
  */
object SpanBuilder {

  private val StageKinds = Set("stageSubmitted", "stageCompleted", "taskEnd")
  /** Rows carrying task time: per-task or folded `taskEnd` rows, and the
    * bridge's `stageSubmitted` rows with their stage's fold. */
  private val TaskKinds = Set("stageSubmitted", "taskEnd")

  /** Job spans: correlate jobStart/jobEnd, carrying the streaming FKs from
    * the start event (ref `StreamingAppListener.scala:39-81`). A job's end
    * is the latest of its jobEnd times and its jobStart's `endTime`. Jobs
    * without a start and an end (in flight at snapshot time) are dropped:
    * completed work only. */
  def jobSpans(events: Dataset[SchedulerEvent]): Dataset[JobSpan] = {
    import events.sparkSession.implicits._
    val spans = events.collect().toSeq
      .filter(e => (e.kind == "jobStart" || e.kind == "jobEnd") && e.jobId.isDefined)
      .groupBy(_.jobId.get).toSeq
      .flatMap { case (jobId, es) =>
        def times(kind: String) = es.filter(_.kind == kind).map(_.time)
        // FKs ride on jobStart only; the max over the group recovers them.
        for (start <- times("jobStart").minOption;
             end <- (times("jobEnd") ++ es.flatMap(_.endTime)).maxOption)
          yield JobSpan(jobId, start, end, es.flatMap(_.sqlExecutionId).maxOption,
            es.flatMap(_.queryId).maxOption, es.flatMap(_.batchId).maxOption)
      }
    events.sparkSession.createDataset(spans)
  }

  /** Stage spans incl. the longest single task, the input to the critical
    * path, and the summed task time, the input to [[BatchAnalyzer.estimateAt]]
    * (ref `StreamingAppListener.scala:110-142,144-192` and sparklens
    * `StageTimeSpan.updateTasks`). A stage's `taskEnd` rows and the bridge's
    * `stageSubmitted` row are folds of its tasks: the longest task is the
    * max of their `durationMs`, and the total the sum of their
    * `totalDurationMs`, where a per-task row (None) counts its `durationMs`.
    * A stage's end is the latest of its stageCompleted times and its
    * stageSubmitted's `endTime`. So per-event rows from a replay file and
    * the live bridge's one row per stage give the same span. Stage→job comes
    * from the jobStart's stageIds (T3 `stageIDToJobID`) and is single-valued:
    * Spark also lists skipped stages (reused shuffle output), so a stage
    * listed by several jobs belongs to the earliest of them by (time, jobId),
    * the one that ran it. Stages without both a submission and a completion
    * event are dropped, as in [[jobSpans]]. */
  def stageSpans(events: Dataset[SchedulerEvent]): Dataset[StageSpan] = {
    import events.sparkSession.implicits._
    val all = events.collect().toSeq
    val byStage = all
      .filter(e => e.stageId.isDefined && StageKinds(e.kind))
      .groupBy(_.stageId.get)
      .flatMap { case (stageId, es) =>
        def times(kind: String) = es.filter(_.kind == kind).map(_.time)
        val tasks = es.filter(e => TaskKinds(e.kind))
        val maxTask = tasks.map(_.durationMs.getOrElse(0L)).foldLeft(0L)(math.max)
        val totalTask = tasks.map(t => t.totalDurationMs.orElse(t.durationMs).getOrElse(0L)).sum
        val parents = es.find(e => e.kind == "stageSubmitted" && e.parentStageIds != null)
          .map(_.parentStageIds).getOrElse(Nil)
        for (start <- times("stageSubmitted").minOption;
             end <- (times("stageCompleted") ++ es.flatMap(_.endTime)).maxOption)
          yield stageId -> StageSpan(stageId, -1L, start, end, parents,
            es.map(_.numTasks.getOrElse(0)).max, maxTask, totalTask)
      }
    val stageJob = all
      .filter(e => e.kind == "jobStart" && e.jobId.isDefined && e.stageIds != null)
      .sortBy(e => (e.time, e.jobId.get))
      .flatMap(e => e.stageIds.map(_ -> e.jobId.get))
      .groupMapReduce(_._1)(_._2)((first, _) => first)
    val spans = byStage.toSeq.sortBy(_._1).flatMap { case (stageId, span) =>
      stageJob.get(stageId).map(jobId => span.copy(jobId = jobId))
    }
    events.sparkSession.createDataset(spans)
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
