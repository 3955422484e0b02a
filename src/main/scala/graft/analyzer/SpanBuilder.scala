package graft.analyzer

import scala.collection.mutable

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
  * Each builder is one kernel over Scala collections ([[jobSpansOf]],
  * [[stageSpansOf]], [[batchProgressOf]]): a single pass into mutable
  * per-job and per-stage accumulators, on the driver, where the telemetry
  * already lives (the listener bridges cap it at 2^20 scheduler and 2^16
  * progress rows, and the replay file sources feed the same functions under
  * the same bound). The Dataset signatures ([[jobSpans]], [[stageSpans]],
  * [[batchProgress]]) collect their input, call the kernel and return a
  * local Dataset, which Spark reads on the driver without a job. Rows of
  * other kinds, such as the executor rows of older replay files (T6), are
  * ignored: the capacity what-if counts task slots, not executors.
  */
object SpanBuilder {

  /** [[jobSpansOf]] of a Dataset, returned as a local Dataset. */
  def jobSpans(events: Dataset[SchedulerEvent]): Dataset[JobSpan] = {
    import events.sparkSession.implicits._
    events.sparkSession.createDataset(jobSpansOf(events.collect().toSeq))
  }

  /** [[stageSpansOf]] of a Dataset, returned as a local Dataset. */
  def stageSpans(events: Dataset[SchedulerEvent]): Dataset[StageSpan] = {
    import events.sparkSession.implicits._
    events.sparkSession.createDataset(stageSpansOf(events.collect().toSeq))
  }

  /** [[batchProgressOf]] of a Dataset, returned as a local Dataset. */
  def batchProgress(events: Dataset[ProgressEvent]): Dataset[BatchProgress] = {
    import events.sparkSession.implicits._
    events.sparkSession.createDataset(batchProgressOf(events.collect().toSeq))
  }

  /** One job's fold: its earliest start, latest end and the max of each
    * streaming FK over its rows (the FKs ride on jobStart only). */
  private final class JobAcc {
    var start, end, sqlExecutionId, batchId: Option[Long] = None
    var queryId: Option[String] = None
  }

  /** `b` folded into `a` by `f`; None holds no value. */
  private def fold[T](a: Option[T], b: Option[T])(f: (T, T) => T): Option[T] =
    if (a.isEmpty) b else if (b.isEmpty) a else Some(f(a.get, b.get))

  /** Job spans in jobId order: correlate jobStart/jobEnd, carrying the
    * streaming FKs from the start event (ref
    * `StreamingAppListener.scala:39-81`). A job's end is the latest of its
    * jobEnd times and its jobStart's `endTime`. Jobs without a start and an
    * end (in flight at snapshot time) are dropped: completed work only. */
  def jobSpansOf(events: Seq[SchedulerEvent]): Seq[JobSpan] = {
    val jobs = mutable.LongMap.empty[JobAcc]
    events.foreach { e =>
      if ((e.kind == "jobStart" || e.kind == "jobEnd") && e.jobId.isDefined) {
        val j = jobs.getOrElseUpdate(e.jobId.get, new JobAcc)
        if (e.kind == "jobStart") j.start = fold(j.start, Some(e.time))(math.min)
        else j.end = fold(j.end, Some(e.time))(math.max)
        j.end = fold(j.end, e.endTime)(math.max)
        j.sqlExecutionId = fold(j.sqlExecutionId, e.sqlExecutionId)(math.max)
        j.queryId = fold(j.queryId, e.queryId)(Ordering[String].max)
        j.batchId = fold(j.batchId, e.batchId)(math.max)
      }
    }
    jobs.toSeq.sortBy(_._1).flatMap { case (jobId, j) =>
      for (start <- j.start; end <- j.end)
        yield JobSpan(jobId, start, end, j.sqlExecutionId, j.queryId, j.batchId)
    }
  }

  /** One stage's fold over its stage and task rows. */
  private final class StageAcc {
    var start, end: Option[Long] = None
    var parents: Seq[Int] = null
    var numTasks = Int.MinValue
    var maxTask, totalTask = 0L
  }

  /** Stage spans in stageId order, incl. the longest single task, the input
    * to the critical path, and the summed task time, the input to
    * [[BatchAnalyzer.estimateAt]] (ref
    * `StreamingAppListener.scala:110-142,144-192` and sparklens
    * `StageTimeSpan.updateTasks`). A stage's `taskEnd` rows and the bridge's
    * `stageSubmitted` row are folds of its tasks: the longest task is the
    * max of their `durationMs`, and the total the sum of their
    * `totalDurationMs`, where a per-task row (None) counts its `durationMs`.
    * A stage's end is the latest of its stageCompleted times and the
    * `endTime` of its rows; its parents are those of its first
    * stageSubmitted row that lists any. So per-event rows from a replay file
    * and the live bridge's one row per stage give the same span. Stage→job
    * comes from the jobStart's stageIds (T3 `stageIDToJobID`) and is
    * single-valued: Spark also lists skipped stages (reused shuffle output),
    * so a stage listed by several jobs belongs to the earliest of them by
    * (time, jobId), the one that ran it. Stages without both a submission
    * and a completion event, or without a job, are dropped, as in
    * [[jobSpansOf]]. */
  def stageSpansOf(events: Seq[SchedulerEvent]): Seq[StageSpan] = {
    val stages = mutable.LongMap.empty[StageAcc]
    // stage -> (time, jobId) of the earliest jobStart listing it
    val owner = mutable.LongMap.empty[(Long, Long)]
    events.foreach { e =>
      val kind = e.kind
      if (e.stageId.isDefined &&
          (kind == "stageSubmitted" || kind == "stageCompleted" || kind == "taskEnd")) {
        val s = stages.getOrElseUpdate(e.stageId.get.toLong, new StageAcc)
        if (kind == "stageSubmitted") {
          s.start = fold(s.start, Some(e.time))(math.min)
          if (s.parents == null) s.parents = e.parentStageIds
        } else if (kind == "stageCompleted") s.end = fold(s.end, Some(e.time))(math.max)
        s.end = fold(s.end, e.endTime)(math.max)
        s.numTasks = math.max(s.numTasks, e.numTasks.getOrElse(0))
        // Task time rides on per-task or folded taskEnd rows and on the
        // bridge's stageSubmitted rows with their stage's fold.
        if (kind != "stageCompleted") {
          s.maxTask = math.max(s.maxTask, e.durationMs.getOrElse(0L))
          s.totalTask += e.totalDurationMs.orElse(e.durationMs).getOrElse(0L)
        }
      } else if (kind == "jobStart" && e.jobId.isDefined && e.stageIds != null) {
        val job = (e.time, e.jobId.get)
        e.stageIds.foreach { id =>
          if (owner.get(id.toLong).forall(o => Ordering[(Long, Long)].lt(job, o)))
            owner(id.toLong) = job
        }
      }
    }
    stages.toSeq.sortBy(_._1).flatMap { case (stageId, s) =>
      for (start <- s.start; end <- s.end; (_, jobId) <- owner.get(stageId))
        yield StageSpan(stageId.toInt, jobId, start, end, Option(s.parents).getOrElse(Nil),
          s.numTasks, s.maxTask, s.totalTask)
    }
  }

  /** Batch progress rows from the progress stream
    * (ref `QueryInsightsManager.scala:198-204`); rows without their counts
    * are skipped. */
  def batchProgressOf(events: Seq[ProgressEvent]): Seq[BatchProgress] =
    events.collect {
      case ProgressEvent("progress", queryId, _, _, Some(batchId), timestamp,
          Some(rows), Some(rps), _, _) =>
        BatchProgress(queryId, batchId, timestamp.orNull, rows, rps)
    }
}
