package graft.analyzer

import scala.util.Random

import org.scalatest.funsuite.AnyFunSuite

import graft.model._

/** The one-pass span kernels against the group-by folds they replaced, on
  * seeded random telemetry that mixes every row shape the builders read. */
class SpanBuilderSpec extends AnyFunSuite {

  private val StageKinds = Set("stageSubmitted", "stageCompleted", "taskEnd")
  private val TaskKinds = Set("stageSubmitted", "taskEnd")

  /** Oracle: job spans by grouping rows per job. */
  private def oracleJobs(all: Seq[SchedulerEvent]): Seq[JobSpan] =
    all.filter(e => (e.kind == "jobStart" || e.kind == "jobEnd") && e.jobId.isDefined)
      .groupBy(_.jobId.get).toSeq
      .flatMap { case (jobId, es) =>
        def times(kind: String) = es.filter(_.kind == kind).map(_.time)
        for (start <- times("jobStart").minOption;
             end <- (times("jobEnd") ++ es.flatMap(_.endTime)).maxOption)
          yield JobSpan(jobId, start, end, es.flatMap(_.sqlExecutionId).maxOption,
            es.flatMap(_.queryId).maxOption, es.flatMap(_.batchId).maxOption)
      }

  /** Oracle: stage spans by grouping rows per stage; a stage's job is the
    * earliest jobStart by (time, jobId) listing it. */
  private def oracleStages(all: Seq[SchedulerEvent]): Seq[StageSpan] = {
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
    byStage.toSeq.sortBy(_._1).flatMap { case (stageId, span) =>
      stageJob.get(stageId).map(jobId => span.copy(jobId = jobId))
    }
  }

  private def row(kind: String, time: Long): SchedulerEvent =
    SchedulerEvent(kind, time, None, Nil, None, Nil, None, None, None, None, None, None)

  /** Seeded telemetry: per-event and bridge-folded jobs and stages,
    * resubmitted stages, task ends after completion, orphan end events,
    * in-flight jobs and stages, stages listed by two jobs (sometimes started
    * at the same time), null stage lists and null parents, executor rows. */
  private def telemetry(seed: Int): Seq[SchedulerEvent] = {
    val rnd = new Random(seed)
    def some[T](p: Double)(v: => T): Option[T] = if (rnd.nextDouble() < p) Some(v) else None
    val rows = Seq.newBuilder[SchedulerEvent]
    var nextStage = rnd.nextInt(5)
    val stagesSoFar = scala.collection.mutable.ArrayBuffer.empty[Int]
    var lastStart = 1000L
    for (jobId <- (0 until 1 + rnd.nextInt(6)).map(_.toLong * (1 + rnd.nextInt(3)) + seed % 7).distinct) {
      // Equal start times make the (time, jobId) tie-break decide a shared stage.
      val start = if (rnd.nextDouble() < 0.3) lastStart else lastStart + rnd.nextInt(500)
      lastStart = start
      val end = start + rnd.nextInt(2000)
      val own = Seq.fill(1 + rnd.nextInt(3)) { nextStage += 1 + rnd.nextInt(2); nextStage }
      val shared = if (stagesSoFar.nonEmpty && rnd.nextDouble() < 0.4)
        Seq(stagesSoFar(rnd.nextInt(stagesSoFar.size))) else Nil
      val stageIds = if (rnd.nextDouble() < 0.1) null else rnd.shuffle(own ++ shared)
      val fks = row("jobStart", start).copy(jobId = Some(jobId), stageIds = stageIds,
        sqlExecutionId = some(0.7)(rnd.nextInt(3).toLong), queryId = some(0.6)(s"q${rnd.nextInt(2)}"),
        batchId = some(0.6)(rnd.nextInt(4).toLong))
      rnd.nextInt(5) match {
        case 0 => rows += fks                                              // in flight
        case 1 => rows += fks.copy(endTime = Some(end))                    // bridge-folded
        case 2 => rows += fks.copy(endTime = Some(end)) += row("jobEnd", end + 5).copy(jobId = Some(jobId))
        case 3 => rows += row("jobEnd", end).copy(jobId = Some(jobId))     // orphan end
        case _ => rows += fks += row("jobEnd", end).copy(jobId = Some(jobId),
          batchId = some(0.2)(9L))
      }
      own.foreach { id =>
        stagesSoFar += id
        val parents = if (rnd.nextDouble() < 0.2) null
          else stagesSoFar.filter(_ < id).takeRight(rnd.nextInt(3)).toSeq
        val sStart = start + rnd.nextInt(100)
        val sEnd = sStart + rnd.nextInt(1500)
        val submitted = row("stageSubmitted", sStart).copy(stageId = Some(id),
          parentStageIds = parents, numTasks = some(0.9)(rnd.nextInt(8)))
        def task(t: Long) = row("taskEnd", t).copy(stageId = Some(id),
          durationMs = some(0.9)(rnd.nextInt(900).toLong),
          totalDurationMs = some(0.3)(rnd.nextInt(3000).toLong), numTasks = some(0.2)(rnd.nextInt(8)))
        rnd.nextInt(6) match {
          case 0 => rows += submitted += task(sEnd)                          // in flight
          case 1 => rows += submitted.copy(endTime = Some(sEnd), durationMs = Some(rnd.nextInt(900).toLong),
            totalDurationMs = Some(rnd.nextInt(4000).toLong))                // bridge-folded
          case 2 => rows += row("stageCompleted", sEnd).copy(stageId = Some(id)) += task(sEnd) // orphans
          case 3 =>                                                          // resubmitted
            rows += submitted += task(sEnd) += row("stageCompleted", sEnd).copy(stageId = Some(id)) +=
              submitted.copy(time = sEnd + 10, parentStageIds = if (rnd.nextBoolean()) null else Seq(0)) +=
              task(sEnd + 20) += row("stageCompleted", sEnd + 30).copy(stageId = Some(id))
          case _ =>                                                          // per event, late task ends
            rows += submitted
            (0 until rnd.nextInt(4)).foreach(i => rows += task(sStart + i * 10))
            rows += row("stageCompleted", sEnd).copy(stageId = Some(id))
            if (rnd.nextBoolean()) rows += task(sEnd + 50)
        }
      }
    }
    rows += row("executorAdded", 900)
    rnd.shuffle(rows.result())
  }

  test("jobSpansOf and stageSpansOf equal the group-by folds on 300 seeded telemetries") {
    var jobs, stages, droppedJobs, droppedStages = 0
    (1 to 300).foreach { seed =>
      val rows = telemetry(seed)
      val expectedJobs = oracleJobs(rows).sortBy(_.jobId)
      val expectedStages = oracleStages(rows)
      assert(SpanBuilder.jobSpansOf(rows) === expectedJobs, s"seed $seed")
      assert(SpanBuilder.stageSpansOf(rows) === expectedStages, s"seed $seed")
      jobs += expectedJobs.size
      stages += expectedStages.size
      droppedJobs += rows.flatMap(_.jobId).distinct.size - expectedJobs.size
      droppedStages += rows.flatMap(_.stageId).distinct.size - expectedStages.size
    }
    // The telemetry both yields spans and exercises the drop rules.
    assert(jobs > 300 && stages > 300 && droppedJobs > 50 && droppedStages > 50,
      (jobs, stages, droppedJobs, droppedStages))
  }
}
