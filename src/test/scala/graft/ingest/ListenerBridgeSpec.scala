package graft.ingest

import java.util.Properties

import org.apache.spark.{Success => TaskSuccess}
import org.apache.spark.graft.SparkTestHooks
import org.apache.spark.scheduler._

import graft.SparkSpec
import graft.analyzer.SpanBuilder
import graft.model.{SchedulerEvent, StageSpan}

/** The scheduler bridge folds task ends into one row per (stage, executor).
  * Every reader of task ends must see the same answer as from one row per
  * task, the fold rows must count against the cap once per key, and
  * eviction must drop a fold row only with its newest task. */
class ListenerBridgeSpec extends SparkSpec {

  private def stageInfo(stageId: Int, numTasks: Int, submitted: Long,
                        completed: Long): StageInfo = {
    val s = new StageInfo(stageId, 0, s"stage $stageId", numTasks, Seq.empty, Nil, "",
      null, Seq.empty, None, 0, false, 0)
    s.submissionTime = Some(submitted)
    s.completionTime = Some(completed)
    s
  }

  /** The row one task end made before the fold: the replay-file shape. */
  private def perTaskRow(e: SparkListenerTaskEnd): SchedulerEvent = {
    val info = Option(e.taskInfo)
    SchedulerEvent("taskEnd", info.map(_.finishTime).getOrElse(0L), None, Nil,
      Some(e.stageId), Nil, None, info.map(_.taskId), info.map(_.executorId), None, None,
      info.map(_.duration), Some(info.exists(_.failed)), None, None, None)
  }

  private def jobEnd(jobId: Int, time: Long) = SparkListenerJobEnd(jobId, time, JobSucceeded)

  private def jobStart(jobId: Int, time: Long, stages: Seq[StageInfo]) =
    SparkListenerJobStart(jobId, time, stages, new Properties())

  test("folded task ends give per-task rows' stage spans and executors") {
    import spark.implicits._
    val stages = Seq(stageInfo(0, 5, 1000, 2000), stageInfo(1, 4, 2000, 3000))
    val tasks = Seq(
      SparkTestHooks.taskEnd(0, 1, "exec-a", 1000, 1400),
      SparkTestHooks.taskEnd(0, 2, "exec-a", 1400, 1950),
      SparkTestHooks.taskEnd(0, 3, "exec-b", 1000, 1300, failed = true),
      SparkTestHooks.taskEnd(0, 4, "exec-b", 1300, 1900),
      SparkListenerTaskEnd(0, 0, "ResultTask", TaskSuccess, null, null, null),
      SparkTestHooks.taskEnd(1, 5, "exec-a", 2000, 2100),
      SparkTestHooks.taskEnd(1, 6, "exec-b", 2000, 2800),
      SparkTestHooks.taskEnd(1, 7, "exec-c", 2000, 2500),
      SparkTestHooks.taskEnd(1, 8, "exec-c", 2500, 2700))
    val bridge = new ListenerBridge.SchedulerBridge()
    bridge.onJobStart(jobStart(1, 1000, stages))
    stages.foreach(s => bridge.onStageSubmitted(SparkListenerStageSubmitted(s)))
    tasks.foreach(bridge.onTaskEnd)
    stages.foreach(s => bridge.onStageCompleted(SparkListenerStageCompleted(s)))
    bridge.onJobEnd(jobEnd(1, 3000))

    val folded = bridge.snapshot(spark).collect().toSeq
    val perTask = folded.filter(_.kind != "taskEnd") ++ tasks.map(perTaskRow)
    // (0, a), (0, b), (0, no executor), (1, a), (1, b), (1, c)
    assert(folded.count(_.kind == "taskEnd") === 6)

    def spans(rows: Seq[SchedulerEvent]) =
      SpanBuilder.stageSpans(rows.toDS()).collect().sortBy(_.stageId).toSeq
    def executors(rows: Seq[SchedulerEvent]) =
      rows.filter(_.kind == "taskEnd").map(r => (r.stageId.get, r.executorId)).toSet
    assert(spans(folded) === spans(perTask))
    assert(spans(folded) === Seq(
      StageSpan(0, 1, 1000, 2000, Nil, 5, 600, 400 + 550 + 300 + 600),
      StageSpan(1, 1, 2000, 3000, Nil, 4, 800, 100 + 800 + 500 + 200)))
    assert(executors(folded) === executors(perTask))
    assert(executors(folded) === Set((0, Some("exec-a")), (0, Some("exec-b")), (0, None),
      (1, Some("exec-a")), (1, Some("exec-b")), (1, Some("exec-c"))))
  }

  test("at the cap a task end still folds into an existing row; a new row is dropped") {
    val bridge = new ListenerBridge.SchedulerBridge(maxBuffered = 2)
    bridge.onTaskEnd(SparkTestHooks.taskEnd(0, 1, "exec-a", 0, 300))
    bridge.onJobEnd(jobEnd(1, 500))
    bridge.onTaskEnd(SparkTestHooks.taskEnd(0, 2, "exec-a", 300, 400))
    assert(bridge.droppedCount === 0L)
    bridge.onTaskEnd(SparkTestHooks.taskEnd(0, 3, "exec-b", 0, 200))
    assert(bridge.droppedCount === 1L)
    val rows = bridge.snapshot(spark).collect()
    assert(rows.length === 2)
    val fold = rows.find(_.kind == "taskEnd").get
    assert((fold.executorId, fold.time, fold.durationMs, fold.totalDurationMs) ===
      ((Some("exec-a"), 400L, Some(300L), Some(400L))))
  }

  test("eviction drops a fold row only once its newest task is past the horizon") {
    val bridge = new ListenerBridge.SchedulerBridge(maxBuffered = 4)
    bridge.onJobEnd(jobEnd(1, 50))
    bridge.onTaskEnd(SparkTestHooks.taskEnd(0, 1, "exec-a", 0, 100))
    bridge.onTaskEnd(SparkTestHooks.taskEnd(0, 2, "exec-a", 100, 300))
    bridge.onTaskEnd(SparkTestHooks.taskEnd(1, 3, "exec-b", 0, 150))
    bridge.onJobStart(jobStart(2, 400, Nil))
    assert(bridge.droppedCount === 0L)

    bridge.evictBefore(200)
    val kept = bridge.snapshot(spark).collect()
    assert(kept.map(r => (r.kind, r.time)).toSet === Set(("taskEnd", 300L), ("jobStart", 400L)))
    assert(kept.find(_.kind == "taskEnd").get.totalDurationMs === Some(300L))
    // The retained count is the snapshot size: of a cap of 4, exactly two
    // more rows fit.
    bridge.onJobEnd(jobEnd(2, 500))
    bridge.onJobEnd(jobEnd(3, 500))
    assert(bridge.droppedCount === 0L)
    bridge.onJobEnd(jobEnd(4, 500))
    assert(bridge.droppedCount === 1L)
    assert(bridge.snapshot(spark).count() === 4L)

    bridge.evictBefore(301)
    assert(bridge.snapshot(spark).collect().map(_.kind).toSet === Set("jobStart", "jobEnd"))
  }
}
