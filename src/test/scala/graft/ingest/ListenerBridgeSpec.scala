package graft.ingest

import java.util.Properties

import org.apache.spark.{Success => TaskSuccess}
import org.apache.spark.graft.{ListenerBusDrain, SparkTestHooks}
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkSpec
import graft.analyzer.SpanBuilder
import graft.model.{JobSpan, SchedulerEvent, StageSpan}

/** The scheduler bridge folds events at ingest into one row per job and one
  * per stage. Its rows must give the spans the same events give as one row
  * per callback (the replay-file shape), the cap must count each job and
  * each stage once, and eviction must drop a row by its start. Executor
  * and query lifecycle events leave no row in either bridge. */
class ListenerBridgeSpec extends SparkSpec {

  private def stageInfo(stageId: Int, numTasks: Int, submitted: Long,
                        completed: Option[Long], attempt: Int = 0, parents: Seq[Int] = Nil,
                        failure: Option[String] = None): StageInfo = {
    val s = new StageInfo(stageId, attempt, s"stage $stageId", numTasks, Seq.empty, parents, "",
      null, Seq.empty, None, 0, false, 0)
    s.submissionTime = Some(submitted)
    s.completionTime = completed
    s.failureReason = failure
    s
  }

  private def jobStart(jobId: Int, time: Long, stages: Seq[StageInfo]) = {
    val p = new Properties()
    p.setProperty(ListenerBridge.QueryIdKey, "q")
    p.setProperty(ListenerBridge.BatchIdKey, jobId.toString)
    SparkListenerJobStart(jobId, time, stages, p)
  }

  private def jobEnd(jobId: Int, time: Long) = SparkListenerJobEnd(jobId, time, JobSucceeded)

  private def submitted(s: StageInfo) = SparkListenerStageSubmitted(s)

  private def completed(s: StageInfo) = SparkListenerStageCompleted(s)

  private def post(bridge: ListenerBridge.SchedulerBridge, e: SparkListenerEvent): Unit = e match {
    case x: SparkListenerJobStart => bridge.onJobStart(x)
    case x: SparkListenerJobEnd => bridge.onJobEnd(x)
    case x: SparkListenerStageSubmitted => bridge.onStageSubmitted(x)
    case x: SparkListenerStageCompleted => bridge.onStageCompleted(x)
    case x: SparkListenerTaskEnd => bridge.onTaskEnd(x)
    case x: SparkListenerExecutorAdded => bridge.onExecutorAdded(x)
    case x: SparkListenerExecutorRemoved => bridge.onExecutorRemoved(x)
  }

  private def row(kind: String, time: Long) = SchedulerEvent(
    kind, time, None, Nil, None, Nil, None, None, None, None, None, None)

  /** The row one callback makes without the fold: the replay-file shape. */
  private def perEventRow(e: SparkListenerEvent): SchedulerEvent = e match {
    case x: SparkListenerJobStart =>
      row("jobStart", x.time).copy(jobId = Some(x.jobId.toLong), stageIds = x.stageIds,
        queryId = Option(x.properties.getProperty(ListenerBridge.QueryIdKey)),
        batchId = Option(x.properties.getProperty(ListenerBridge.BatchIdKey)).map(_.toLong))
    case x: SparkListenerJobEnd => row("jobEnd", x.time).copy(jobId = Some(x.jobId.toLong))
    case x: SparkListenerStageSubmitted =>
      row("stageSubmitted", x.stageInfo.submissionTime.get).copy(
        stageId = Some(x.stageInfo.stageId), parentStageIds = x.stageInfo.parentIds,
        numTasks = Some(x.stageInfo.numTasks))
    case x: SparkListenerStageCompleted =>
      row("stageCompleted", x.stageInfo.completionTime.get).copy(
        stageId = Some(x.stageInfo.stageId), failed = Some(x.stageInfo.failureReason.isDefined))
    case x: SparkListenerTaskEnd =>
      val info = Option(x.taskInfo)
      row("taskEnd", info.map(_.finishTime).getOrElse(0L)).copy(stageId = Some(x.stageId),
        durationMs = Some(info.map(_.duration).getOrElse(0L)),
        failed = Some(info.exists(_.failed)))
  }

  private def jobSpans(rows: Seq[SchedulerEvent]): Seq[JobSpan] = {
    import spark.implicits._
    SpanBuilder.jobSpans(rows.toDS()).collect().sortBy(_.jobId).toSeq
  }

  private def stageSpans(rows: Seq[SchedulerEvent]): Seq[StageSpan] = {
    import spark.implicits._
    SpanBuilder.stageSpans(rows.toDS()).collect().sortBy(_.stageId).toSeq
  }

  /** Posts `events` to a fresh bridge; asserts its rows give the spans of
    * the per-event rows and returns the bridge and those spans. */
  private def sameSpans(events: Seq[SparkListenerEvent])
      : (ListenerBridge.SchedulerBridge, Seq[JobSpan], Seq[StageSpan]) = {
    val bridge = new ListenerBridge.SchedulerBridge()
    events.foreach(post(bridge, _))
    val folded = bridge.snapshot(spark).collect().toSeq
    val perEvent = events.map(perEventRow)
    assert(jobSpans(folded) === jobSpans(perEvent))
    assert(stageSpans(folded) === stageSpans(perEvent))
    (bridge, jobSpans(folded), stageSpans(folded))
  }

  test("folded task ends give per-task rows' stage spans") {
    val stages = Seq(stageInfo(0, 5, 1000, Some(2000)), stageInfo(1, 4, 2000, Some(3000)))
    val tasks = Seq(
      SparkTestHooks.taskEnd(0, 1, "exec-a", 1000, 1400),
      SparkTestHooks.taskEnd(0, 2, "exec-a", 1400, 1950),
      SparkTestHooks.taskEnd(0, 3, "exec-b", 1000, 1300),
      SparkTestHooks.taskEnd(0, 4, "exec-b", 1300, 1900),
      SparkListenerTaskEnd(0, 0, "ResultTask", TaskSuccess, null, null, null),
      SparkTestHooks.taskEnd(1, 5, "exec-a", 2000, 2100),
      SparkTestHooks.taskEnd(1, 6, "exec-b", 2000, 2800),
      SparkTestHooks.taskEnd(1, 7, "exec-c", 2000, 2500),
      SparkTestHooks.taskEnd(1, 8, "exec-c", 2500, 2700))
    val (bridge, jobs, spans) = sameSpans(Seq(jobStart(1, 1000, stages)) ++
      stages.map(submitted) ++ tasks ++ stages.map(completed) :+ jobEnd(1, 3000))
    assert(bridge.snapshot(spark).collect().map(_.kind).sorted.toSeq ===
      Seq("jobStart", "stageSubmitted", "stageSubmitted"))
    assert(jobs === Seq(JobSpan(1, 1000, 3000, None, Some("q"), Some(1))))
    assert(spans === Seq(
      StageSpan(0, 1, 1000, 2000, Nil, 5, 600, 400 + 550 + 300 + 600),
      StageSpan(1, 1, 2000, 3000, Nil, 4, 800, 100 + 800 + 500 + 200)))
  }

  test("fold equals per-event rows: a retried stage attempt") {
    val first = stageInfo(0, 4, 1000, Some(2000), failure = Some("fetch failed"))
    val retry = stageInfo(0, 3, 2500, Some(4000), attempt = 1)
    val child = stageInfo(1, 2, 4000, Some(4500), parents = Seq(0))
    val (bridge, jobs, spans) = sameSpans(Seq(
      jobStart(1, 900, Seq(first, child)), submitted(first),
      SparkTestHooks.taskEnd(0, 1, "exec-a", 1000, 1700),
      SparkTestHooks.taskEnd(0, 2, "exec-b", 1000, 1900, failed = true),
      completed(first), submitted(retry),
      SparkTestHooks.taskEnd(0, 3, "exec-a", 2500, 3900),
      completed(retry), submitted(child),
      SparkTestHooks.taskEnd(1, 4, "exec-a", 4000, 4400),
      completed(child), jobEnd(1, 4600)))
    assert(jobs.map(j => (j.startTime, j.endTime)) === Seq((900L, 4600L)))
    assert(spans === Seq(
      StageSpan(0, 1, 1000, 4000, Nil, 4, 1400, 700 + 900 + 1400),
      StageSpan(1, 1, 4000, 4500, Seq(0), 2, 400, 400)))
    // The retry merged into the stage's one row, which remembers the failure.
    val stageRows = bridge.snapshot(spark).collect().filter(_.kind == "stageSubmitted")
    assert(stageRows.map(r => (r.stageId.get, r.failed)).sortBy(_._1).toSeq ===
      Seq((0, Some(true)), (1, Some(false))))
  }

  test("fold equals per-event rows: a task end after stageCompleted") {
    val s = stageInfo(0, 2, 1000, Some(1600))
    val (_, _, spans) = sameSpans(Seq(
      jobStart(1, 1000, Seq(s)), submitted(s),
      SparkTestHooks.taskEnd(0, 1, "exec-a", 1000, 1500),
      completed(s), jobEnd(1, 1700),
      SparkTestHooks.taskEnd(0, 2, "exec-b", 1000, 1900)))
    assert(spans === Seq(StageSpan(0, 1, 1000, 1600, Nil, 2, 900, 500 + 900)))
  }

  test("fold equals per-event rows: orphan end and task events") {
    val s = stageInfo(0, 1, 1000, Some(1500))
    val orphan = stageInfo(9, 1, 100, Some(800))
    val (bridge, jobs, spans) = sameSpans(Seq(
      jobEnd(7, 900), completed(orphan), SparkTestHooks.taskEnd(9, 1, "exec-a", 100, 700),
      jobStart(1, 1000, Seq(s)), submitted(s),
      SparkTestHooks.taskEnd(0, 2, "exec-a", 1000, 1400), completed(s), jobEnd(1, 1500)))
    assert(jobs.map(_.jobId) === Seq(1L))
    assert(spans.map(_.stageId) === Seq(0))
    assert(bridge.snapshot(spark).count() === 2L)
    assert(bridge.retainedCount === 2L && bridge.droppedCount === 0L)
  }

  test("fold equals per-event rows: an in-flight job and an in-flight stage") {
    val done = stageInfo(0, 1, 1000, Some(1500))
    val open = stageInfo(1, 2, 1200, None)
    val (_, jobs, spans) = sameSpans(Seq(
      jobStart(1, 1000, Seq(done)), submitted(done),
      SparkTestHooks.taskEnd(0, 1, "exec-a", 1000, 1400), completed(done), jobEnd(1, 1500),
      jobStart(2, 1100, Seq(open)), submitted(open),
      SparkTestHooks.taskEnd(1, 2, "exec-a", 1200, 1300)))
    assert(jobs.map(_.jobId) === Seq(1L))
    assert(spans === Seq(StageSpan(0, 1, 1000, 1500, Nil, 1, 400, 400)))
  }

  test("fold equals per-event rows: a failed task") {
    val s = stageInfo(0, 3, 1000, Some(2000))
    val (bridge, _, spans) = sameSpans(Seq(
      jobStart(1, 1000, Seq(s)), submitted(s),
      SparkTestHooks.taskEnd(0, 1, "exec-a", 1000, 1300),
      SparkTestHooks.taskEnd(0, 2, "exec-a", 1000, 1800, failed = true),
      SparkTestHooks.taskEnd(0, 3, "exec-b", 1300, 1900),
      completed(s), jobEnd(1, 2000)))
    assert(spans === Seq(StageSpan(0, 1, 1000, 2000, Nil, 3, 800, 300 + 800 + 600)))
    assert(bridge.snapshot(spark).collect().find(_.kind == "stageSubmitted").get.failed ===
      Some(true))
  }

  test("the cap counts each job and each stage once") {
    val bridge = new ListenerBridge.SchedulerBridge(maxBuffered = 2)
    val s = stageInfo(0, 3, 1000, Some(2000))
    Seq(jobStart(1, 1000, Seq(s)), submitted(s),
      SparkTestHooks.taskEnd(0, 1, "exec-a", 1000, 1300),
      SparkTestHooks.taskEnd(0, 2, "exec-b", 1000, 1500),
      completed(s), jobEnd(1, 2000),
      submitted(stageInfo(0, 3, 2100, Some(2500), attempt = 1))).foreach(post(bridge, _))
    assert(bridge.droppedCount === 0L)
    // Two new jobs are refused; a refused job's end has no row and counts
    // nothing.
    Seq(jobStart(2, 2200, Nil), jobEnd(2, 2300), jobStart(3, 2400, Nil))
      .foreach(post(bridge, _))
    assert(bridge.droppedCount === 2L)
    val rows = bridge.snapshot(spark).collect()
    assert(rows.map(r => (r.kind, r.time, r.endTime)).sortBy(_._1).toSeq ===
      Seq(("jobStart", 1000L, Some(2000L)), ("stageSubmitted", 1000L, Some(2000L))))
    assert(bridge.retainedCount === 2L)
  }

  test("eviction drops a job or stage row by its start") {
    val bridge = new ListenerBridge.SchedulerBridge(maxBuffered = 3)
    val s = stageInfo(0, 1, 150, Some(450))
    Seq(jobStart(1, 100, Seq(s)), submitted(s),
      SparkTestHooks.taskEnd(0, 1, "exec-a", 150, 440), completed(s), jobEnd(1, 500),
      jobStart(2, 300, Nil)).foreach(post(bridge, _))
    bridge.evictBefore(200)
    assert(bridge.snapshot(spark).collect().map(r => (r.kind, r.jobId)).toSeq ===
      Seq(("jobStart", Some(2L))))
    // The retained count is the snapshot size: of a cap of 3, exactly two
    // more rows fit.
    assert(bridge.retainedCount === 1L)
    Seq(jobStart(3, 600, Nil), jobStart(4, 700, Nil)).foreach(post(bridge, _))
    assert(bridge.droppedCount === 0L)
    post(bridge, jobStart(5, 800, Nil))
    assert(bridge.droppedCount === 1L)
    assert(bridge.snapshot(spark).count() === 3L)
  }

  test("executor and lifecycle events leave no row and count toward neither the cap nor droppedCount") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val sched = new ListenerBridge.SchedulerBridge(maxBuffered = 1)
    Seq(SparkListenerExecutorAdded(100, "exec-a", new cluster.ExecutorInfo("host-a", 4, Map.empty)),
      SparkListenerExecutorRemoved(200, "exec-a", "lost")).foreach(post(sched, _))
    assert(sched.snapshot(spark).collect().isEmpty)
    assert(sched.retainedCount === 0L && sched.droppedCount === 0L)
    post(sched, jobStart(1, 300, Nil))
    assert(sched.snapshot(spark).collect().map(_.kind).toSeq === Seq("jobStart"))
    assert(sched.droppedCount === 0L)

    // A bridge capped at one row holds the query's first progress row,
    // although the query's started event came before it.
    val capped = new ListenerBridge.ProgressBridge(maxBuffered = 1)
    val full = new ListenerBridge.ProgressBridge()
    Seq(capped, full).foreach(spark.streams.addListener)
    try {
      val mem = MemoryStream[Int]
      val query = mem.toDS().writeStream.format("memory").queryName("bridge_lifecycle")
        .outputMode("append").start()
      try {
        mem.addData(1 to 10: _*)
        query.processAllAvailable()
        mem.addData(11 to 20: _*)
        query.processAllAvailable()
      } finally query.stop()
      ListenerBusDrain(spark)
    } finally Seq(capped, full).foreach(spark.streams.removeListener)
    val rows = full.snapshot(spark).collect()
    assert(rows.length >= 2 && rows.forall(r => r.kind == "progress" && r.batchId.isDefined),
      rows.toSeq)
    assert(full.retainedCount === rows.length.toLong && full.droppedCount === 0L)
    assert(capped.snapshot(spark).collect().toSeq === rows.take(1).toSeq)
    assert(capped.droppedCount === rows.length - 1L)
  }
}
