package graft.ingest

import graft.SparkSpec
import graft.analyzer.{BatchAnalyzer, SpanBuilder}
import graft.model._

/** Replay sources: recorded telemetry must round-trip through both file
  * formats schema-exactly, and the full analysis pipeline must run over
  * replayed (offline) telemetry just like over live-bridged telemetry. */
class ReplaySpec extends SparkSpec {

  private def sched(kind: String, time: Long, jobId: Option[Long] = None,
                    stageId: Option[Int] = None, durationMs: Option[Long] = None,
                    stageIds: Seq[Int] = Nil, queryId: Option[String] = None,
                    batchId: Option[Long] = None): SchedulerEvent =
    SchedulerEvent(kind, time, jobId, stageIds, stageId, Nil,
      numTasks = Some(1), taskId = None, executorId = None, host = None,
      cores = None, durationMs = durationMs, failed = Some(false),
      sqlExecutionId = Some(1L), queryId = queryId, batchId = batchId)

  test("scheduler and progress events round-trip through parquet and json") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_replay").toString
    val events = Seq(
      sched("jobStart", 1000, jobId = Some(1), stageIds = Seq(0),
        queryId = Some("q"), batchId = Some(3)),
      sched("taskEnd", 1500, stageId = Some(0), durationMs = Some(400)),
      sched("jobEnd", 2000, jobId = Some(1)))
    val prog = Seq(
      ProgressEvent("progress", "q", "run1", Some("name"), Some(3L),
        Some("2024-01-01T00:00:00.000Z"), Some(100L), Some(50.0),
        Seq("MemorySource[x]"), Some("MemorySink")))

    events.toDS().write.parquet(s"$dir/sched_pq")
    events.toDS().write.json(s"$dir/sched_js")
    prog.toDS().write.parquet(s"$dir/prog_pq")
    prog.toDS().write.json(s"$dir/prog_js")

    assert(Replay.schedulerEventsParquet(spark, s"$dir/sched_pq")
      .collect().toSet === events.toSet)
    assert(Replay.schedulerEventsJson(spark, s"$dir/sched_js")
      .collect().toSet === events.toSet)
    assert(Replay.progressEventsParquet(spark, s"$dir/prog_pq")
      .collect().toSet === prog.toSet)
    assert(Replay.progressEventsJson(spark, s"$dir/prog_js")
      .collect().toSet === prog.toSet)
  }

  test("a folded taskEnd row keeps its summed task time through parquet and json") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_replay_fold").toString
    val events = Seq(
      sched("taskEnd", 1500, stageId = Some(0), durationMs = Some(400))
        .copy(executorId = Some("exec-a"), totalDurationMs = Some(700L)),
      sched("jobEnd", 2000, jobId = Some(1)))
    events.toDS().write.parquet(s"$dir/pq")
    events.toDS().write.json(s"$dir/js")
    assert(Replay.schedulerEventsParquet(spark, s"$dir/pq").collect().toSet === events.toSet)
    assert(Replay.schedulerEventsJson(spark, s"$dir/js").collect().toSet === events.toSet)
  }

  test("a json file written before totalDurationMs existed reads each taskEnd as one task") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_replay_old").toString
    val events = Seq(
      sched("jobStart", 1000, jobId = Some(1), stageIds = Seq(0)),
      sched("stageSubmitted", 1000, stageId = Some(0)),
      sched("taskEnd", 1400, stageId = Some(0), durationMs = Some(400)),
      sched("taskEnd", 1900, stageId = Some(0), durationMs = Some(900)),
      sched("stageCompleted", 2000, stageId = Some(0)),
      sched("jobEnd", 2000, jobId = Some(1)))
    events.toDS().drop("totalDurationMs").write.json(s"$dir/js")
    val lines = spark.read.textFile(s"$dir/js").collect()
    assert(lines.length === events.length && lines.forall(!_.contains("totalDurationMs")))

    val replayed = Replay.schedulerEventsJson(spark, s"$dir/js")
    assert(replayed.collect().toSet === events.toSet)
    assert(replayed.collect().forall(_.totalDurationMs.isEmpty))
    val span = SpanBuilder.stageSpans(replayed).collect().toSeq
    assert(span.map(s => (s.maxTaskDurationMs, s.totalTaskDurationMs)) === Seq((900L, 1300L)))
  }

  test("offline analysis over replayed telemetry classifies the batch") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_replay2").toString
    val events = Seq(
      sched("jobStart", 1000, jobId = Some(1), stageIds = Seq(0),
        queryId = Some("q"), batchId = Some(7)),
      sched("stageSubmitted", 1000, stageId = Some(0)),
      sched("taskEnd", 1900, stageId = Some(0), durationMs = Some(900)),
      sched("stageCompleted", 2000, stageId = Some(0)),
      sched("jobEnd", 2000, jobId = Some(1)))
    events.toDS().write.parquet(s"$dir/sched")

    val replayed = Replay.schedulerEventsParquet(spark, s"$dir/sched")
    val results = BatchAnalyzer.analyze(
      SpanBuilder.jobSpans(replayed),
      SpanBuilder.stageSpans(replayed),
      Seq(BatchProgress("q", 7L, "2024-01-01T00:00:00.000Z", 100L, 50.0)).toDS(),
      Seq(QuerySla("q", 10000L)).toDS()).collect()
    assert(results.length === 1)
    assert(results.head.queryId === "q")
    assert(results.head.batchRunningTime > 0L)
    // 1s-scale batch vs 10s SLA (exact span math is pinned by AnalyzerSpec
    // goldens on in-memory data — same code path)
    assert(results.head.streamingQueryState === "OVERPROVISIONED")
  }
}
