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
      numTasks = Some(1), durationMs = durationMs, failed = Some(false),
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
        .copy(totalDurationMs = Some(700L)),
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

  test("files written before endTime existed load and give the same spans") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_replay_noend").toString
    val events = Seq(
      sched("jobStart", 1000, jobId = Some(1), stageIds = Seq(0, 1),
        queryId = Some("q"), batchId = Some(4)),
      sched("stageSubmitted", 1000, stageId = Some(0)),
      sched("taskEnd", 1400, stageId = Some(0), durationMs = Some(400)),
      sched("stageCompleted", 1500, stageId = Some(0)),
      sched("stageSubmitted", 1500, stageId = Some(1)),
      sched("taskEnd", 2100, stageId = Some(1), durationMs = Some(600)),
      sched("taskEnd", 1900, stageId = Some(1), durationMs = Some(350)),
      sched("stageCompleted", 2200, stageId = Some(1)),
      sched("jobEnd", 2300, jobId = Some(1)))
    val old = events.toDS().drop("endTime")
    old.write.json(s"$dir/js")
    old.write.parquet(s"$dir/pq")
    assert(spark.read.parquet(s"$dir/pq").columns.toSeq === old.columns.toSeq)
    for (replayed <- Seq(Replay.schedulerEventsJson(spark, s"$dir/js"),
                         Replay.schedulerEventsParquet(spark, s"$dir/pq"))) {
      val rows = replayed.collect()
      assert(rows.toSet === events.toSet && rows.forall(_.endTime.isEmpty))
      assert(SpanBuilder.jobSpans(replayed).collect().toSeq ===
        Seq(JobSpan(1, 1000, 2300, Some(1L), Some("q"), Some(4L))))
      assert(SpanBuilder.stageSpans(replayed).collect().sortBy(_.stageId).toSeq === Seq(
        StageSpan(0, 1, 1000, 1500, Nil, 1, 400, 400),
        StageSpan(1, 1, 1500, 2200, Nil, 1, 600, 950)))
    }
  }

  test("files holding the dropped executor columns load and give the same spans") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit, when}
    val dir = java.nio.file.Files.createTempDirectory("graft_replay_exec").toString
    val events = Seq(
      sched("executorAdded", 900),
      sched("jobStart", 1000, jobId = Some(1), stageIds = Seq(0),
        queryId = Some("q"), batchId = Some(5)),
      sched("stageSubmitted", 1000, stageId = Some(0)),
      sched("taskEnd", 1400, stageId = Some(0), durationMs = Some(400)),
      sched("taskEnd", 1800, stageId = Some(0), durationMs = Some(700)),
      sched("stageCompleted", 1900, stageId = Some(0)),
      sched("jobEnd", 2000, jobId = Some(1)),
      sched("executorRemoved", 2100))
    val executorRow = col("kind").startsWith("executor")
    val old = events.toDS()
      .withColumn("taskId", when(col("kind") === "taskEnd", col("time")))
      .withColumn("executorId", when(executorRow || col("kind") === "taskEnd", lit("exec-a")))
      .withColumn("host", when(col("kind") === "executorAdded", lit("host-a")))
      .withColumn("cores", when(col("kind") === "executorAdded", lit(4)))
    old.write.json(s"$dir/js")
    old.write.parquet(s"$dir/pq")
    assert(Seq("taskId", "executorId", "host", "cores")
      .forall(spark.read.parquet(s"$dir/pq").columns.contains))
    val jobs = SpanBuilder.jobSpansOf(events)
    val stages = SpanBuilder.stageSpansOf(events)
    assert(jobs === Seq(JobSpan(1, 1000, 2000, Some(1L), Some("q"), Some(5L))))
    assert(stages === Seq(StageSpan(0, 1, 1000, 1900, Nil, 1, 700, 1100)))
    for (replayed <- Seq(Replay.schedulerEventsJson(spark, s"$dir/js"),
                         Replay.schedulerEventsParquet(spark, s"$dir/pq"))) {
      assert(replayed.collect().toSet === events.toSet)
      assert(SpanBuilder.jobSpans(replayed).collect().toSeq === jobs)
      assert(SpanBuilder.stageSpans(replayed).collect().toSeq === stages)
    }
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
