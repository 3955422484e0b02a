package graft.analyzer

import graft.SparkSpec
import graft.model._

/** Golden tests for the reference-parity analysis pipeline, driven by the
  * FIXTURES.md §B scenarios. */
class AnalyzerSpec extends SparkSpec {

  private def ev(kind: String, time: Long,
                 jobId: Option[Long] = None,
                 stageIds: Seq[Int] = Nil,
                 stageId: Option[Int] = None,
                 parents: Seq[Int] = Nil,
                 durationMs: Option[Long] = None,
                 sqlExecutionId: Option[Long] = None,
                 queryId: Option[String] = None,
                 batchId: Option[Long] = None): SchedulerEvent =
    SchedulerEvent(kind, time, jobId, stageIds, stageId, parents,
      numTasks = Some(1), durationMs = durationMs, failed = Some(false),
      sqlExecutionId = sqlExecutionId, queryId = queryId, batchId = batchId)

  private def progress(q: String, b: Long, rows: Long, rps: Double): BatchProgress =
    BatchProgress(q, b, "2024-01-01T00:00:00.000Z", rows, rps)

  private def analyzeRows(events: Seq[SchedulerEvent],
                          prog: Seq[BatchProgress],
                          slas: Seq[QuerySla]): Seq[CriticalPathResult] = {
    import spark.implicits._
    val jobs = SpanBuilder.jobSpans(events.toDS())
    val stages = SpanBuilder.stageSpans(events.toDS())
    BatchAnalyzer.analyze(jobs, stages, prog.toDS(), slas.toDS()).collect().toSeq
  }

  private def analyze(events: Seq[SchedulerEvent],
                      prog: Seq[BatchProgress],
                      slas: Seq[QuerySla]): Map[(String, Long), CriticalPathResult] =
    analyzeRows(events, prog, slas).map(r => (r.queryId, r.batchId) -> r).toMap

  private def job(id: Long, start: Long, end: Long, sqlExec: Option[Long] = Some(5),
                  stageIds: Seq[Int] = Nil, batch: Long = 9): Seq[SchedulerEvent] = Seq(
    ev("jobStart", start, jobId = Some(id), stageIds = stageIds, sqlExecutionId = sqlExec,
      queryId = Some("q"), batchId = Some(batch)),
    ev("jobEnd", end, jobId = Some(id)))

  private def stage(id: Int, start: Long, end: Long, task: Long,
                    parents: Seq[Int] = Nil): Seq[SchedulerEvent] = Seq(
    ev("stageSubmitted", start, stageId = Some(id), parents = parents),
    ev("taskEnd", end, stageId = Some(id), durationMs = Some(task)),
    ev("stageCompleted", end, stageId = Some(id)))

  test("readme-sample golden: brt 2094ms, ct 2047ms, SLA 10s => OVERPROVISIONED") {
    // One batch, one job [1000,3094] (span 2094 = brt), two serial stages
    // with max tasks 1000 + 1047 => critical time 2047
    // (matches reference README.md:40-46).
    val events = Seq(
      ev("jobStart", 1000, jobId = Some(1), stageIds = Seq(0, 1),
        sqlExecutionId = Some(11), queryId = Some("q"), batchId = Some(7)),
      ev("stageSubmitted", 1000, stageId = Some(0)),
      ev("taskEnd", 1990, stageId = Some(0), durationMs = Some(1000)),
      ev("stageCompleted", 2000, stageId = Some(0)),
      ev("stageSubmitted", 2000, stageId = Some(1), parents = Seq(0)),
      ev("taskEnd", 3090, stageId = Some(1), durationMs = Some(1047)),
      ev("stageCompleted", 3094, stageId = Some(1)),
      ev("jobEnd", 3094, jobId = Some(1)))
    val r = analyze(events,
      Seq(progress("q", 7, rows = 2094, rps = 1000.0)),
      Seq(QuerySla("q", 10000)))(("q", 7))
    assert(r.batchRunningTime === 2094L)
    assert(r.criticalTime === 2047L)
    assert(r.streamingQueryState === "OVERPROVISIONED")
    assert(r.stateOrdinal === 1)
  }

  test("four-states: each classifier branch reachable incl. boundaries") {
    // SLA 1000. Batches 1,2 have no jobs => ct = brt.
    val uhEvents = Seq(
      // batch 3: one job spanning 800ms with cp 400 => ct = 800-800+400 = 400
      ev("jobStart", 0, jobId = Some(31), stageIds = Seq(30),
        sqlExecutionId = Some(3), queryId = Some("q"), batchId = Some(3)),
      ev("stageSubmitted", 0, stageId = Some(30)),
      ev("taskEnd", 400, stageId = Some(30), durationMs = Some(400)),
      ev("stageCompleted", 790, stageId = Some(30)),
      ev("jobEnd", 800, jobId = Some(31)),
      // batch 4: job spans 800ms with cp 750 => ct = 800-800+750 = 750
      ev("jobStart", 0, jobId = Some(41), stageIds = Seq(40),
        sqlExecutionId = Some(4), queryId = Some("q"), batchId = Some(4)),
      ev("stageSubmitted", 0, stageId = Some(40)),
      ev("taskEnd", 750, stageId = Some(40), durationMs = Some(750)),
      ev("stageCompleted", 790, stageId = Some(40)),
      ev("jobEnd", 800, jobId = Some(41)))
    val got = analyze(uhEvents,
      Seq(
        progress("q", 1, rows = 300, rps = 1000.0),  // brt 300 = 0.3*sla boundary
        progress("q", 2, rows = 700, rps = 1000.0),  // brt 700 = 0.7*sla boundary
        progress("q", 3, rows = 800, rps = 1000.0),  // brt 800, ct 400
        progress("q", 4, rows = 800, rps = 1000.0)), // brt 800, ct 750
      Seq(QuerySla("q", 1000)))
    assert(got(("q", 1L)).streamingQueryState === "OVERPROVISIONED")
    assert(got(("q", 2L)).streamingQueryState === "OPTIMUM")
    assert(got(("q", 3L)).streamingQueryState === "UNDERPROVISIONED")
    assert(got(("q", 3L)).criticalTime === 400L)
    assert(got(("q", 4L)).streamingQueryState === "UNHEALTHY")
    assert(got(("q", 4L)).criticalTime === 750L)
  }

  test("no-new-batches: zero rows or zero rate => NONEWBATCHES, ordinal 0") {
    val got = analyze(Nil,
      Seq(progress("q", 1, rows = 0, rps = 100.0),
        progress("q", 2, rows = 50, rps = 0.0)),
      Seq(QuerySla("q", 1000)))
    assert(got(("q", 1L)).streamingQueryState === "NONEWBATCHES")
    assert(got(("q", 1L)).stateOrdinal === 0)
    assert(got(("q", 1L)).batchRunningTime === 0L)
    assert(got(("q", 2L)).streamingQueryState === "NONEWBATCHES")
  }

  test("parallel-jobs: overlap within a group counts once; serial islands add") {
    // Group 5: J1 [0,100], J2 [50,150] overlap (island span 150),
    // J3 [200,300] serial (island span 100) => est = 250.
    // No stages => cp 0 => ct = brt - 250.
    val events = Seq(
      ev("jobStart", 0, jobId = Some(1), sqlExecutionId = Some(5),
        queryId = Some("q"), batchId = Some(9)),
      ev("jobEnd", 100, jobId = Some(1)),
      ev("jobStart", 50, jobId = Some(2), sqlExecutionId = Some(5),
        queryId = Some("q"), batchId = Some(9)),
      ev("jobEnd", 150, jobId = Some(2)),
      ev("jobStart", 200, jobId = Some(3), sqlExecutionId = Some(5),
        queryId = Some("q"), batchId = Some(9)),
      ev("jobEnd", 300, jobId = Some(3)))
    val r = analyze(events,
      Seq(progress("q", 9, rows = 1000, rps = 1000.0)),
      Seq(QuerySla("q", 10000)))(("q", 9))
    assert(r.batchRunningTime === 1000L)
    assert(r.criticalTime === 1000L - 250L)
  }

  test("default SLA applies when no per-query row exists") {
    val r = analyze(Nil,
      Seq(progress("unknown", 1, rows = 10, rps = 1000.0)),
      Seq(QuerySla("other", 5)))(("unknown", 1))
    assert(r.expectedMicroBatchSLA === 120000L)
  }

  // One batch ("q", 7), one job [0, 3000] (islandSpan 3000), brt 4000
  // => serial = 1000. Two serial stages: stage 0 has 4×1000ms tasks
  // (max 1000, total 4000), stage 1 has 500+300 (max 500, total 800)
  // => criticalTime of the island = 1500, its task time = 4800.
  private val whatIfBatch = Seq(
    ev("jobStart", 0, jobId = Some(1), stageIds = Seq(0, 1),
      sqlExecutionId = Some(11), queryId = Some("q"), batchId = Some(7)),
    ev("stageSubmitted", 0, stageId = Some(0)),
    ev("taskEnd", 900, stageId = Some(0), durationMs = Some(1000)),
    ev("taskEnd", 950, stageId = Some(0), durationMs = Some(1000)),
    ev("taskEnd", 1900, stageId = Some(0), durationMs = Some(1000)),
    ev("taskEnd", 1950, stageId = Some(0), durationMs = Some(1000)),
    ev("stageCompleted", 2000, stageId = Some(0)),
    ev("stageSubmitted", 2000, stageId = Some(1), parents = Seq(0)),
    ev("taskEnd", 2600, stageId = Some(1), durationMs = Some(500)),
    ev("taskEnd", 2700, stageId = Some(1), durationMs = Some(300)),
    ev("stageCompleted", 2900, stageId = Some(1)),
    ev("jobEnd", 3000, jobId = Some(1)))

  test("estimateAt: throughput-bound at small n, critical-path floor at large n, serial fraction never scales") {
    import spark.implicits._
    // Batch ("q", 7) of whatIfBatch, on n task slots:
    //   n=2: 1000 + max(1500, ceil(4800/2)) = 1000 + 2400 = 3400
    //   n=4: 1000 + max(1500, ceil(4800/4)) = 1000 + 1500 = 2500
    //   n=8: 1000 + max(1500, ceil(4800/8)) = 1000 + 1500 = 2500 (floor)
    // Batch ("q", 8) has no jobs => estimate = brt = 700 at every n.
    val events = whatIfBatch.toDS()
    val got = BatchAnalyzer.estimateAt(
        SpanBuilder.jobSpans(events), SpanBuilder.stageSpans(events),
        Seq(progress("q", 7, rows = 4000, rps = 1000.0),
          progress("q", 8, rows = 700, rps = 1000.0)).toDS(),
        Seq(8, 2, 4))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2)) -> r.getLong(3))
      .toMap
    assert(got(("q", 7L, 2)) === 3400L)
    assert(got(("q", 7L, 4)) === 2500L)
    assert(got(("q", 7L, 8)) === 2500L) // converged to serial + critical time
    assert(Seq(2, 4, 8).map(n => got(("q", 8L, n))).forall(_ === 700L))
    assert(got.size === 6) // every batch × every asked count, exactly once
  }

  test("estimateAt's floor is analyze's criticalTime for every batch") {
    import spark.implicits._
    // Batch 9: serial jobs [0,500] and [600,1000] under brt 600 < Σ span
    // 900, so serial = -300 and ct = 600 - 900 + 300 + 200 = 200 (clamping
    // serial at 0 would read 500). Batch 10: J6 [100,400] overlaps J5 [0,1000]
    // under one sql-execution id (a broadcast beside the main job), J7
    // [1200,1300] has none: ct = 2000 - 1100 + max(850, 250) + 80 = 1830.
    // Batch 11 has a job but no progress (brt 0): ct 0.
    val events = (whatIfBatch ++
      job(3, 0, 500, sqlExec = Some(6), stageIds = Seq(2), batch = 9) ++
      job(4, 600, 1000, sqlExec = Some(6), stageIds = Seq(3), batch = 9) ++
      stage(2, 0, 500, 300) ++ stage(3, 600, 1000, 200) ++
      job(5, 0, 1000, sqlExec = Some(7), stageIds = Seq(4, 5), batch = 10) ++
      job(6, 100, 400, sqlExec = Some(7), stageIds = Seq(6), batch = 10) ++
      job(7, 1200, 1300, sqlExec = None, stageIds = Seq(7), batch = 10) ++
      stage(4, 0, 600, 500) ++ stage(5, 600, 1000, 350, Seq(4)) ++
      stage(6, 100, 400, 250) ++ stage(7, 1200, 1300, 80) ++
      job(8, 0, 100, stageIds = Seq(8), batch = 11) ++ stage(8, 0, 100, 50)).toDS()
    val prog = Seq(progress("q", 7, rows = 4000, rps = 1000.0),
      progress("q", 8, rows = 700, rps = 1000.0),
      progress("q", 9, rows = 600, rps = 1000.0),
      progress("q", 10, rows = 2000, rps = 1000.0),
      progress("q", 11, rows = 0, rps = 1000.0))
    val (jobs, stages) = (SpanBuilder.jobSpans(events), SpanBuilder.stageSpans(events))
    val critical = BatchAnalyzer.analyze(jobs, stages, prog.toDS(), Seq.empty[QuerySla].toDS())
      .collect().map(r => r.batchId -> r.criticalTime).toMap
    assert(critical === Map(7L -> 2500L, 8L -> 700L, 9L -> 200L, 10L -> 1830L, 11L -> 0L))
    val slots = stages.collect().map(_.totalTaskDurationMs).sum.toInt
    val floor = BatchAnalyzer.estimateAt(jobs, stages, prog.toDS(), Seq(slots))
      .collect().map(r => r.getLong(1) -> r.getLong(3)).toMap
    assert(floor === critical)
  }

  test("a stage listed in two jobs' stageIds belongs to the earlier job") {
    import spark.implicits._
    // J1 [0,500] runs stages 0 -> 1; J2 [600,1000] lists stage 1 again (a
    // skipped, reused stage) and runs stage 2 on top of it. Stage 1 is J1's
    // only. Critical times: J1 = 200 + 300 = 500, J2 = 400 (stage 1 is
    // outside J2). Serial islands 500 + 400 = 900, brt 2000 => ct =
    // 2000 - 900 + 500 + 400 = 2000.
    val events = job(1, 0, 500, stageIds = Seq(0, 1)) ++
      job(2, 600, 1000, stageIds = Seq(1, 2)) ++
      stage(0, 0, 200, 200) ++ stage(1, 200, 500, 300, Seq(0)) ++
      stage(2, 600, 1000, 400, Seq(1))
    val spans = SpanBuilder.stageSpans(events.toDS()).collect()
    assert(spans.map(s => (s.stageId, s.jobId)).sorted.toSeq ===
      Seq((0, 1L), (1, 1L), (2, 2L)))
    val r = analyze(events, Seq(progress("q", 9, rows = 2000, rps = 1000.0)),
      Seq(QuerySla("q", 10000)))(("q", 9))
    assert(r.criticalTime === 2000L)
  }

  test("no job's critical time exceeds its span when a later job lists an earlier job's stages") {
    import spark.implicits._
    // An AQE-like chain: each job lists every stage before it and runs one
    // new stage on top. J4 starts at J3's start time, so the tie falls to
    // the lower job id: stage 3 is J3's.
    val events = job(1, 0, 500, stageIds = Seq(0, 1)) ++
      job(2, 600, 1000, stageIds = Seq(0, 1, 2)) ++
      job(3, 1100, 1300, stageIds = Seq(0, 1, 2, 3)) ++
      job(4, 1100, 1400, stageIds = Seq(0, 1, 2, 3, 4)) ++
      stage(0, 0, 200, 200) ++ stage(1, 200, 500, 300, Seq(0)) ++
      stage(2, 600, 1000, 400, Seq(1)) ++ stage(3, 1100, 1300, 150, Seq(2)) ++
      stage(4, 1300, 1400, 90, Seq(3))
    val ds = events.toDS()
    val stages = SpanBuilder.stageSpans(ds)
    assert(stages.collect().map(s => (s.stageId, s.jobId)).sorted.toSeq ===
      Seq((0, 1L), (1, 1L), (2, 2L), (3, 3L), (4, 4L)))
    val spanMs = SpanBuilder.jobSpans(ds).collect().map(j => j.jobId -> (j.endTime - j.startTime)).toMap
    val critical = CriticalPath.perJob(stages).collect().toMap
    assert(critical === Map(1L -> 500L, 2L -> 400L, 3L -> 150L, 4L -> 90L))
    critical.foreach { case (jobId, ct) => assert(ct <= spanMs(jobId), s"job $jobId") }
  }

  test("a job or stage without its end event is dropped") {
    import spark.implicits._
    // J1 [0,1000] lists stages 0 and 1; stage 1 never completes, J2 never
    // ends. J1's critical time is stage 0's 300 alone, J2 adds no island:
    // ct = 1500 - 1000 + 300 = 800.
    val events = job(1, 0, 1000, stageIds = Seq(0, 1)) ++ stage(0, 0, 300, 300) ++
      Seq(ev("stageSubmitted", 300, stageId = Some(1), parents = Seq(0)),
        ev("taskEnd", 900, stageId = Some(1), durationMs = Some(600)),
        ev("jobStart", 500, jobId = Some(2), sqlExecutionId = Some(5),
          queryId = Some("q"), batchId = Some(9)))
    assert(SpanBuilder.jobSpans(events.toDS()).collect().map(_.jobId).toSeq === Seq(1L))
    assert(SpanBuilder.stageSpans(events.toDS()).collect().map(_.stageId).toSeq === Seq(0))
    val r = analyze(events, Seq(progress("q", 9, rows = 1500, rps = 1000.0)),
      Seq(QuerySla("q", 10000)))(("q", 9))
    assert(r.criticalTime === 800L)
  }

  test("a null sqlExecutionId makes the job its own island group") {
    // J1 [0,100] and J2 [50,150] overlap, but without a sql-execution id
    // each is its own group: est = 100 + 100 (not 150) => ct = 1000 - 200.
    val events = job(1, 0, 100, sqlExec = None) ++ job(2, 50, 150, sqlExec = None)
    val r = analyze(events, Seq(progress("q", 9, rows = 1000, rps = 1000.0)),
      Seq(QuerySla("q", 10000)))(("q", 9))
    assert(r.criticalTime === 800L)
  }

  test("duplicate progress rows give duplicate results") {
    val p = progress("q", 1, rows = 300, rps = 1000.0)
    val rows = analyzeRows(Nil, Seq(p, p), Seq(QuerySla("q", 1000)))
    assert(rows === Seq.fill(2)(
      CriticalPathResult("q", 1L, 1000L, 300L, 300L, "OVERPROVISIONED", 1)))
  }

  test("batch running time is rows / rps * 1000, truncated toward zero") {
    // 99 / 1.1 * 1000 = 89999.99999999999 in doubles; 99 * 1000 / 1.1
    // would give 90000.
    val r = analyze(Nil, Seq(progress("q", 1, rows = 99, rps = 1.1)),
      Seq(QuerySla("q", 1000000)))(("q", 1))
    assert(r.batchRunningTime === 89999L)
  }

  test("splitIslands keeps nested intervals in one island") {
    // J1 [0,100] contains J2 [10,20]; J3 [30,40] also inside J1's span.
    // A lag-only split would cut before J3 (prev end 20 < start 30), but the
    // running-max split keeps all three in one island because J1 is open.
    val spans = Seq((1L, 0L, 100L), (2L, 10L, 20L), (3L, 30L, 40L),
      (4L, 200L, 210L)) // genuinely serial
    val islands = BatchAnalyzer.splitIslands(
      spans.map { case (id, s, e) => JobSpan(id, s, e, Some(5L), Some("q"), Some(9L)) })
    assert(islands.map(_.map(_.jobId).toSet) === Seq(Set(1L, 2L, 3L), Set(4L)))
    // est = 100 + 10 => ct = 1000 - 110 (the lag-only split would give 880)
    val events = spans.flatMap { case (id, s, e) => job(id, s, e) }
    val r = analyze(events, Seq(progress("q", 9, rows = 1000, rps = 1000.0)),
      Seq(QuerySla("q", 10000)))(("q", 9))
    assert(r.criticalTime === 890L)
  }

  test("island split partitions at real gaps (property)") {
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 10) {
      val spans = (0 until 10).map { i =>
        val s = rnd.nextLong(80)
        JobSpan(i.toLong, s, s + 1 + rnd.nextLong(25), Some(5L), Some("q"), Some(9L))
      }
      val islands = BatchAnalyzer.splitIslands(spans)
      // partition: every input job appears exactly once
      assert(islands.flatten.map(_.jobId).sorted === spans.map(_.jobId).sorted)
      // islands are separated: min start of island i+1 > max end of island i
      islands.sliding(2).foreach {
        case Seq(a, b) =>
          assert(b.map(_.startTime).min > a.map(_.endTime).max, s"trial $trial: $spans")
        case _ =>
      }
    }
  }
}
