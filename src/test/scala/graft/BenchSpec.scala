package graft

import org.apache.spark.graft.ListenerBusDrain

import graft.ingest.ListenerBridge
import graft.model.SchedulerEvent

/** Bench's per-key Spark accounting, checked against Spark's own status
  * tracker on a real query and against the critical-time fold on rows. */
class BenchSpec extends SparkSpec {

  private def row(kind: String, time: Long, jobId: Option[Long] = None,
                  stageIds: Seq[Int] = Nil, stageId: Option[Int] = None,
                  parents: Seq[Int] = Nil, task: Option[Long] = None,
                  sqlExec: Option[Long] = None): SchedulerEvent =
    SchedulerEvent(kind, time, jobId, stageIds, stageId, parents, Some(1), task, Some(false),
      sqlExec, None, None)

  private def stage(id: Int, start: Long, end: Long, task: Long,
                    parents: Seq[Int] = Nil): Seq[SchedulerEvent] = Seq(
    row("stageSubmitted", start, stageId = Some(id), parents = parents),
    row("taskEnd", end, stageId = Some(id), task = Some(task)),
    row("stageCompleted", end, stageId = Some(id)))

  test("keyProfile counts a broadcast job beside the main job once") {
    import spark.implicits._
    // Both jobs run under sql-execution 3. Main job J1 [1000,3000]: stages
    // 0 -> 1, critical time 800 + 900 = 1700. Broadcast job J2
    // [1200,2200]: stage 2, critical time 900. One island of span 2000 in
    // a 2500 ms key: critical = 2500 - 2000 + max(1700, 900) = 2200. A
    // per-job sum would read 2600, above the wall.
    val events = Seq(
      row("jobStart", 1000, jobId = Some(1), stageIds = Seq(0, 1), sqlExec = Some(3)),
      row("jobStart", 1200, jobId = Some(2), stageIds = Seq(2), sqlExec = Some(3)),
      row("jobEnd", 2200, jobId = Some(2)),
      row("jobEnd", 3000, jobId = Some(1))) ++
      stage(0, 1000, 1900, 800) ++ stage(1, 1900, 3000, 900, Seq(0)) ++
      stage(2, 1200, 2200, 900)
    val p = Bench.keyProfile(events.toDS(), wallMs = 2500)
    assert((p.jobs, p.stages, p.tasks, p.taskMs) === ((2, 3, 3L, 2600L)))
    assert(p.criticalMs === 2500 - 2000 + 1700)
    assert(p.criticalMs <= 2500)
  }

  test("keyProfile of a two-stage groupBy agrees with the status tracker") {
    import spark.implicits._
    val sc = spark.sparkContext
    val group = "bench-spec-key-profile"
    val bridge = new ListenerBridge.SchedulerBridge()
    sc.addSparkListener(bridge)
    val prevPartitions = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      ListenerBusDrain(spark)
      bridge.evictBefore(Long.MaxValue)
      spark.conf.set("spark.sql.shuffle.partitions", "3")
      sc.setJobGroup(group, "key profile")
      val t0 = System.nanoTime()
      try spark.range(0, 10000, 1, 4).groupBy(($"id" % 7).as("k")).count().collect()
      finally sc.clearJobGroup()
      val wallMs = (System.nanoTime() - t0) / 1000000
      ListenerBusDrain(spark)
      val p = Bench.keyProfile(bridge.snapshot(spark), wallMs)

      val tracker = sc.statusTracker
      val jobIds = tracker.getJobIdsForGroup(group).toSeq
      // Skipped stages (reused shuffle output) are listed by their job but
      // never submitted; the tracker reports them with submission time 0.
      val ran = jobIds.flatMap(j => tracker.getJobInfo(j).get.stageIds.toSeq).distinct
        .flatMap(s => tracker.getStageInfo(s)).filter(_.submissionTime > 0)
      assert(p.jobs === jobIds.size)
      assert(p.stages === ran.size)
      assert(p.stages === 2)
      assert(p.tasks === ran.map(_.numTasks.toLong).sum)
      // Critical time includes the driver time outside the jobs, so it is
      // bounded by the wall, not by the task time.
      assert(p.criticalMs > 0 && p.criticalMs <= wallMs, (p, wallMs))
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prevPartitions)
      sc.removeSparkListener(bridge)
    }
  }
}
