package graft

import org.apache.spark.graft.ListenerBusDrain

import graft.ingest.ListenerBridge

/** Bench's per-key Spark accounting, checked against Spark's own status
  * tracker on a real query. */
class BenchSpec extends SparkSpec {

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
      try spark.range(0, 10000, 1, 4).groupBy(($"id" % 7).as("k")).count().collect()
      finally sc.clearJobGroup()
      ListenerBusDrain(spark)
      val p = Bench.keyProfile(bridge.snapshot(spark))

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
      assert(p.criticalMs > 0 && p.criticalMs <= p.taskMs, p)
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prevPartitions)
      sc.removeSparkListener(bridge)
    }
  }
}
