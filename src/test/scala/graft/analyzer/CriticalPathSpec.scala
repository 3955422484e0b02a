package graft.analyzer

import graft.SparkSpec
import graft.model.StageSpan

class CriticalPathSpec extends SparkSpec {

  private def stage(id: Int, parents: Seq[Int], maxTask: Long,
                    jobId: Long = 1L): StageSpan =
    StageSpan(id, jobId, 0L, 0L, parents, 1, maxTask)

  test("single stage: critical time is its longest task") {
    assert(CriticalPath.criticalTimeOfStages(Seq(stage(0, Nil, 42))) === 42L)
  }

  test("linear chain serializes") {
    val stages = Seq(
      stage(0, Nil, 100),
      stage(1, Seq(0), 200),
      stage(2, Seq(1), 300))
    assert(CriticalPath.criticalTimeOfStages(stages) === 600L)
  }

  test("diamond DAG takes the slower branch") {
    val stages = Seq(
      stage(0, Nil, 100),
      stage(1, Seq(0), 50),
      stage(2, Seq(0), 500),
      stage(3, Seq(1, 2), 10))
    // 0 -> 2 -> 3 is the critical path: 100 + 500 + 10
    assert(CriticalPath.criticalTimeOfStages(stages) === 610L)
  }

  test("parent outside the job contributes zero (reused exchange)") {
    val stages = Seq(stage(5, Seq(3), 100)) // stage 3 not in this job
    assert(CriticalPath.criticalTimeOfStages(stages) === 100L)
  }

  test("job critical time anchors at the max stage id (sparklens semantics)") {
    val stages = Seq(
      stage(0, Nil, 1000), // dangling slow stage, not a parent of the last
      stage(1, Nil, 10),
      stage(2, Seq(1), 20))
    // anchored at stage 2: 10 + 20 = 30, NOT 1000
    assert(CriticalPath.criticalTimeOfStages(stages) === 30L)
  }

  test("perJob folds each job's stages by the pure fold") {
    import spark.implicits._
    val stages = Seq(
      stage(0, Nil, 100, jobId = 1), stage(1, Seq(0), 200, jobId = 1),
      stage(10, Nil, 70, jobId = 2), stage(11, Seq(10), 5, jobId = 2))
    val got = CriticalPath.perJob(stages.toDS()).collect().toMap
    assert(got === Map(1L -> 300L, 2L -> 75L))
  }

  test("invariants on random DAGs: bounded by max task and sum of tasks") {
    val rnd = new scala.util.Random(3)
    for (_ <- 1 to 20) {
      val n = 2 + rnd.nextInt(8)
      val stages = (0 until n).map { id =>
        val parents = (0 until id).filter(_ => rnd.nextBoolean())
        stage(id, parents, 1 + rnd.nextInt(1000))
      }
      val ct = CriticalPath.criticalTimeOfStages(stages)
      assert(ct >= stages.last.maxTaskDurationMs) // anchored at max id
      assert(ct <= stages.map(_.maxTaskDurationMs).sum)
    }
  }
}
