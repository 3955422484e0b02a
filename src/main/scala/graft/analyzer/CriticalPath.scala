package graft.analyzer

import org.apache.spark.sql.Dataset
import graft.model.StageSpan

/** Per-job critical time over the stage DAG — the sparklens
  * `JobTimeSpan.computeCriticalTimeForJob()` semantics the reference calls
  * at `helper/JobOverlapHelper.scala:80` (SURVEY.md §0.2): with infinite
  * executors each stage still costs its single longest task, and dependent
  * stages serialize, so
  *
  *   ct(stage) = maxTaskTime(stage) + max(ct(parent) for parent in DAG)
  *   ct(job)   = ct(stage with the max id)
  *
  * The recursion doesn't decompose into built-in aggregates, and a job's
  * stage count is tiny (SURVEY §2.1-D), so each job's stages fold on the
  * driver, where the span tables already live.
  */
object CriticalPath {

  /** Pure DAG fold, exposed for property tests. */
  def criticalTimeOfStages(stages: Seq[StageSpan]): Long = {
    if (stages.isEmpty) return 0L
    val byId = stages.map(s => s.stageId -> s).toMap
    val memo = scala.collection.mutable.Map.empty[Int, Long]
    def ct(id: Int): Long = memo.getOrElseUpdate(id, {
      byId.get(id) match {
        case None => 0L // parent outside this job (e.g. reused exchange)
        case Some(s) =>
          val parentMax = s.parentStageIds.map(ct).foldLeft(0L)(math.max)
          s.maxTaskDurationMs + parentMax
      }
    })
    ct(stages.map(_.stageId).max)
  }

  /** (jobId, criticalTimeMs) for every job present in `stages`. */
  def perJob(stages: Dataset[StageSpan]): Dataset[(Long, Long)] = {
    import stages.sparkSession.implicits._
    stages.sparkSession.createDataset(stages.collect().toSeq.groupBy(_.jobId).toSeq
      .map { case (jobId, ss) => (jobId, criticalTimeOfStages(ss)) })
  }
}
