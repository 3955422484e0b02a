package graft.analyzer

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.model._
import graft.ops.Classify

/** The per-batch critical-path analysis — the reference's
  * `StreamingQueryAnalyzer.analyze` → `StreamingCriticalPathAnalyzer`
  * (ref `analyzer/StreamingCriticalPathAnalyzer.scala:30-87`) as a fold
  * over the span tables:
  *
  *   1. batch running time reconstructed from progress
  *      (`numInputRows / processedRowsPerSecond · 1000`,
  *      ref `analyzer/StreamingQueryAnalyzer.scala:118-129`);
  *   2. jobs grouped by sql-execution id (null ⇒ singleton group,
  *      ref `helper/JobOverlapHelper.scala:35-45`), then each group split
  *      into serial islands of overlapping jobs
  *      (ref `helper/JobOverlapHelper.scala:83-106`, via the
  *      nested-interval-correct [[splitIslands]]);
  *   3. estimatedTimeSpentInJobs = Σ island wall-clock spans;
  *      criticalPathForAllJobs  = Σ island max(per-job critical time)
  *      (ref `helper/JobOverlapHelper.scala:72-81`);
  *   4. criticalTime = (brt − estimatedTimeSpentInJobs) + criticalPath
  *      (ref `analyzer/StreamingCriticalPathAnalyzer.scala:30-49`);
  *   5. SLA classification, total (`Classify.slaState`), with the
  *      zero-progress guard ⇒ NONEWBATCHES
  *      (ref `analyzer/StreamingQueryAnalyzer.scala:118-128`).
  *
  * Steps 1–4 fold the collected span tables on the driver (they are
  * driver-resident, see [[SpanBuilder]]); step 5 keeps the Column
  * classifiers, applied as a projection over the folded rows, which Spark
  * evaluates on the driver without a job.
  */
object BatchAnalyzer {

  /** Integer state ordinal expression (ref `common/StreamingState.scala`). */
  private def ordinalOf(state: Column) =
    Classify.stateOrdinals.foldLeft(lit(-1)) { case (acc, (name, ord)) =>
      when(state === name, ord).otherwise(acc)
    }

  /** One serial island: its wall-clock span, its critical-path bound (max
    * per-job critical time — the infinite-executor floor), and its total
    * task time (the work the executors must absorb — the throughput
    * bound's numerator). */
  private final case class Island(span: Long, criticalPath: Long, taskTime: Long)

  /** Serial islands of overlapping jobs: in (start, jobId) order, a job
    * opens a new island when it starts after the running max end of every
    * earlier job. The reference compares with the previous job only
    * (ref `JobOverlapHelper.scala:83-106`) and mis-splits nested spans. */
  private[analyzer] def splitIslands(jobs: Seq[JobSpan]): Seq[Seq[JobSpan]] = {
    val islands = scala.collection.mutable.ArrayBuffer.empty[Vector[JobSpan]]
    var maxEnd = Long.MinValue
    jobs.sortBy(j => (j.startTime, j.jobId)).foreach { j =>
      if (islands.isEmpty || j.startTime > maxEnd) islands += Vector(j)
      else islands(islands.size - 1) :+= j
      maxEnd = math.max(maxEnd, j.endTime)
    }
    islands.toSeq
  }

  /** The island decomposition both [[analyze]] and [[estimateAt]] read,
    * computed by one fold so the two cannot drift: jobs of streaming
    * batches, grouped by (queryId, batchId, sql-execution group), split
    * into serial islands; keyed by (queryId, batchId). */
  private def islandsByBatch(jobs: Dataset[JobSpan],
                             stages: Dataset[StageSpan]): Map[(String, Long), Seq[Island]] = {
    val perJob = stages.collect().toSeq.groupBy(_.jobId).map { case (jobId, ss) =>
      jobId -> (CriticalPath.criticalTimeOfStages(ss), ss.map(_.totalTaskDurationMs).sum)
    }
    jobs.collect().toSeq
      .collect { case j @ JobSpan(_, _, _, sqlExec, Some(q), Some(b)) =>
        // null sql-execution id ⇒ the job is its own group
        (q, b, sqlExec.toRight(j.jobId)) -> j
      }
      .groupMap(_._1)(_._2).toSeq
      .flatMap { case ((q, b, _), group) =>
        splitIslands(group).map { island =>
          val (ct, work) = island.map(j => perJob.getOrElse(j.jobId, (0L, 0L))).unzip
          (q, b) -> Island(island.map(_.endTime).max - island.map(_.startTime).min,
            ct.max, work.sum)
        }
      }
      .groupMap(_._1)(_._2)
  }

  /** Batch running time from progress (ref StreamingQueryAnalyzer:118-129),
    * in Spark's order of operations: rows / rps · 1000, truncated toward
    * zero. */
  private def batchRunningTime(p: BatchProgress): Long =
    if (p.numInputRows > 0 && p.processedRowsPerSecond > 0)
      (p.numInputRows / p.processedRowsPerSecond * 1000).toLong
    else 0L

  /** Full pipeline: spans + progress + SLA config → one result per progress
    * row. */
  def analyze(jobs: Dataset[JobSpan],
              stages: Dataset[StageSpan],
              progress: Dataset[BatchProgress],
              slas: Dataset[QuerySla],
              defaultSlaMillis: Long = 120000L,
              lowFrac: Double = 0.3,
              highFrac: Double = 0.7): Dataset[CriticalPathResult] = {
    val spark = jobs.sparkSession
    import spark.implicits._
    val islands = islandsByBatch(jobs, stages)
    val slaOf = slas.collect().toSeq.groupMap(_.queryIdent)(_.slaMillis)
    val rows = for {
      p <- progress.collect().toSeq
      sla <- slaOf.getOrElse(p.queryId, Seq(defaultSlaMillis))
    } yield {
      val brt = batchRunningTime(p)
      val is = islands.getOrElse((p.queryId, p.batchId), Nil)
      val criticalTime =
        if (brt == 0L) 0L else brt - is.map(_.span).sum + is.map(_.criticalPath).sum
      (p.queryId, p.batchId, sla, brt, criticalTime, p.numInputRows, p.processedRowsPerSecond)
    }
    val state =
      when(col("numInputRows") === 0 || col("processedRowsPerSecond") === 0, "NONEWBATCHES")
        .otherwise(Classify.slaState(col("batchRunningTime"), col("criticalTime"),
          col("expectedMicroBatchSLA").cast("double"), lowFrac, highFrac))
    rows.toDF("queryId", "batchId", "expectedMicroBatchSLA", "batchRunningTime",
        "criticalTime", "numInputRows", "processedRowsPerSecond")
      .select(col("queryId"), col("batchId"), col("expectedMicroBatchSLA"),
        col("batchRunningTime"), col("criticalTime"),
        state.as("streamingQueryState"), ordinalOf(state).as("stateOrdinal"))
      .as[CriticalPathResult]
  }

  /** Executor-count what-if — the capacity-planning read beside critical
    * time: the estimated batch running time were the SAME batch run on
    * `n` executors, for every `n` in `executorCounts`. The sparklens
    * completion-estimate model applied per batch:
    *
    *   estimate(n) = serialTime
    *               + Σ_islands max(islandCriticalPath,
    *                               ⌈islandTaskTime / (n · coresPerExec)⌉)
    *
    * where serialTime = max(brt − Σ islandSpan, 0) is the driver/out-of-
    * job fraction executors cannot help with; each island's wall clock is
    * bounded BELOW by its critical path (with infinite executors every
    * dependent stage still serializes and each stage still pays its
    * longest task) and bounded by THROUGHPUT (n·cores task-slots must
    * absorb the island's total task milliseconds); and coresPerExec is
    * the observed per-executor core count (the rounded mean over the
    * executor table — heterogeneous fleets average; no executor telemetry
    * → 1). Estimates are monotone non-increasing in `n` and converge to
    * serialTime + Σ islandCriticalPath — the same floor [[analyze]]'s
    * criticalTime reports, which is what makes the two reads one story:
    * criticalTime says how low the batch could go, estimateAt says how
    * many executors buy how much of that gap.
    *
    * Output: (queryId, batchId, nExecutors, estimateMs,
    * batchRunningTime), long format — one row per progress row per asked
    * count, from the same island fold as [[analyze]]. */
  def estimateAt(jobs: Dataset[JobSpan],
                 stages: Dataset[StageSpan],
                 progress: Dataset[BatchProgress],
                 executors: Dataset[ExecutorSpan],
                 executorCounts: Seq[Int]): DataFrame = {
    require(executorCounts.nonEmpty && executorCounts.forall(_ >= 1),
      s"estimateAt needs positive executor counts; got $executorCounts")
    val spark = jobs.sparkSession
    import spark.implicits._
    // Observed cores per executor: rounded mean over executors that
    // reported cores; a fleet with no executor telemetry estimates at
    // 1 core/executor (pessimistic, stated in the scaladoc).
    val cores = executors.collect().map(_.cores).filter(_ > 0)
    val coresPerExec =
      if (cores.isEmpty) 1 else math.round(cores.map(_.toLong).sum.toDouble / cores.length).toInt
    val islands = islandsByBatch(jobs, stages)
    // Every asked count appears for every batch in `progress`, even batches
    // with no recorded jobs (their estimate is brt itself — all serial as
    // far as telemetry can see).
    val rows = for {
      p <- progress.collect().toSeq
      n <- executorCounts.distinct.sorted
    } yield {
      val brt = batchRunningTime(p)
      val is = islands.getOrElse((p.queryId, p.batchId), Nil)
      val jobsEstimate = is.map(i => math.max(i.criticalPath,
        math.ceil(i.taskTime.toDouble / (n.toDouble * coresPerExec)).toLong)).sum
      (p.queryId, p.batchId, n, math.max(brt - is.map(_.span).sum, 0L) + jobsEstimate, brt)
    }
    rows.toDF("queryId", "batchId", "nExecutors", "estimateMs", "batchRunningTime")
  }
}
