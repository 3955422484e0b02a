package graft.analyzer

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.BoundColumns
import org.apache.spark.sql.types.{DoubleType, LongType, StructType}
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
  * Steps 1–4 fold the span tables on the driver (they are driver-resident,
  * see [[SpanBuilder]]); steps 2–4 are [[criticalFold]], which
  * [[estimateAt]] and the catalog bench read too. Step 5 evaluates the
  * same Column classifiers the catalog uses, bound once per threshold pair
  * ([[org.apache.spark.sql.graft.BoundColumns]]), on each folded row: no
  * query is planned per call. [[analyzeOf]] is the kernel over Scala
  * collections; [[analyze]] wraps it for Datasets.
  */
object BatchAnalyzer {

  /** One serial island: its wall-clock span, its critical time (max
    * per-job critical time — the unlimited-executor floor), and its total
    * task time (the work the task slots must absorb — the throughput
    * bound's numerator). */
  final case class Island(span: Long, criticalTime: Long, taskTime: Long)

  /** A job set's time split by steps 2–4: `serial` = brt − Σ island span,
    * the time outside jobs (negative when the jobs' spans outrun brt), and
    * the serial islands. The one fold behind [[analyze]], [[estimateAt]]
    * and the catalog bench's per-key critical time. */
  final case class CriticalFold(serial: Long, islands: Seq[Island]) {
    /** Step 4: the time with unlimited executors. */
    def criticalTime: Long = serial + islands.map(_.criticalTime).sum

    /** The time on `slots` task slots: each island takes at least its
      * critical time and at least its task time spread over the slots. */
    def estimateAt(slots: Int): Long =
      serial + islands.map(i => math.max(i.criticalTime,
        math.ceil(i.taskTime.toDouble / slots).toLong)).sum
  }

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

  /** Steps 2–4 over one job set whose wall is `brt`: jobs grouped by
    * sql-execution id (null ⇒ its own group), each group split into serial
    * islands; `stages` are the jobs' stage spans (stages of other jobs are
    * ignored). A wall of 0 (no progress) has nothing to explain and folds
    * to no time at all. */
  def criticalFold(jobs: Seq[JobSpan], stages: Seq[StageSpan], brt: Long): CriticalFold =
    if (brt == 0L) CriticalFold(0L, Nil)
    else {
      val perJob = stages.groupBy(_.jobId).map { case (jobId, ss) =>
        jobId -> (CriticalPath.criticalTimeOfStages(ss), ss.map(_.totalTaskDurationMs).sum)
      }
      val islands = jobs.groupBy(j => j.sqlExecutionId.toRight(j.jobId)).values.toSeq
        .flatMap(splitIslands)
        .map { island =>
          val (ct, work) = island.map(j => perJob.getOrElse(j.jobId, (0L, 0L))).unzip
          Island(island.map(_.endTime).max - island.map(_.startTime).min, ct.max, work.sum)
        }
      CriticalFold(brt - islands.map(_.span).sum, islands)
    }

  /** [[criticalFold]] of a progress row's batch: the jobs of streaming
    * batches grouped by (queryId, batchId), with their stages. */
  private def batchFold(jobs: Seq[JobSpan], stages: Seq[StageSpan]): BatchProgress => CriticalFold = {
    val stagesOf = stages.groupBy(_.jobId)
    val jobsOf = jobs
      .collect { case j @ JobSpan(_, _, _, _, Some(q), Some(b)) => (q, b) -> j }
      .groupMap(_._1)(_._2)
    p => {
      val js = jobsOf.getOrElse((p.queryId, p.batchId), Nil)
      criticalFold(js, js.flatMap(j => stagesOf.getOrElse(j.jobId, Nil)), batchRunningTime(p))
    }
  }

  /** Batch running time from progress (ref StreamingQueryAnalyzer:118-129),
    * in Spark's order of operations: rows / rps · 1000, truncated toward
    * zero. */
  private def batchRunningTime(p: BatchProgress): Long =
    if (p.numInputRows > 0 && p.processedRowsPerSecond > 0)
      (p.numInputRows / p.processedRowsPerSecond * 1000).toLong
    else 0L

  /** [[analyzeOf]] over Datasets, returned as a local Dataset. */
  def analyze(jobs: Dataset[JobSpan],
              stages: Dataset[StageSpan],
              progress: Dataset[BatchProgress],
              slas: Dataset[QuerySla],
              defaultSlaMillis: Long = 120000L,
              lowFrac: Double = 0.3,
              highFrac: Double = 0.7): Dataset[CriticalPathResult] = {
    val spark = jobs.sparkSession
    import spark.implicits._
    spark.createDataset(analyzeOf(spark, jobs.collect().toSeq, stages.collect().toSeq,
      progress.collect().toSeq, slas.collect().toSeq, defaultSlaMillis, lowFrac, highFrac))
  }

  /** The classifier's input row: the zero-progress guard's counts, then
    * what `Classify.slaState` reads. */
  private[graft] val ClassifyInput = new StructType()
    .add("numInputRows", LongType).add("processedRowsPerSecond", DoubleType)
    .add("batchRunningTime", LongType).add("criticalTime", LongType)
    .add("expectedMicroBatchSLA", LongType)

  /** Step 5 over [[ClassifyInput]]: the batch's state. */
  private[graft] def stateColumn(lowFrac: Double, highFrac: Double): Column =
    when(col("numInputRows") === 0 || col("processedRowsPerSecond") === 0, "NONEWBATCHES")
      .otherwise(Classify.slaState(col("batchRunningTime"), col("criticalTime"),
        col("expectedMicroBatchSLA").cast("double"), lowFrac, highFrac))

  /** Full pipeline: spans + progress + SLA config → one result per progress
    * row and SLA of its query, in progress order. `spark` only binds the
    * classifier; no query runs. */
  def analyzeOf(spark: SparkSession,
                jobs: Seq[JobSpan],
                stages: Seq[StageSpan],
                progress: Seq[BatchProgress],
                slas: Seq[QuerySla],
                defaultSlaMillis: Long = 120000L,
                lowFrac: Double = 0.3,
                highFrac: Double = 0.7): Seq[CriticalPathResult] = {
    val foldOf = batchFold(jobs, stages)
    val slaOf = slas.groupMap(_.queryIdent)(_.slaMillis)
    val classify = BoundColumns.memoized(("slaState", lowFrac, highFrac), spark, ClassifyInput)(
      Seq(stateColumn(lowFrac, highFrac))).evaluator()
    for {
      p <- progress
      brt = batchRunningTime(p)
      criticalTime = foldOf(p).criticalTime
      sla <- slaOf.getOrElse(p.queryId, Seq(defaultSlaMillis))
    } yield {
      val state = classify(Row(p.numInputRows, p.processedRowsPerSecond, brt, criticalTime, sla))
        .getString(0)
      CriticalPathResult(p.queryId, p.batchId, sla, brt, criticalTime, state,
        Classify.stateOrdinals(state))
    }
  }

  /** Capacity what-if — the planning read beside critical time: the
    * estimated batch running time were the SAME batch run on `n` task
    * slots, for every `n` in `slotCounts`. The sparklens completion-
    * estimate model applied per batch through [[criticalFold]]:
    *
    *   estimate(n) = serial + Σ_islands max(islandCriticalTime,
    *                                        ⌈islandTaskTime / n⌉)
    *
    * where serial = brt − Σ islandSpan is the driver/out-of-job time task
    * slots cannot help with; each island's wall clock is bounded BELOW by
    * its critical time (with unlimited slots every dependent stage still
    * serializes and each stage still pays its longest task) and by
    * THROUGHPUT (n slots must absorb the island's total task
    * milliseconds). Estimates are monotone non-increasing in `n`, and once
    * n · islandCriticalTime ≥ islandTaskTime for every island (n ≥ the
    * batch's total task time, when every island that ran tasks has a
    * critical time) they equal [[analyze]]'s criticalTime, the same
    * fold's floor: criticalTime says how low the
    * batch could go, estimateAt says how many slots buy how much of that
    * gap. Slots, not executors: a slot count is executors × cores per
    * executor, which the caller knows.
    *
    * Output: (queryId, batchId, nSlots, estimateMs, batchRunningTime),
    * long format — one row per progress row per asked count. */
  def estimateAt(jobs: Dataset[JobSpan],
                 stages: Dataset[StageSpan],
                 progress: Dataset[BatchProgress],
                 slotCounts: Seq[Int]): DataFrame = {
    require(slotCounts.nonEmpty && slotCounts.forall(_ >= 1),
      s"estimateAt needs positive slot counts; got $slotCounts")
    val spark = jobs.sparkSession
    import spark.implicits._
    val foldOf = batchFold(jobs.collect().toSeq, stages.collect().toSeq)
    // Every asked count appears for every batch in `progress`, even batches
    // with no recorded jobs (their estimate is brt itself — all serial as
    // far as telemetry can see).
    val rows = for {
      p <- progress.collect().toSeq
      fold = foldOf(p)
      n <- slotCounts.distinct.sorted
    } yield (p.queryId, p.batchId, n, fold.estimateAt(n), batchRunningTime(p))
    rows.toDF("queryId", "batchId", "nSlots", "estimateMs", "batchRunningTime")
  }
}
