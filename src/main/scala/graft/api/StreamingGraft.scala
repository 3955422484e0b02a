package graft.api

import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Dataset, SparkSession}

import graft.analyzer.{BatchAnalyzer, SpanBuilder}
import graft.config.GraftConfig
import graft.ingest.ListenerBridge
import graft.model.{AggregateStateResult, CriticalPathResult, QuerySla}
import graft.report.{EventsReporter, Reporting}

/** Public API facade — constructor/lifecycle parity with the reference's
  * `StreamingLens.scala:28-113`: attach to a SparkSession, ingest scheduler
  * + query-progress telemetry through listeners, analyze on demand (or on a
  * caller-driven cadence), report, detach.
  *
  * Where the reference hand-schedules per-query threads, analysis here is
  * one driver fold over the retained telemetry, which the bridges already
  * hold in driver memory (capped at 2^20 scheduler and 2^16 progress
  * rows); it launches no Spark job, so [[analyzeNow]] can run on any
  * cadence without taking cores from the monitored queries (the
  * reference's 5-minute default belongs to the caller's trigger,
  * ref `QueryInsightsManager.scala:194-196`).
  */
class StreamingGraft(spark: SparkSession, options: Map[String, String]) {

  /** Option-map auxiliary constructors (ref `StreamingLens.scala:31-46`). */
  def this(spark: SparkSession) = this(spark, Map.empty[String, String])
  def this(spark: SparkSession, options: java.util.Map[String, String]) =
    this(spark, options.asScala.toMap)

  val config: GraftConfig = GraftConfig(options)

  private val schedulerBridge = new ListenerBridge.SchedulerBridge()
  private val progressBridge = new ListenerBridge.ProgressBridge()
  private val slaOverrides = new ConcurrentHashMap[String, Long]()
  private val reporter: Option[EventsReporter] =
    config.reporterClassName.map(EventsReporter.load(_, config.reporterOptions, "graft"))
  private val metrics = org.apache.spark.graft.GraftMetricsSource.register(
    () => schedulerBridge.droppedCount + progressBridge.droppedCount)
  private val consecutiveFailures = new java.util.concurrent.atomic.AtomicInteger(0)
  @volatile private var registered = false

  registerListeners()

  /** Attach both listeners; roll back the first if the second fails
    * (ref `StreamingLens.scala:59-79`). */
  def registerListeners(): Unit = synchronized {
    if (!registered) {
      spark.sparkContext.addSparkListener(schedulerBridge)
      try spark.streams.addListener(progressBridge)
      catch {
        case e: Throwable =>
          spark.sparkContext.removeSparkListener(schedulerBridge)
          throw e
      }
      registered = true
    }
  }

  /** Per-query SLA override (ref `StreamingLens.scala:95-101`). */
  def updateExpectedMicroBatchSLA(queryIdent: String, slaMillis: Long): Unit = {
    require(slaMillis > 0, "slaMillis must be > 0")
    slaOverrides.put(queryIdent, slaMillis)
  }

  /** Run the critical-path analysis over the retained telemetry; returns
    * the per-batch results. Retention is applied after each analysis
    * (ref `QueryInsightsManager.scala:234-244`), and the metrics source's
    * analysisTime gauge reads the whole call. */
  def analyzeNow(): Dataset[CriticalPathResult] = {
    import spark.implicits._
    val t0 = System.nanoTime()
    val sched = schedulerBridge.snapshot(spark)
    val prog = progressBridge.snapshot(spark)
    val slas = slaOverrides.asScala.toSeq.map { case (q, s) => QuerySla(q, s) }.toDS()
    val results = BatchAnalyzer.analyze(
      SpanBuilder.jobSpans(sched),
      SpanBuilder.stageSpans(sched),
      SpanBuilder.batchProgress(prog),
      slas,
      defaultSlaMillis = config.expectedMicroBatchSLAMillis,
      lowFrac = config.criticalPathLowerThreshold,
      highFrac = config.criticalPathUpperThreshold)
    val collected = results.collect()
    buffer(collected.toIndexedSeq)
    if (config.shouldLogResults) collected.foreach(r => println(Reporting.logBlock(r)))
    reporter.foreach { rep =>
      Reporting.renderJson(spark.createDataset(collected.toIndexedSeq), "graft", "run",
        org.apache.spark.sql.functions.lit(System.currentTimeMillis()))
        .collect().foreach(row => rep.sendEvent(row.getString(0)))
    }
    progressBridge.evictBeyond(config.maxBatchesRetention)
    // Scheduler telemetry retention: keep a window wide enough for
    // maxBatchesRetention analysis intervals; without this the queue fills
    // to its cap and silently drops every new event.
    schedulerBridge.evictBefore(System.currentTimeMillis() -
      config.maxBatchesRetention.toLong * config.analysisIntervalMinutes * 60000L)
    metrics.update(
      collected.sortBy(r => (r.queryId, r.batchId)).lastOption,
      (System.nanoTime() - t0) / 1000000L)
    spark.createDataset(collected.toIndexedSeq)
  }

  /** Bounded history of analysis results, newest-last — the reference caps
    * its retained results list the same way
    * (ref `QueryInsightsManager.scala:241-243`); [[reportNow]] aggregates
    * over this buffer, so `maxResultsRetention` bounds both memory and the
    * lookback of a periodic report. */
  private val resultsBuffer = new java.util.ArrayDeque[CriticalPathResult]()

  private def buffer(rs: Seq[CriticalPathResult]): Unit = resultsBuffer.synchronized {
    // Repeated analyses re-produce the same retained batches; keyed
    // replacement (newest wins) keeps one row per (queryId, batchId) so the
    // discounted report never double-weights a batch and duplicates never
    // evict genuinely distinct older results from the ring.
    val keys = rs.map(r => (r.queryId, r.batchId)).toSet
    resultsBuffer.removeIf(r => keys.contains((r.queryId, r.batchId)))
    rs.foreach(resultsBuffer.addLast)
    while (resultsBuffer.size > config.maxResultsRetention) resultsBuffer.removeFirst()
  }

  /** The retained analysis results (oldest first, ≤ maxResultsRetention). */
  def recentResults: Seq[CriticalPathResult] = resultsBuffer.synchronized {
    resultsBuffer.asScala.toIndexedSeq
  }

  private val lastAnalyzedBatch = new ConcurrentHashMap[String, Long]()
  private var lastAnalysisAtMs = 0L
  private val analysisThrottleLock = new Object

  /** Throttled analysis — the reference's two gates
    * (ref `QueryInsightsManager.scala:194-196` time throttle;
    * `analyzer/StreamingQueryAnalyzer.scala:132-136` batch throttle):
    * returns None when called again within `analysisIntervalMinutes`;
    * otherwise analyzes, but only batches at least `analysisMinBatches`
    * past each query's last analyzed batch id. The check-and-set is
    * synchronized so overlapping ticks cannot both pass the gate. */
  def analyzeIfDue(nowMs: Long = System.currentTimeMillis()): Option[Dataset[CriticalPathResult]] = analysisThrottleLock.synchronized {
    if (nowMs - lastAnalysisAtMs < config.analysisIntervalMinutes * 60000L) None
    else {
      lastAnalysisAtMs = nowMs
      val results = analyzeGuarded()
      import spark.implicits._
      val fresh = results.collect().filter { r =>
        val last = lastAnalyzedBatch.getOrDefault(r.queryId, Long.MinValue)
        last == Long.MinValue || r.batchId - last >= config.analysisMinBatches
      }
      fresh.foreach { r =>
        lastAnalyzedBatch.merge(r.queryId, r.batchId,
          (a, b) => math.max(a, b))
      }
      Some(spark.createDataset(fresh.toIndexedSeq))
    }
  }

  private val lastReportedBatch = new ConcurrentHashMap[String, Long]()
  private var lastReportAtMs = 0L
  private val reportLock = new Object

  /** Periodic aggregate report on the `reportingIntervalMinutes` cadence
    * (ref `helper/StreamingLensReportingHelper.scala:66-78,199-201`): rolls
    * the retained results up to a discounted health score + source-aware
    * recommendation per query and sends them through the reporter SPI.
    * Call from the same tick that drives [[analyzeIfDue]]; concurrent calls
    * cannot double-fire the interval. */
  def reportIfDue(nowMs: Long = System.currentTimeMillis()): Option[Dataset[AggregateStateResult]] =
    reportLock.synchronized {
      if (nowMs - lastReportAtMs < config.reportingIntervalMinutes * 60000L) None
      else {
        lastReportAtMs = nowMs
        Some(reportNow())
      }
    }

  /** One aggregate report over the retained results: discounted score →
    * aggregate state → recommendation specialized by the sources captured
    * from query progress. Batches already covered by a previous report are
    * excluded per query (ref `StreamingLensReportingHelper.scala:181-182`);
    * batches are marked reported only AFTER every reporter send succeeds,
    * so a transient sink failure means at-least-once redelivery on the next
    * cadence, never silent loss. */
  def reportNow(): Dataset[AggregateStateResult] = reportLock.synchronized {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val fresh = recentResults.filter { r =>
      r.batchId > lastReportedBatch.getOrDefault(r.queryId, -1L)
    }
    val sources = progressBridge.newestSources.toDF("queryId", "sourcesDesc")
    val agg = Reporting.aggregate(
      spark.createDataset(fresh.toIndexedSeq), sources, config.discountFactor)
    val collected = agg.collect()
    if (config.shouldLogResults)
      collected.foreach(a => println(Reporting.aggregateLogBlock(a)))
    reporter.foreach { rep =>
      Reporting.renderAggregateJson(
        spark.createDataset(collected.toIndexedSeq), "graft", "aggregate",
        lit(System.currentTimeMillis()))
        .collect().foreach(row => rep.sendEvent(row.getString(0)))
    }
    fresh.foreach(r =>
      lastReportedBatch.merge(r.queryId, r.batchId, (a, b) => math.max(a, b)))
    spark.createDataset(collected.toIndexedSeq)
  }

  /** [[analyzeNow]] under the reference's robustness contract
    * (ref `analyzer/StreamingQueryAnalyzer.scala:69-98`,
    * `QueryInsightsManager.scala:149-178`): the analysis runs under a
    * `maxAnalysisTimeSeconds` timeout; a timeout or failure yields a single
    * ERROR-state result instead of throwing, and `maxRetries` consecutive
    * failures detach the tool from the session (self-shutdown). */
  private val analysisBusy = new java.util.concurrent.atomic.AtomicBoolean(false)

  /** Testing seam for [[analyzeGuarded]]: the analysis it guards. Specs
    * override this with a deliberately slow plan to exercise the
    * timeout/cancellation path without fabricating slow telemetry. */
  protected def runGuardedAnalysis(): Dataset[CriticalPathResult] = analyzeNow()

  def analyzeGuarded(): Dataset[CriticalPathResult] = {
    import spark.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    // The busy flag prevents repeated ticks from stacking analyses; a
    // timed-out analysis is actively CANCELLED (below), and clears the
    // flag when its cancellation unwinds.
    if (!analysisBusy.compareAndSet(false, true)) {
      System.err.println("[graft] analysis still running; skipping this tick")
      return spark.createDataset(Seq.empty[CriticalPathResult])
    }
    // The analysis thread launches its Spark jobs inside a per-invocation
    // job group so a timeout can cancelJobGroup — the abandoned plan frees
    // its executors instead of running to completion holding cluster
    // resources (the reference cannot cancel; we can —
    // ref `QueryInsightsManager.scala:149-178` only abandons).
    val jobGroup = s"graft-analysis-${java.util.UUID.randomUUID()}"
    try {
      val out = Await.result(
        Future {
          try {
            spark.sparkContext.setJobGroup(jobGroup,
              "graft guarded analysis", interruptOnCancel = true)
            try runGuardedAnalysis()
            finally spark.sparkContext.clearJobGroup()
          } finally analysisBusy.set(false)
        },
        config.maxAnalysisTimeSeconds.seconds)
      consecutiveFailures.set(0)
      out
    } catch {
      case e: Throwable =>
        // cancelJobGroupAndFutureJobs, not cancelJobGroup: a plain cancel
        // only kills jobs ACTIVE at that instant, so an analysis still in
        // driver-side planning (or between two jobs) at the timeout would
        // survive it — the future-jobs variant also kills anything the
        // abandoned thread submits under the group afterwards.
        if (e.isInstanceOf[java.util.concurrent.TimeoutException])
          spark.sparkContext.cancelJobGroupAndFutureJobs(jobGroup)
        System.err.println(s"[graft] analysis failed: ${e.getMessage}")
        if (consecutiveFailures.incrementAndGet() >= config.maxRetries) stop()
        spark.createDataset(Seq(CriticalPathResult(
          "analysis", -1L, config.expectedMicroBatchSLAMillis, 0L, 0L,
          "ERROR", -1)))
    }
  }

  /** Detach listeners and close the reporter (ref `StreamingLens.scala:103-113`). */
  def stop(): Unit = synchronized {
    if (registered) {
      spark.sparkContext.removeSparkListener(schedulerBridge)
      spark.streams.removeListener(progressBridge)
      registered = false
    }
    org.apache.spark.graft.GraftMetricsSource.unregister(metrics)
    reporter.foreach(_.close())
  }
}

object StreamingGraft {
  /** Registry mirroring the reference's companion helpers
    * (`StreamingLens.scala:86-93`): one instance per SparkSession. */
  private val instances = new ConcurrentHashMap[SparkSession, StreamingGraft]()

  def getOrCreate(spark: SparkSession,
                  options: Map[String, String] = Map.empty): StreamingGraft = {
    val existing = instances.get(spark)
    if (existing != null && options.nonEmpty)
      System.err.println(
        "[graft] getOrCreate: an instance already exists for this session; " +
          "the provided options are IGNORED (use reset() first to reconfigure)")
    instances.computeIfAbsent(spark, s => new StreamingGraft(s, options))
  }

  def reset(spark: SparkSession): Unit =
    Option(instances.remove(spark)).foreach(_.stop())
}
