package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, concat_ws, lit, max_by}
import org.apache.spark.sql.types.StructType

import graft.analyzer.{BatchAnalyzer, CriticalPath, SpanBuilder}
import graft.config.GraftConfig
import graft.ingest.ListenerBridge
import graft.model.{CriticalPathResult, QuerySla}
import graft.report.Reporting

/** A second pair of the program's bridges, registered on both buses and
  * evicted on the graft's own retention rules, for timing the snapshot. */
final class Bridges(spark: SparkSession) {
  val sched = new ListenerBridge.SchedulerBridge()
  val prog = new ListenerBridge.ProgressBridge()
  spark.sparkContext.addSparkListener(sched)
  spark.streams.addListener(prog)

  def evict(cfg: GraftConfig): Unit = {
    prog.evictBeyond(cfg.maxBatchesRetention)
    sched.evictBefore(System.currentTimeMillis() -
      cfg.maxBatchesRetention.toLong * cfg.analysisIntervalMinutes * 60000L)
  }

  def retainedEvents: Double =
    (sched.snapshot(spark).count() + prog.snapshot(spark).count()).toDouble
}

/** The steps of `analyzeNow()` and `reportNow()`, one public layer function
  * at a time on materialized inputs, each in its own span: snapshot of a
  * second pair of bridges, the three span builders, the per-job critical
  * path (and the same fold on the driver for reference), the analysis with
  * classification, and the report's aggregate and JSON rendering. */
object LayerChain {
  def apply(spark: SparkSession, bridges: Bridges, slaRows: Seq[QuerySla], cfg: GraftConfig,
            results: Array[CriticalPathResult], tr: Trace, iter: Int): Unit = {
    import spark.implicits._
    val (schedRows, progRows) = tr("ingest.snapshot", iter) {
      (bridges.sched.snapshot(spark).collect(), bridges.prog.snapshot(spark).collect())
    }
    val schedDs = spark.createDataset(schedRows.toSeq)
    val progDs = spark.createDataset(progRows.toSeq)
    val jobs = spark.createDataset(
      tr("analyzer.job_spans", iter)(SpanBuilder.jobSpans(schedDs).collect()).toSeq)
    val stageRows = tr("analyzer.stage_spans", iter)(SpanBuilder.stageSpans(schedDs).collect())
    val stages = spark.createDataset(stageRows.toSeq)
    val progress = spark.createDataset(
      tr("analyzer.batch_progress", iter)(SpanBuilder.batchProgress(progDs).collect()).toSeq)
    tr("analyzer.critical_path", iter)(CriticalPath.perJob(stages).collect())
    tr("analyzer.critical_fold", iter)(stageRows.groupBy(_.jobId).map { case (j, ss) =>
      j -> CriticalPath.criticalTimeOfStages(ss.toSeq)
    })
    tr("analyzer.classify", iter)(BatchAnalyzer.analyze(jobs, stages, progress,
      slaRows.toDS(), cfg.expectedMicroBatchSLAMillis, cfg.criticalPathLowerThreshold,
      cfg.criticalPathUpperThreshold).collect())
    val resultsDs = spark.createDataset(results.toSeq)
    // The report's second input, built as reportNow() builds it: the newest
    // sources description per query.
    val sources = spark.createDataFrame(java.util.Arrays.asList(progDs.toDF()
      .filter(col("kind") === "progress" && col("batchId").isNotNull)
      .groupBy(col("queryId"))
      .agg(max_by(concat_ws(", ", col("sources")), col("batchId")).as("sourcesDesc"))
      .collect(): _*), new StructType().add("queryId", "string").add("sourcesDesc", "string"))
    tr("report.aggregate", iter)(
      Reporting.aggregate(resultsDs, sources, cfg.discountFactor).collect())
    tr("report.render", iter)(Reporting.renderJson(resultsDs, "graft", "run", lit(0L)).collect())
  }
}
