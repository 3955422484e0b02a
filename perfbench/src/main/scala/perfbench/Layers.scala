package perfbench

import scala.collection.mutable

/** The per-layer metrics of a traced run. Every workload emits the whole
  * set; a layer a workload never calls reads 0 there, which is the "should
  * not move" side of each prediction. */
object Layers {
  /** (name, unit, better) of every per-layer metric, in output order. */
  val All: Seq[(String, String, String)] = Seq(
    ("analyzer.job_spans_ms", "ms", "lower"),
    ("analyzer.stage_spans_ms", "ms", "lower"),
    ("analyzer.batch_progress_ms", "ms", "lower"),
    ("analyzer.critical_path_ms", "ms", "lower"),
    ("analyzer.classify_ms", "ms", "lower"),
    ("analyzer.critical_fold_ms", "ms", "lower"),
    ("api.analyze_ms_p50", "ms", "lower"),
    ("api.report_ms_p50", "ms", "lower"),
    ("api.spark_jobs_per_call", "count", "lower"),
    ("api.spark_stages_per_call", "count", "lower"),
    ("api.spark_tasks_per_call", "count", "lower"),
    ("api.task_ms_per_call", "ms", "lower"),
    ("api.critical_ms_per_call", "ms", "lower"),
    ("api.task_gc_ms_per_call", "ms", "lower"),
    ("api.spill_mb_per_call", "MB", "lower"),
    ("api.shuffle_mb_per_call", "MB", "lower"),
    ("api.worst_stage_skew", "ratio", "lower"),
    ("api.parallel_eff", "fraction", "higher"),
    ("api.self_events_per_call", "count", "lower"),
    ("api.schedule_lag_ms", "ms", "lower"),
    ("api.local1_analyze_ms", "ms", "lower"),
    ("jvm.gc_ms_per_call", "ms", "lower"),
    ("ingest.snapshot_ms", "ms", "lower"),
    ("ingest.retained_events_end", "count", "lower"),
    ("ingest.events_posted", "count", "higher"),
    ("ingest.drain_us_per_event", "us", "lower"),
    ("ingest.bridge_us_per_event", "us", "lower"),
    ("report.render_ms", "ms", "lower"),
    ("report.aggregate_ms", "ms", "lower"),
    ("monitored.batch_ms_tail", "ms", "lower"),
    ("monitored.spark_tasks_per_batch", "count", "lower"),
    ("jvm.gc_s", "s", "lower"),
    ("jvm.heap_live_mb", "MB", "lower"),
    ("check.error_rate", "fraction", "lower"),
    ("trace.overhead_pct", "%", "lower"),
    ("trace.accounted_pct", "%", "higher"),
  )

  def empty(): mutable.LinkedHashMap[String, Double] =
    mutable.LinkedHashMap(All.map(m => m._1 -> 0.0): _*)

  /** Median of each layer span recorded in `trace`, under its metric name. */
  def fromTrace(m: mutable.Map[String, Double], trace: Trace): Unit = Seq(
    "ingest.snapshot" -> "ingest.snapshot_ms",
    "analyzer.job_spans" -> "analyzer.job_spans_ms",
    "analyzer.stage_spans" -> "analyzer.stage_spans_ms",
    "analyzer.batch_progress" -> "analyzer.batch_progress_ms",
    "analyzer.critical_path" -> "analyzer.critical_path_ms",
    "analyzer.critical_fold" -> "analyzer.critical_fold_ms",
    "analyzer.classify" -> "analyzer.classify_ms",
    "api.analyzeNow" -> "api.analyze_ms_p50",
    "report.aggregate" -> "report.aggregate_ms",
    "report.render" -> "report.render_ms",
  ).foreach { case (span, metric) =>
    val xs = trace.ms(span)
    if (xs.nonEmpty) m(metric) = Stats.median(xs)
  }

  /** The snapshot and analyzer layers run one after another inside
    * `analyzeNow()`, so their spans should add up to the traced call.
    * Materializing between layers adds a job per layer, and the fused call
    * shares scans the split one repeats; the benchmark accepts 50–200 %. */
  val AccountedRange: (Double, Double) = (50.0, 200.0)

  def accounted(m: mutable.Map[String, Double]): Double = {
    val parts = Seq("ingest.snapshot_ms", "analyzer.job_spans_ms", "analyzer.stage_spans_ms",
      "analyzer.batch_progress_ms", "analyzer.classify_ms").map(m).sum
    val call = m("api.analyze_ms_p50")
    if (call <= 0) 0.0 else 100.0 * parts / call
  }

  /** Medians of the Spark work each traced `analyzeNow()` ran. */
  def perCall(m: mutable.Map[String, Double], calls: Seq[SparkAccounting.Counts],
              callMs: Seq[Double], cores: Int): Unit = if (calls.nonEmpty) {
    def med(f: SparkAccounting.Counts => Double) = Stats.median(calls.map(f))
    m("api.spark_jobs_per_call") = med(_.jobs.toDouble)
    m("api.spark_stages_per_call") = med(_.stages.toDouble)
    m("api.spark_tasks_per_call") = med(_.tasks.toDouble)
    m("api.task_ms_per_call") = med(_.taskMs.toDouble)
    m("api.critical_ms_per_call") = med(_.criticalMs.toDouble)
    m("api.self_events_per_call") = med(_.selfEvents.toDouble)
    m("api.task_gc_ms_per_call") = med(_.gcMs.toDouble)
    m("api.spill_mb_per_call") = med(_.spillBytes / 1048576.0)
    m("api.shuffle_mb_per_call") = med(_.shuffleBytes / 1048576.0)
    m("api.worst_stage_skew") = med(_.skew)
    m("api.parallel_eff") = Stats.median(calls.zip(callMs).map { case (c, ms) =>
      c.taskMs / (ms * cores)
    })
  }

  /** The program's scheduler-bridge cost per event on the bus thread. */
  def bridgeCost(m: mutable.Map[String, Double], spark: org.apache.spark.sql.SparkSession): Unit =
    m("ingest.bridge_us_per_event") = org.apache.spark.sql.perfbench.Buses.listenerMeanUs(
      spark, classOf[graft.ingest.ListenerBridge.SchedulerBridge])

  /** Check the layer spans against the traced call, then emit the whole
    * set with the run's failed share of operations. */
  def finish(m: mutable.Map[String, Double], res: Result): Unit = {
    val (lo, hi) = AccountedRange
    val a = m("trace.accounted_pct")
    res.check(a >= lo && a <= hi,
      f"layer spans account for $a%.0f%% of the traced analyzeNow(), outside $lo%.0f-$hi%.0f%%")
    res.note(f"layer spans account for $a%.0f%% of the traced analyzeNow() (accepted $lo%.0f-$hi%.0f%%)")
    m("check.error_rate") = res.failed.toDouble / math.max(1L, res.attempted)
    All.foreach { case (k, u, _) => res.metric(k, m(k), u) }
  }

}
