package org.apache.spark.graft

import com.codahale.metrics.{Gauge, MetricRegistry}

import org.apache.spark.SparkEnv
import org.apache.spark.metrics.source.Source

import graft.model.CriticalPathResult

/** Dropwizard metrics source publishing the latest analysis result as gauges
  * — capability parity with the reference's metrics reporter
  * (ref `org/apache/spark/sql/streaming/qubole/streaminglens/metrics/
  * StreamingLensMetricsReporter.scala:41-70`): expectedMicroBatchSLA,
  * batchRunningTime, criticalTime, state ordinal, analysisTime (the whole
  * `analyzeNow()` call), plus two gauges on the listener bridges' state:
  * droppedEvents, read from `droppedEvents`, counts the jobs, stages and
  * progress events the bridges refused at their caps (the scheduler bridge
  * holds one row per job and per stage, so end, task and executor events
  * never count, nor do query started and terminated events), and retainedRows, read from `retainedRows`, the
  * scheduler plus progress rows the bridges hold: the analysis's queue
  * depth, which each [[graft.api.StreamingGraft.analyzeNow]] reads whole.
  *
  * Lives under the spark namespace because `Source` and
  * `MetricsSystem.registerSource` are `private[spark]` — the identical
  * trick the reference uses (`StreamingLensMetricsReporter.scala:19,54`).
  */
class GraftMetricsSource(droppedEvents: () => Long, retainedRows: () => Long) extends Source {
  override val sourceName: String = "StreamingGraft"
  override val metricRegistry: MetricRegistry = new MetricRegistry

  @volatile private var last: Option[CriticalPathResult] = None
  @volatile private var lastAnalysisMs: Long = 0L

  /** Called by the facade after each analysis (the gauges read lazily from
    * the metrics-sink thread, ref `:61-70`). */
  def update(result: Option[CriticalPathResult], analysisMs: Long): Unit = {
    last = result
    lastAnalysisMs = analysisMs
  }

  private def gauge(name: String)(f: CriticalPathResult => Long): Unit =
    metricRegistry.register(name, new Gauge[Long] {
      override def getValue: Long = last.map(f).getOrElse(-1L)
    })

  gauge("expectedMicroBatchSLA")(_.expectedMicroBatchSLA)
  gauge("batchRunningTime")(_.batchRunningTime)
  gauge("criticalTime")(_.criticalTime)
  gauge("streamingQueryState")(_.stateOrdinal.toLong)
  metricRegistry.register("analysisTime", new Gauge[Long] {
    override def getValue: Long = lastAnalysisMs
  })
  metricRegistry.register("droppedEvents", new Gauge[Long] {
    override def getValue: Long = droppedEvents()
  })
  metricRegistry.register("retainedRows", new Gauge[Long] {
    override def getValue: Long = retainedRows()
  })
}

object GraftMetricsSource {
  /** Register with the active SparkEnv's metrics system; returns the source
    * so the facade can push updates. */
  def register(droppedEvents: () => Long, retainedRows: () => Long): GraftMetricsSource = {
    val src = new GraftMetricsSource(droppedEvents, retainedRows)
    Option(SparkEnv.get).foreach(_.metricsSystem.registerSource(src))
    src
  }

  def unregister(src: GraftMetricsSource): Unit =
    Option(SparkEnv.get).foreach(_.metricsSystem.removeSource(src))
}
