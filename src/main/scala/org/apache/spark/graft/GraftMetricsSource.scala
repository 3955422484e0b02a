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
  * `analyzeNow()` call), plus droppedEvents: telemetry events the listener
  * bridges dropped at their caps, read from `droppedEvents`.
  *
  * Lives under the spark namespace because `Source` and
  * `MetricsSystem.registerSource` are `private[spark]` — the identical
  * trick the reference uses (`StreamingLensMetricsReporter.scala:19,54`).
  */
class GraftMetricsSource(droppedEvents: () => Long) extends Source {
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
}

object GraftMetricsSource {
  /** Register with the active SparkEnv's metrics system; returns the source
    * so the facade can push updates. */
  def register(droppedEvents: () => Long): GraftMetricsSource = {
    val src = new GraftMetricsSource(droppedEvents)
    Option(SparkEnv.get).foreach(_.metricsSystem.registerSource(src))
    src
  }

  def unregister(src: GraftMetricsSource): Unit =
    Option(SparkEnv.get).foreach(_.metricsSystem.removeSource(src))
}
