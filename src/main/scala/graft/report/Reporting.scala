package graft.report

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.model.{AggregateStateResult, CriticalPathResult}
import graft.ops.Classify

/** Rolling health reporting — the reference's hourly discounted aggregation
  * + recommendation text + JSON event rendering
  * (ref `helper/StreamingLensReportingHelper.scala:80-207`).
  */
object Reporting {

  /** Exponentially-discounted health score per query over recent batch
    * states: newest batch weight 1, then `discount`, `discount²`, …
    * (ref `StreamingLensReportingHelper.scala:180-197`). NONEWBATCHES
    * (ordinal 0) batches are excluded (ref `:181-182`; batches already
    * reported are the caller's to drop, per query, as
    * `StreamingGraft.reportNow` does). A driver fold over the collected
    * results, summed newest first. */
  def discountedScore(results: Dataset[CriticalPathResult],
                      discount: Double = 0.95): DataFrame = {
    import results.sparkSession.implicits._
    results.collect().toSeq
      .filter(_.stateOrdinal != 0)
      .groupBy(_.queryId).toSeq
      .map { case (queryId, rs) =>
        val weights = rs.indices.map(i => math.pow(discount, i))
        val ordinals = rs.sortBy(_.batchId)(Ordering[Long].reverse).map(_.stateOrdinal)
        (queryId, ordinals.zip(weights).map { case (o, w) => o * w }.sum / weights.sum,
          rs.size.toLong)
      }
      .toDF("queryId", "score", "n_batches")
  }

  /** Recommendation text per aggregate state, specialized by source kind
    * like the reference's Kafka/File/Kinesis dispatch
    * (ref `StreamingLensReportingHelper.scala:103-175`); texts are our own. */
  def recommendation(state: Column, sourcesDesc: Column): Column = {
    val sourceHint =
      when(sourcesDesc.isNotNull && lower(sourcesDesc).contains("kafka"),
        " For Kafka sources, lower the per-trigger offset cap to shrink batches.")
        .when(sourcesDesc.isNotNull && lower(sourcesDesc).contains("file"),
          " For file sources, lower the per-trigger file cap to shrink batches.")
        .when(sourcesDesc.isNotNull && lower(sourcesDesc).contains("kinesis"),
          " For Kinesis sources, lower the per-shard fetch rate to shrink batches.")
        .otherwise("")
    when(state === "NONEWBATCHES",
      "No data has arrived recently; verify the source is producing.")
      .when(state === "OVERPROVISIONED",
        "Batches finish well under the SLA; consider fewer/smaller executors or a longer trigger interval to cut cost.")
      .when(state === "OPTIMUM", "Pipeline is healthy; no action needed.")
      .when(state === "UNDERPROVISIONED",
        concat(lit("Batches exceed the healthy SLA fraction but the critical path fits; add executors to increase parallelism."),
          sourceHint))
      .otherwise(
        concat(lit("Even infinite parallelism cannot meet the SLA; reduce per-record work, raise the SLA, or shrink batches."),
          sourceHint))
  }

  /** Aggregate state + recommendation per query
    * (ref `StreamingLensReportingHelper.scala:103-141`): the folded scores,
    * looked up against the collected sources, classified by a projection
    * Spark evaluates on the driver. */
  def aggregate(results: Dataset[CriticalPathResult],
                sourcesByQuery: DataFrame, // (queryId, sourcesDesc)
                discount: Double = 0.95): Dataset[AggregateStateResult] = {
    import results.sparkSession.implicits._
    val sourcesOf = sourcesByQuery.select(col("queryId"), col("sourcesDesc")).collect().toSeq
      .groupMap(_.getString(0))(_.getString(1))
    val rows = for {
      score <- discountedScore(results, discount).collect().toSeq
      sourcesDesc <- sourcesOf.getOrElse(score.getString(0), Seq(null))
    } yield (score.getString(0), score.getDouble(1), sourcesDesc)
    val state = Classify.aggregateState(col("score"))
    rows.toDF("queryId", "score", "sourcesDesc")
      .select(col("queryId"), col("score"), state.as("state"),
        recommendation(state, col("sourcesDesc")).as("recommendation"))
      .as[AggregateStateResult]
  }

  /** Pretty duration, the reference's `pd()`:
    * millis → "NNs NNNms" (ref `QueryInsightsManager.scala:228-232`).
    * `%02d`-style padding — pads short values but never truncates long
    * ones (`lpad` would cut "120" to "12"). */
  private def padMin(c: Column, width: Int): Column = {
    val s = c.cast("string")
    when(length(s) >= width, s).otherwise(lpad(s, width, "0"))
  }

  def pd(ms: Column): Column =
    concat(
      padMin((ms / 1000).cast("long"), 2), lit("s "),
      padMin(ms % 1000, 3), lit("ms"))

  /** JSON event rendering of a result row
    * (ref `StreamingLensReportingHelper.scala:80-92`). */
  def renderJson(results: Dataset[CriticalPathResult], queryName: String,
                 runId: String, analysisTimeMs: Column): DataFrame =
    results.toDF().select(
      to_json(struct(
        concat(col("queryId"), lit("-"), col("batchId")).as("eventId"),
        lit(queryName).as("name"),
        lit(runId).as("runId"),
        analysisTimeMs.as("eventTimeMillis"),
        col("streamingQueryState").as("state"),
        concat(
          lit("Batch "), col("batchId"),
          lit(": running "), pd(col("batchRunningTime")),
          lit(", critical "), pd(col("criticalTime")),
          lit(", SLA "), pd(col("expectedMicroBatchSLA"))).as("displayText")
      )).as("event"))

  /** JSON event rendering of one aggregate report row
    * (same envelope as [[renderJson]], ref
    * `StreamingLensReportingHelper.scala:80-92`). */
  def renderAggregateJson(agg: Dataset[AggregateStateResult], queryName: String,
                          runId: String, eventTimeMillis: Column): DataFrame =
    agg.toDF().select(
      to_json(struct(
        concat(col("queryId"), lit("-aggregate")).as("eventId"),
        lit(queryName).as("name"),
        lit(runId).as("runId"),
        eventTimeMillis.as("eventTimeMillis"),
        col("state"),
        concat(
          lit("Aggregate state "), col("state"),
          lit(" (score "), round(col("score"), 2),
          lit("): "), col("recommendation")).as("displayText")
      )).as("event"))

  /** Driver-log pretty block for one aggregate report
    * (ref `StreamingLensReportingHelper.scala:199-207`); texts our own. */
  def aggregateLogBlock(a: AggregateStateResult): String =
    s"""|StreamingLens aggregate - query ${a.queryId}
        |  Aggregate State:  ${a.state} (score ${"%.2f".format(a.score)})
        |  Recommendation:   ${a.recommendation}""".stripMargin

  /** Driver-log pretty block for one analysis
    * (ref `QueryInsightsManager.scala:206-232`), formatted on the driver. */
  def logBlock(r: CriticalPathResult): String = {
    def fmt(v: Long) = "%02ds %03dms".format(v / 1000, v % 1000)
    s"""|StreamingLens report - query ${r.queryId} batch ${r.batchId}
        |  Expected Micro Batch SLA: ${fmt(r.expectedMicroBatchSLA)}
        |  Batch Running Time:       ${fmt(r.batchRunningTime)}
        |  Critical Time:            ${fmt(r.criticalTime)}
        |  Streaming Query State:    ${r.streamingQueryState}""".stripMargin
  }
}
