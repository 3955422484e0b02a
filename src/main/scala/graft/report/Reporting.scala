package graft.report

import com.fasterxml.jackson.databind.ObjectMapper

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{BoundColumns, ColumnBridge}
import org.apache.spark.sql.types.{DoubleType, StringType, StructType}
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
    * `StreamingGraft.reportNow` does). One (queryId, score, batches scored)
    * per query, summed newest first. */
  def scoresOf(results: Seq[CriticalPathResult],
               discount: Double = 0.95): Seq[(String, Double, Long)] =
    results
      .filter(_.stateOrdinal != 0)
      .groupBy(_.queryId).toSeq
      .map { case (queryId, rs) =>
        val weights = rs.indices.map(i => math.pow(discount, i))
        val ordinals = rs.sortBy(_.batchId)(Ordering[Long].reverse).map(_.stateOrdinal)
        (queryId, ordinals.zip(weights).map { case (o, w) => o * w }.sum / weights.sum,
          rs.size.toLong)
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

  /** [[aggregateOf]] over Datasets, returned as a local Dataset. */
  def aggregate(results: Dataset[CriticalPathResult],
                sourcesByQuery: DataFrame, // (queryId, sourcesDesc)
                discount: Double = 0.95): Dataset[AggregateStateResult] = {
    val spark = results.sparkSession
    import spark.implicits._
    val sources = sourcesByQuery.select(col("queryId"), col("sourcesDesc")).collect().toSeq
      .map(r => (r.getString(0), r.getString(1)))
    spark.createDataset(aggregateOf(spark, results.collect().toSeq, sources, discount))
  }

  private[graft] val AggregateInput = new StructType()
    .add("score", DoubleType).add("sourcesDesc", StringType)

  /** Aggregate state and recommendation over [[AggregateInput]]. */
  private[graft] def aggregateColumns: Seq[Column] = {
    val state = Classify.aggregateState(col("score"))
    Seq(state, recommendation(state, col("sourcesDesc")))
  }

  /** Aggregate state + recommendation per query and source description
    * (ref `StreamingLensReportingHelper.scala:103-141`): the [[scoresOf]]
    * scores, looked up against `sources` (queryId, sourcesDesc; a query
    * without one gets a null description), classified by
    * `Classify.aggregateState` and [[recommendation]], which are bound
    * once, not planned per call. `spark` only binds them; no query runs. */
  def aggregateOf(spark: SparkSession,
                  results: Seq[CriticalPathResult],
                  sources: Seq[(String, String)],
                  discount: Double = 0.95): Seq[AggregateStateResult] = {
    val sourcesOf = sources.groupMap(_._1)(_._2)
    val classify = BoundColumns.memoized("aggregateState", spark, AggregateInput)(
      aggregateColumns).evaluator()
    for {
      (queryId, score, _) <- scoresOf(results, discount)
      sourcesDesc <- sourcesOf.getOrElse(queryId, Seq(null))
    } yield {
      val out = classify(Row(score, sourcesDesc))
      AggregateStateResult(queryId, score, out.getString(0), out.getString(1))
    }
  }

  /** Pretty duration, the reference's `pd()`:
    * millis → "NNs NNNms" (ref `QueryInsightsManager.scala:228-232`).
    * `%02d`-style padding pads short values but never truncates long ones;
    * a negative duration keeps its sign in the millis ("00s -05ms"). */
  def pd(ms: Long): String = "%02ds %03dms".format(ms / 1000, ms % 1000)

  private val json = new ObjectMapper()

  /** One reporter event, compact JSON in the reference's envelope
    * (ref `StreamingLensReportingHelper.scala:80-92`). */
  private def event(eventId: String, queryName: String, runId: String,
                    eventTimeMillis: Long, state: String, displayText: String): String =
    json.createObjectNode()
      .put("eventId", eventId).put("name", queryName).put("runId", runId)
      .put("eventTimeMillis", eventTimeMillis).put("state", state)
      .put("displayText", displayText).toString

  /** JSON event of a result row, rendered on the driver. */
  def eventJson(r: CriticalPathResult, queryName: String, runId: String,
                eventTimeMillis: Long): String =
    event(s"${r.queryId}-${r.batchId}", queryName, runId, eventTimeMillis,
      r.streamingQueryState,
      s"Batch ${r.batchId}: running ${pd(r.batchRunningTime)}, " +
        s"critical ${pd(r.criticalTime)}, SLA ${pd(r.expectedMicroBatchSLA)}")

  /** JSON event of one aggregate report row, in [[eventJson]]'s envelope. */
  def aggregateEventJson(a: AggregateStateResult, queryName: String, runId: String,
                         eventTimeMillis: Long): String =
    event(s"${a.queryId}-aggregate", queryName, runId, eventTimeMillis, a.state,
      s"Aggregate state ${a.state} (score ${"%.2f".format(a.score)}): ${a.recommendation}")

  /** [[eventJson]] of each result, as an `event` column. `analysisTimeMs`
    * must be a literal: it is evaluated once, without a query. */
  def renderJson(results: Dataset[CriticalPathResult], queryName: String,
                 runId: String, analysisTimeMs: Column): DataFrame = {
    val spark = results.sparkSession
    import spark.implicits._
    val time = ColumnBridge.literalValue(analysisTimeMs).asInstanceOf[Number].longValue
    results.collect().toSeq.map(eventJson(_, queryName, runId, time)).toDF("event")
  }

  /** Driver-log pretty block for one aggregate report
    * (ref `StreamingLensReportingHelper.scala:199-207`); texts our own. */
  def aggregateLogBlock(a: AggregateStateResult): String =
    s"""|StreamingLens aggregate - query ${a.queryId}
        |  Aggregate State:  ${a.state} (score ${"%.2f".format(a.score)})
        |  Recommendation:   ${a.recommendation}""".stripMargin

  /** Driver-log pretty block for one analysis
    * (ref `QueryInsightsManager.scala:206-232`), formatted on the driver. */
  def logBlock(r: CriticalPathResult): String =
    s"""|StreamingLens report - query ${r.queryId} batch ${r.batchId}
        |  Expected Micro Batch SLA: ${pd(r.expectedMicroBatchSLA)}
        |  Batch Running Time:       ${pd(r.batchRunningTime)}
        |  Critical Time:            ${pd(r.criticalTime)}
        |  Streaming Query State:    ${r.streamingQueryState}""".stripMargin
}
