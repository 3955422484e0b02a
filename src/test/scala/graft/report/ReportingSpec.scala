package graft.report

import graft.SparkSpec
import graft.model.{AggregateStateResult, CriticalPathResult}
import org.apache.spark.sql.functions._

class ReportingSpec extends SparkSpec {

  private def res(b: Long, state: String, ord: Int): CriticalPathResult =
    CriticalPathResult("q", b, 1000, 500, 400, state, ord)

  test("discounted-history: closed form over known states") {
    // batches 1..3 with ordinals 1, 2, 4 (newest = batch 3, ordinal 4)
    val results = Seq(
      res(1, "OVERPROVISIONED", 1),
      res(2, "OPTIMUM", 2),
      res(3, "UNHEALTHY", 4))
    val d = 0.95
    val expected = (4 * 1.0 + 2 * d + 1 * d * d) / (1.0 + d + d * d)
    val got = Reporting.scoresOf(results, d).head._2
    assert(math.abs(got - expected) < 1e-9)
  }

  test("NONEWBATCHES batches are excluded") {
    val results = Seq(
      res(2, "NONEWBATCHES", 0),     // excluded: ordinal 0
      res(3, "OPTIMUM", 2))
    val (_, score, batches) = Reporting.scoresOf(results, 0.95).head
    assert(score === 2.0)
    assert(batches === 1L)
  }

  test("aggregate state + source-specific recommendation") {
    import spark.implicits._
    val results = Seq(res(1, "UNDERPROVISIONED", 3), res(2, "UNDERPROVISIONED", 3)).toDS()
    val sources = Seq(("q", "KafkaV2[Subscribe[topic]]")).toDF("queryId", "sourcesDesc")
    val agg = Reporting.aggregate(results, sources).head()
    assert(agg.score === 3.0)
    assert(agg.state === "UNDERPROVISIONED")
    assert(agg.recommendation.contains("Kafka"))
  }

  test("pd renders the reference duration format") {
    val got = Seq(2094L, 13L, 61007L, 120000L, -5L).map(Reporting.pd)
    assert(got === Seq("02s 094ms", "00s 013ms", "61s 007ms", "120s 000ms", "00s -05ms"))
  }

  test("renderJson emits one compact event per result") {
    import spark.implicits._
    val js = Reporting.renderJson(Seq(res(7, "OPTIMUM", 2)).toDS(), "myquery",
      "run-1", lit(123L)).head().getString(0)
    assert(js.contains("\"eventId\":\"q-7\""))
    assert(js.contains("\"state\":\"OPTIMUM\""))
    assert(js.contains("\"eventTimeMillis\":123"))
    assert(js.contains("00s 500ms"))
    assert(js === """{"eventId":"q-7","name":"myquery","runId":"run-1","eventTimeMillis":123,""" +
      """"state":"OPTIMUM","displayText":"Batch 7: running 00s 500ms, critical 00s 400ms, """ +
      """SLA 01s 000ms"}""")
  }

  test("the aggregate event and log block format the score alike") {
    val a = AggregateStateResult("q", 2.0, "OPTIMUM", "Pipeline is healthy.")
    assert(Reporting.aggregateEventJson(a, "graft", "aggregate", 5L) ===
      """{"eventId":"q-aggregate","name":"graft","runId":"aggregate","eventTimeMillis":5,""" +
        """"state":"OPTIMUM","displayText":"Aggregate state OPTIMUM (score 2.00): Pipeline is healthy."}""")
    assert(Reporting.aggregateLogBlock(a).contains("(score 2.00)"))
  }

  test("logBlock formats the reference driver-log shape") {
    val block = Reporting.logBlock(res(7, "OPTIMUM", 2))
    assert(block.contains("batch 7"))
    assert(block.contains("00s 500ms"))
    assert(block.contains("OPTIMUM"))
  }
}
