package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.graft.BoundColumns
import org.apache.spark.sql.types.StructType

import graft.analyzer.BatchAnalyzer
import graft.report.Reporting

/** The classifiers bound once evaluate as Spark's own projection of the
  * same Columns does, on grids through every band edge. */
class BoundColumnsSpec extends SparkSpec {

  private def assertSameAsSpark(schema: StructType, cols: Seq[Column], rows: Seq[Row]): Seq[Row] = {
    val viaSpark = spark.createDataFrame(rows.asJava, schema).select(cols: _*).collect().toSeq
    val eval = BoundColumns(spark, schema, cols: _*).evaluator()
    assert(rows.map(eval) === viaSpark)
    viaSpark
  }

  test("the SLA state classifier, bound, equals the Spark projection at every band edge") {
    for ((low, high) <- Seq((0.3, 0.7), (0.2, 0.9))) {
      val rows = for {
        sla <- Seq(1000L, 120000L, 7L)
        edges = Seq(0.0, sla * low, sla * high).flatMap(x => Seq(math.floor(x), math.ceil(x)))
          .map(_.toLong).flatMap(x => Seq(x - 1, x, x + 1))
        brt <- edges
        ct <- edges
        (inputRows, rps) <- Seq((10L, 5.0), (0L, 5.0), (10L, 0.0))
      } yield Row(inputRows, rps, brt, ct, sla)
      // The grid hits each edge exactly: brt = sla·low, brt = sla·high, ct = sla·high.
      assert(rows.exists(r => r.getLong(2) == 1000L * low && r.getLong(3) == 1000L * high))
      assert(rows.exists(r => r.getLong(2) == 1000L * high))
      val states = assertSameAsSpark(BatchAnalyzer.ClassifyInput,
        Seq(BatchAnalyzer.stateColumn(low, high)), rows).map(_.getString(0)).toSet
      assert(states === Set("NONEWBATCHES", "OVERPROVISIONED", "OPTIMUM", "UNDERPROVISIONED",
        "UNHEALTHY"))
    }
  }

  test("the aggregate state and recommendation, bound, equal the Spark projection") {
    val rows = for {
      score <- Seq(0.0, 0.5, 1.5, 1.6, 2.5, 2.6, 3.5, 3.6, 4.0)
      sources <- Seq("KafkaV2[Subscribe[t]]", "FileStreamSource[/in]", "KinesisSource[s]",
        "MemoryStream[value#1]", null)
    } yield Row(score, sources)
    val out = assertSameAsSpark(Reporting.AggregateInput, Reporting.aggregateColumns, rows)
    assert(out.map(_.getString(0)).toSet === Set("NONEWBATCHES", "OVERPROVISIONED", "OPTIMUM",
      "UNDERPROVISIONED", "UNHEALTHY"))
    val hints = out.map(_.getString(1)).filter(_.contains("For "))
    assert(Seq("Kafka", "file", "Kinesis").forall(s => hints.exists(_.contains(s))))
  }

  test("a memoized binding is built once per key") {
    var built = 0
    def bind() = BoundColumns.memoized(("spec", 1), spark, Reporting.AggregateInput) {
      built += 1
      Reporting.aggregateColumns
    }
    assert(bind() eq bind())
    assert(built === 1)
  }
}
