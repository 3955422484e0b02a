package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SpansSpec extends SparkSpec {

  /** Brute-force max concurrency with the reference's closed-interval
    * semantics: the +1-before-−1 tie-break (ref MicroBatchContext.scala:73-76)
    * means a span ending at t and one starting at t are both live at t, so
    * sampling uses s._1 <= t <= s._2. A maximum is always attained at some
    * start point. */
  private def bruteForce(spans: Seq[(Long, Long)]): Long =
    if (spans.isEmpty) 0L
    else spans.map(_._1).map(t => spans.count(s => s._1 <= t && t <= s._2)).max

  test("sweep-line equals brute force on crafted cases") {
    import spark.implicits._
    val cases: Seq[Seq[(Long, Long)]] = Seq(
      Seq((0L, 10L)),
      Seq((0L, 10L), (5L, 15L)),                 // overlap
      Seq((0L, 10L), (10L, 20L)),                // touching: counts as 2 (closed)
      Seq((0L, 100L), (10L, 20L), (30L, 40L)),   // nested
      Seq((0L, 5L), (0L, 5L), (0L, 5L)),         // identical
      Seq((0L, 1L), (2L, 3L), (4L, 5L)))         // disjoint
    for (c <- cases) {
      val df = c.toDF("start_ms", "end_ms").withColumn("k", lit("x"))
      val got = Spans.maxConcurrency(df, "k").head().getLong(1)
      assert(got === bruteForce(c), s"case $c")
    }
  }

  test("sweep-line equals brute force on random span sets (property)") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 15) {
      val spans = Seq.fill(12) {
        val s = rnd.nextLong(50)
        (s, s + 1 + rnd.nextLong(30))
      }
      val df = spans.toDF("start_ms", "end_ms").withColumn("k", lit("x"))
      val got = Spans.maxConcurrency(df, "k").head().getLong(1)
      assert(got === bruteForce(spans), s"trial $trial: $spans")
    }
  }

  test("sessionize splits on gaps > gapMs with deterministic tie-break") {
    import spark.implicits._
    val df = Seq(
      // key a: gaps 5,100 (gapMs=10) => islands {0,5},{105}
      ("a", 0L, 1L), ("a", 5L, 2L), ("a", 105L, 3L),
      // key b: single event
      ("b", 7L, 4L)).toDF("k", "ts", "id")
    val got = Spans.sessionize(df, "k", "ts", "id", gapMs = 10L)
      .orderBy("k", "island")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.toSeq === Seq(
      ("a", 1L, 2L, 0L, 5L),
      ("a", 2L, 1L, 105L, 105L),
      ("b", 1L, 1L, 7L, 7L)))
  }

  test("maxConcurrencyScalable equals the one-window formulation (property)") {
    import spark.implicits._
    val rnd = new scala.util.Random(99)
    for (trial <- 1 to 8) {
      val spans = Seq.fill(40) {
        val s = rnd.nextLong(500)
        (if (rnd.nextBoolean()) "a" else "b", s, s + 1 + rnd.nextLong(120))
      }
      val df = spans.toDF("k", "start_ms", "end_ms")
      val one = Spans.maxConcurrency(df, "k")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val two = Spans.maxConcurrencyScalable(df, "k", numBuckets = 7)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(two === one, s"trial $trial")
    }
  }
}
