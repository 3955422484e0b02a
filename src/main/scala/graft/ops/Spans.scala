package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Interval/span operators generalizing the reference's overlap analytics.
  *
  * Scale notes (100 TB): both operators partition every window by the group
  * key — there is no global single-partition window. Each key's rows shuffle
  * once to that key's partition, sort there, and the running sums stay inside
  * whole-stage codegen. Skewed keys are the residual risk; for a key whose
  * span count exceeds one executor's sort budget, range-bucket time within the
  * key and prefix-sum across buckets (two-phase), per SURVEY.md §4.
  */
object Spans {

  /** Sweep-line max concurrency per key.
    *
    * Mirrors the reference's ±1-delta sweep (qubole/streaminglens
    * `common/MicroBatchContext.scala:35-78`): each `[start_ms, end_ms)` span
    * explodes into a (+1 at start) and a (−1 at end) event; events sort by
    * `(t asc, delta desc)` so starts precede ends at the same instant (the
    * reference's tie-break at `MicroBatchContext.scala:73-76`); a running sum
    * over that order is the live concurrency, and its max per key is the
    * answer.
    *
    * Input columns: `keyCol`, `start_ms: long`, `end_ms: long`.
    * Output: `keyCol`, `max_concurrency: long`.
    */
  def maxConcurrency(df: DataFrame, keyCol: String): DataFrame = {
    val deltas = df
      .select(
        col(keyCol),
        explode(array(
          struct(col("start_ms").as("t"), lit(1).as("delta")),
          struct(col("end_ms").as("t"), lit(-1).as("delta")))).as("ev"))
      .select(col(keyCol), col("ev.t").as("t"), col("ev.delta").as("delta"))
    // Default RANGE frame (unbounded preceding → current row incl. peers)
    // matches the DuckDB oracle's default frame for ties in (t, delta).
    val w = Window.partitionBy(keyCol).orderBy(col("t").asc, col("delta").desc)
    deltas
      .withColumn("c", sum(col("delta")).over(w))
      .groupBy(col(keyCol))
      .agg(max(col("c")).cast("long").as("max_concurrency"))
  }

  /** Gaps-and-islands sessionization of point events per key.
    *
    * Mirrors the reference's serial/parallel split (qubole/streaminglens
    * `helper/JobOverlapHelper.scala:83-106`) specialized to point events: a
    * new island starts when the gap to the previous event exceeds `gapMs`.
    * `idCol` breaks timestamp ties so the order (and therefore the island
    * assignment) is total and deterministic.
    *
    * Output: `keyCol`, `island: long` (1-based), `n_events`, `start_ms`,
    * `end_ms`.
    */
  def sessionize(df: DataFrame, keyCol: String, tsCol: String, idCol: String,
                 gapMs: Long): DataFrame = {
    val order = Seq(col(tsCol).asc, col(idCol).asc)
    val w = Window.partitionBy(keyCol).orderBy(order: _*)
    val wRows = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df
      .withColumn("prev_ts", lag(col(tsCol), 1).over(w))
      .withColumn("flag",
        when(col("prev_ts").isNull || col(tsCol) - col("prev_ts") > gapMs, 1)
          .otherwise(0))
      .withColumn("island", sum(col("flag")).over(wRows).cast("long"))
      .groupBy(col(keyCol), col("island"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col(tsCol)).as("start_ms"),
        max(col(tsCol)).as("end_ms"))
  }

  /** Scale-path sweep-line: identical result to [[maxConcurrency]], but the
    * per-key running sum is computed in two phases over `numBuckets` time
    * ranges, so no single executor ever sorts a whole key's events — the
    * low-cardinality-key hazard of the one-window formulation (SURVEY.md §4;
    * VERDICT r1 flagged `event_type` as exactly such a key):
    *
    *   phase 1: local running sums within (key, time-bucket) partitions;
    *   phase 2: bucket totals prefix-summed per key (numBuckets rows — tiny)
    *            give each bucket's offset; max(local + offset) per key.
    *
    * Events with equal t share a bucket by construction, so the
    * starts-before-ends tie-break behaves identically to the one-pass form.
    */
  def maxConcurrencyScalable(df: DataFrame, keyCol: String,
                             numBuckets: Int = 64): DataFrame = {
    val deltas = df
      .select(
        col(keyCol),
        explode(array(
          struct(col("start_ms").as("t"), lit(1).as("delta")),
          struct(col("end_ms").as("t"), lit(-1).as("delta")))).as("ev"))
      .select(col(keyCol), col("ev.t").as("t"), col("ev.delta").as("delta"))
    val ranges = deltas.groupBy(col(keyCol))
      .agg(min(col("t")).as("t_min"), max(col("t")).as("t_max"))
    val bucketed = deltas
      .join(broadcast(ranges), keyCol)
      .withColumn("bucket",
        when(col("t_max") === col("t_min"), lit(0)).otherwise(
          least(lit(numBuckets - 1),
            ((col("t") - col("t_min")) * numBuckets /
              (col("t_max") - col("t_min") + 1)).cast("int"))))
    val wLocal = Window.partitionBy(col(keyCol), col("bucket"))
      .orderBy(col("t").asc, col("delta").desc)
    val wPrevBuckets = Window.partitionBy(col(keyCol)).orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = bucketed
      .groupBy(col(keyCol), col("bucket"))
      .agg(sum(col("delta")).as("btotal"))
      .withColumn("offset", coalesce(sum(col("btotal")).over(wPrevBuckets), lit(0L)))
      .select(col(keyCol), col("bucket"), col("offset"))
    bucketed
      .withColumn("run_local", sum(col("delta")).over(wLocal))
      .join(offsets, Seq(keyCol, "bucket"))
      .groupBy(col(keyCol))
      .agg(max(col("run_local") + col("offset")).cast("long").as("max_concurrency"))
  }
}
