package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler.SparkListenerStageCompleted
import org.apache.spark.scheduler.SparkListenerStageSubmitted
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.perfbench.Buses

import graft.api.StreamingGraft
import graft.ingest.ListenerBridge
import graft.model.{CriticalPathResult, QuerySla}

/** `replay-b1000`: seeded synthetic telemetry for 2 queries × 500 batches
  * posted through both listener buses into a `StreamingGraft` that retains
  * 500 batches per query (1000 in all) and 1000 results. Each iteration posts
  * the next batch, which evicts its query's oldest, then calls `analyzeNow()`
  * and `reportNow()` (a closed loop); every analyzed row is compared with
  * [[ReplayGen.expected]]. */
object Replay {
  val QueryBatches = 500
  val WindowBatches = 2 * QueryBatches
  val MinIterations = 2
  /** Batches posted before the warm-up calls; set-up posts the rest after. */
  val WarmBatches = 200
  // Batch retention is per query; result retention counts all queries.
  private val Options = Map(
    "streamingLens.maxBatchesRetention" -> QueryBatches.toString,
    "streamingLens.maxResultsRetention" -> WindowBatches.toString)

  private final class Setup(val spark: SparkSession, seed: Long, traced: Boolean) {
    val graft = new StreamingGraft(spark, Options)
    /** A second pair of bridges, evicted on the graft's horizon, lets the
      * traced run time the snapshot layer on the same window. */
    val bridges: Option[Bridges] = if (traced) Some(new Bridges(spark)) else None
    val scenario = new ReplayGen.Scenario(seed,
      System.currentTimeMillis() - (WindowBatches + 200) * 100000L)
    val expected = mutable.HashMap.empty[(String, Long), CriticalPathResult]
    var posted = 0L
    var postNs = 0L
    /** Per drained chunk: milliseconds to post and deliver one batch. */
    val batchMs = mutable.ArrayBuffer.empty[Double]

    scenario.queries.foreach { q =>
      graft.updateExpectedMicroBatchSLA(q.id.toString, q.slaMs)
      Buses.postStreaming(spark, Buses.queryStarted(q.id, q.runId, q.name, iso(0L)))
    }

    /** Post `n` batches, draining the bus every few thousand events so no
      * queue overflows; returns the events posted. */
    def postNext(n: Int, idleAllowed: Boolean = true): Long = {
      val t0 = System.nanoTime()
      var chunkStart = t0
      var chunkBatches = 0
      var pending = 0L
      var total = 0L
      def drain(): Unit = {
        Buses.drain(spark)
        val now = System.nanoTime()
        batchMs += (now - chunkStart) / 1e6 / chunkBatches
        chunkStart = now
        chunkBatches = 0
        pending = 0
      }
      (0 until n).foreach { _ =>
        val b = scenario.next(idleAllowed)
        val q = scenario.queries(b.query)
        expected((q.id.toString, b.batchId)) = ReplayGen.expected(b, q, q.slaMs)
        val k = post(b)
        chunkBatches += 1
        pending += k
        total += k
        if (pending > 4000) drain()
      }
      if (chunkBatches > 0) drain()
      postNs += System.nanoTime() - t0
      posted += total
      total
    }

    private def post(b: ReplayGen.Batch): Long = {
      val q = scenario.queries(b.query)
      b.jobs.foreach { j =>
        val props = Map(
          ListenerBridge.QueryIdKey -> q.id.toString,
          ListenerBridge.BatchIdKey -> b.batchId.toString) ++
          j.execId.map(e => ListenerBridge.SqlExecutionIdKey -> e.toString)
        val infos = j.stages.map(s => s.id -> Buses.stageInfo(s.id, s.tasks.size, s.parents,
          Some(s.submit), s.complete)).toMap
        Buses.post(spark, Buses.jobStart(j.id, j.start, j.stages.map(s => infos(s.id)), props))
        val jp = new java.util.Properties()
        props.foreach { case (k, v) => jp.setProperty(k, v) }
        j.stages.foreach { s =>
          Buses.post(spark, SparkListenerStageSubmitted(infos(s.id), jp))
          s.tasks.foreach(t =>
            Buses.post(spark, Buses.taskEnd(s.id, t.id, t.index, t.launch, t.finish, t.failed)))
          if (s.complete.isDefined) Buses.post(spark, SparkListenerStageCompleted(infos(s.id)))
        }
        j.end.foreach(e => Buses.post(spark, Buses.jobEnd(j.id, e)))
      }
      Buses.postStreaming(spark, Buses.queryProgress(q.id, q.runId, q.name, b.batchId,
        iso(b.time), b.numInputRows, b.processedRowsPerSecond, "MemoryStream[replay]"))
      ReplayGen.eventCount(b).toLong
    }

    def evict(): Unit = bridges.foreach(_.evict(graft.config))

    /** What the graft keeps after each analysis: the newest QueryBatches
      * batches of each query. */
    def retain(): Unit = {
      val newest = expected.keys.groupMapReduce(_._1)(_._2)(math.max)
      expected.filterInPlace { case ((q, b), _) => b > newest(q) - QueryBatches }
    }

    /** Every analyzed row equals the expected one and every retained batch
      * has exactly one row. */
    def check(rows: Array[CriticalPathResult]): Option[String] = {
      val keys = rows.map(r => (r.queryId, r.batchId))
      if (keys.distinct.length != keys.length) Some("duplicate rows")
      else if (rows.length != expected.size)
        Some(s"${rows.length} rows for ${expected.size} retained batches")
      else rows.find(r => !expected.get((r.queryId, r.batchId)).contains(r))
        .map(r => s"row $r differs from ${expected.get((r.queryId, r.batchId))}")
    }
  }

  private def iso(ms: Long): String = java.time.Instant.ofEpochMilli(ms).toString

  private val queryStates = Set("NONEWBATCHES", "OVERPROVISIONED", "OPTIMUM",
    "UNDERPROVISIONED", "UNHEALTHY")

  def run(args: Args, res: Result, trace: Trace, jvm: Jvm, spark: SparkSession,
          acct: SparkAccounting): Unit = {
    val s = new Setup(spark, args.seed, trace.enabled)
    s.postNext(WarmBatches)

    def analyze(tag: String): Array[CriticalPathResult] = {
      val rows = SparkAccounting.tagged(spark, tag)(s.graft.analyzeNow().collect())
      val bad = s.check(rows)
      res.check(bad.isEmpty, s"analyzeNow: ${bad.getOrElse("")}")
      s.retain()
      rows
    }
    def report(): Unit = {
      val rows = SparkAccounting.tagged(spark, "report")(s.graft.reportNow().collect())
      res.check(rows.length <= 2 && rows.forall(r => queryStates(r.state)),
        s"reportNow rows ${rows.toSeq}")
    }

    // Warm-up: one call of each on the first WarmBatches batches, for code
    // generation and the JIT; on the full window it took twice as long, and
    // the first timed iteration after it still ran about 15 % slow. Every
    // run times at least MinIterations iterations, whatever the load.
    analyze("warm")
    report()
    s.evict()
    Session.log(s"warm-up on $WarmBatches batches done")
    s.postNext(WindowBatches - WarmBatches)
    Session.log(s"warm-up done; posted ${s.posted} events")
    res.note(f"set-up posted ${s.posted} events, ${s.posted.toDouble / WindowBatches}%.1f per batch")
    val drainUsPerEvent = s.postNs / 1e3 / s.posted
    val setupBatchMs = s.batchMs.toSeq
    val states = s.expected.values.map(_.streamingQueryState).toSet
    res.check(states == queryStates, s"generated window covers only $states")
    jvm.settle()
    val setupS = Session.sinceJvmStartS

    val analyzeMs = mutable.ArrayBuffer.empty[Double]
    val reportMs = mutable.ArrayBuffer.empty[Double]
    val cycleMs = mutable.ArrayBuffer.empty[Double]
    val gcMs = mutable.ArrayBuffer.empty[Double]
    val perCall = mutable.ArrayBuffer.empty[SparkAccounting.Counts]
    val off = new Trace(false)

    // The traced run spends its first half untraced, so the difference of
    // the two halves is the tracing overhead.
    val start = System.nanoTime()
    val deadline = args.deadlineAfter(start)
    val tracedFrom = if (trace.enabled) start + (deadline - start) / 2 else Long.MaxValue
    val untracedMs = mutable.ArrayBuffer.empty[Double]
    val tracedMs = mutable.ArrayBuffer.empty[Double]
    var iter = 0
    val gcStart = jvm.gcMillis
    while (System.nanoTime() < deadline || tracedMs.isEmpty && trace.enabled ||
      analyzeMs.size < MinIterations) {
      val traced = System.nanoTime() >= tracedFrom
      val tr = if (traced) trace else off
      val c0 = System.nanoTime()
      s.postNext(1, idleAllowed = false)
      val g0 = jvm.gcMillis
      val a0 = System.nanoTime()
      val rows = tr("api.analyzeNow", iter)(analyze("analyze"))
      val a1 = System.nanoTime()
      gcMs += (jvm.gcMillis - g0).toDouble
      s.evict()
      val r0 = System.nanoTime()
      tr("api.reportNow", iter)(report())
      val r1 = System.nanoTime()
      cycleMs += (r1 - c0) / 1e6
      analyzeMs += (a1 - a0) / 1e6
      reportMs += (r1 - r0) / 1e6
      (if (traced) tracedMs else untracedMs) += (a1 - a0) / 1e6
      Session.log(f"iteration $iter: analyze ${(a1 - a0) / 1e6}%.0f ms, report ${(r1 - r0) / 1e6}%.0f ms")
      if (trace.enabled) {
        Buses.drain(spark)
        val counts = acct.take("analyze")
        if (traced) {
          perCall += counts
          LayerChain(spark, s.bridges.get,
            s.scenario.queries.map(q => QuerySla(q.id.toString, q.slaMs)), s.graft.config, rows, tr, iter)
        }
      }
      iter += 1
    }
    res.samples("analyze_ms", analyzeMs.toSeq)
    res.note(f"report_ms_p50 ${Stats.median(reportMs.toSeq)}%.1f ms over ${reportMs.size} calls")
    res.note(f"batch_ms_p50 is one iteration (post, analyze, report), ${cycleMs.size} samples;" +
      f" set-up delivered one batch in ${Stats.median(setupBatchMs)}%.2f ms (median of ${setupBatchMs.size} chunks)")
    if (!trace.enabled) {
      res.metric("setup_s", setupS, "s")
      res.metric("analyze_ms_p50", Stats.median(analyzeMs.toSeq), "ms")
      res.metric("batch_ms_p50", Stats.median(cycleMs.toSeq), "ms")
    } else {
      val m = Layers.empty()
      Layers.fromTrace(m, trace)
      m("api.report_ms_p50") = Stats.median(reportMs.toSeq)
      m("jvm.gc_ms_per_call") = Stats.median(gcMs.toSeq)
      m("jvm.gc_s") = (jvm.gcMillis - gcStart) / 1e3
      Layers.bridgeCost(m, spark)
      m("ingest.events_posted") = s.posted.toDouble
      m("ingest.drain_us_per_event") = drainUsPerEvent
      m("ingest.retained_events_end") = s.bridges.get.retainedEvents
      m("jvm.heap_live_mb") = jvm.liveHeapMb()
      Layers.perCall(m, perCall.toSeq, tracedMs.toSeq, Session.cores)
      m("trace.accounted_pct") = Layers.accounted(m)
      m("trace.overhead_pct") =
        if (untracedMs.isEmpty) 0.0
        else 100.0 * (Stats.median(tracedMs.toSeq) / Stats.median(untracedMs.toSeq) - 1)
      spark.stop()
      m("api.local1_analyze_ms") = localOne(args)
      Layers.finish(m, res)
    }
  }

  /** `analyzeNow()` on the same window in a single-core session: the
    * one-thread baseline. */
  def localOne(args: Args): Double = {
    val spark = Session.start(1, args.work)
    try {
      val s = new Setup(spark, args.seed, traced = false)
      s.postNext(WindowBatches)
      s.graft.analyzeNow().collect()
      val t0 = System.nanoTime()
      s.graft.analyzeNow().collect()
      (System.nanoTime() - t0) / 1e6
    } finally spark.stop()
  }
}
