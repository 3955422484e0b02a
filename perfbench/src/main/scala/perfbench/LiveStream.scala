package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{count, sum}
import org.apache.spark.sql.perfbench.Buses
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.api.StreamingGraft
import graft.model.CriticalPathResult

/** `live-stream`: a real Structured Streaming query (MemoryStream → keyed
  * aggregation with state → memory sink) runs with a default-config
  * `StreamingGraft` attached. A generator thread adds a fixed-size batch each
  * time the previous one completes (closed loop, one batch in flight); the
  * benchmark calls `analyzeNow()` every [[PeriodMs]] (open loop, latency from
  * each call's due time) and `reportNow()` every [[ReportEvery]]-th tick. */
object LiveStream {
  final case class Rec(key: Long, value: Long)

  val BatchRows = 20000
  val Keys = 2000
  val PeriodMs = 6000L
  val ReportEvery = 1

  /** Micro-batches of one query as its progress events arrive. */
  private final class Batches(queryName: String) extends StreamingQueryListener {
    val seen = new ConcurrentLinkedQueue[(Long, Long, Long)]() // (batchId, durationMs, arrivalNs)
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (e.progress.name == queryName)
        seen.add((e.progress.batchId, e.progress.batchDuration, System.nanoTime()))
    def ids: Set[Long] = seen.asScala.map(_._1).toSet
    def durationsBetween(t0: Long, t1: Long): Seq[Double] =
      seen.asScala.collect { case (_, d, t) if t >= t0 && t <= t1 => d.toDouble }.toSeq
  }

  def run(args: Args, res: Result, trace: Trace, jvm: Jvm, spark: SparkSession,
          acct: SparkAccounting): Unit = {
    import spark.implicits._
    implicit val sqlc: org.apache.spark.sql.SQLContext = spark.sqlContext
    val batches = new Batches("perfbench_live")
    spark.streams.addListener(batches)
    val graft = new StreamingGraft(spark)
    val bridges = if (trace.enabled) Some(new Bridges(spark)) else None
    def evict(): Unit = bridges.foreach(_.evict(graft.config))

    // The monitored pipeline is sized to the cores, as its owner would size
    // it: at Spark's default 200 shuffle partitions each micro-batch commits
    // 200 state stores and takes about ten times longer. A streaming query
    // keeps the partition count it started with, so the analysis still runs
    // at the session default.
    val mem = MemoryStream[Rec]
    spark.conf.set("spark.sql.shuffle.partitions", Session.cores.toString)
    val query = mem.toDS().groupBy("key").agg(count("*").as("n"), sum("value").as("total"))
      .writeStream.format("memory").queryName("perfbench_live").outputMode("complete").start()
    spark.conf.unset("spark.sql.shuffle.partitions")
    @volatile var running = true
    @volatile var genError: Option[Throwable] = None
    val generator = new Thread(() => {
      val rnd = new scala.util.Random(args.seed)
      try while (running) {
        mem.addData((0 until BatchRows).map(_ => Rec(rnd.nextInt(Keys).toLong, rnd.nextInt(1000).toLong)))
        query.processAllAvailable()
      } catch { case e: Throwable => if (running) genError = Some(e) }
    }, "perfbench-generator")
    generator.setDaemon(true)
    generator.start()

    val queryId = query.id.toString
    def analyze(tag: String): Array[CriticalPathResult] = {
      val before = batches.ids
      val rows = SparkAccounting.tagged(spark, tag)(graft.analyzeNow().collect())
      val ids = batches.ids
      val mine = rows.filter(_.queryId == queryId).map(_.batchId)
      val ok = rows.nonEmpty && rows.forall(_.streamingQueryState != "ERROR") &&
        rows.forall(_.queryId == queryId) && mine.distinct.length == mine.length &&
        mine.forall(ids) && mine.length >= math.min(graft.config.maxBatchesRetention, before.size)
      res.check(ok, s"analyzeNow rows ${rows.map(r => (r.batchId, r.streamingQueryState)).toSeq}" +
        s" against progress ${ids.toSeq.sorted}")
      rows
    }
    def report(): Unit = {
      val rows = SparkAccounting.tagged(spark, "report")(graft.reportNow().collect())
      res.check(rows.forall(r => r.queryId == queryId && r.state != "ERROR"),
        s"reportNow rows ${rows.toSeq}")
    }

    try {
      while (batches.seen.isEmpty && genError.isEmpty) Thread.sleep(20)
      genError.foreach(e => throw e)
      // Warm-up: the JIT keeps speeding analysis up over the first calls.
      for (i <- 1 to 3) {
        analyze("warm")
        evict()
        if (i < 3) report()
      }
      Session.log(s"warm-up done; ${batches.seen.size} batches")
      acct.take("warm")
      acct.take("report")
      jvm.settle()
      val setupS = Session.sinceJvmStartS

      val off = new Trace(false)
      val latency = mutable.ArrayBuffer.empty[Double]
      val wall = mutable.ArrayBuffer.empty[(Boolean, Double)]
      val lag = mutable.ArrayBuffer.empty[Double]
      val reportMs = mutable.ArrayBuffer.empty[Double]
      val gcMs = mutable.ArrayBuffer.empty[Double]
      val perCall = mutable.ArrayBuffer.empty[SparkAccounting.Counts]
      val start = System.nanoTime()
      val deadline = args.deadlineAfter(start)
      val tracedFrom = if (trace.enabled) start + (deadline - start) / 2 else Long.MaxValue
      acct.take("stream")
      val gcStart = jvm.gcMillis
      var tick = 0
      // Every tick due before the deadline runs, so the sample count is
      // the same in every run.
      while (start + tick * PeriodMs * 1000000L < deadline) {
        val due = start + tick * PeriodMs * 1000000L
        val wait = (due - System.nanoTime()) / 1000000L
        if (wait > 0) Thread.sleep(wait)
        val traced = due >= tracedFrom
        val tr = if (traced) trace else off
        val g0 = jvm.gcMillis
        val t0 = System.nanoTime()
        val rows = tr("api.analyzeNow", tick)(analyze("analyze"))
        val t1 = System.nanoTime()
        gcMs += (jvm.gcMillis - g0).toDouble
        evict()
        Session.log(f"tick $tick: analyze ${(t1 - t0) / 1e6}%.0f ms, ${rows.length} rows, ${batches.seen.size} batches")
        latency += (t1 - due) / 1e6
        lag += (t0 - due) / 1e6
        wall += ((traced, (t1 - t0) / 1e6))
        if (tick % ReportEvery == ReportEvery - 1) {
          val r0 = System.nanoTime()
          tr("api.reportNow", tick)(report())
          reportMs += (System.nanoTime() - r0) / 1e6
          Session.log(f"tick $tick: report ${reportMs.last}%.0f ms")
        }
        if (traced) {
          Buses.drain(spark)
          perCall += acct.take("analyze")
          LayerChain(spark, bridges.get, Nil, graft.config, rows, tr, tick)
        } else acct.take("analyze")
        tick += 1
      }
      val end = System.nanoTime()
      val batchMs = batches.durationsBetween(start, end)
      res.check(genError.isEmpty && batchMs.nonEmpty,
        s"monitored query: ${genError.map(_.toString).getOrElse("no batch completed")}")
      res.check(Buses.droppedEvents(spark) == 0,
        s"${Buses.droppedEvents(spark)} listener-bus events dropped")
      val (bTailV, bTailP, bTailN) = Stats.tail(batchMs)
      res.samples("analyze_ms", latency.toSeq)
      res.note(f"batch_ms tail is p$bTailP%.1f of $bTailN batches")
      res.note(f"report_ms_p50 ${Stats.median(reportMs.toSeq)}%.1f ms over ${reportMs.size} calls")
      if (!trace.enabled) {
        res.metric("setup_s", setupS, "s")
        res.metric("analyze_ms_p50", Stats.median(latency.toSeq), "ms")
        res.metric("batch_ms_p50", Stats.median(batchMs), "ms")
      } else {
        val m = Layers.empty()
        Layers.fromTrace(m, trace)
        Buses.drain(spark)
        val stream = acct.take("stream")
        val tracedWall = wall.collect { case (true, ms) => ms }.toSeq
        val untracedWall = wall.collect { case (false, ms) => ms }.toSeq
        if (reportMs.nonEmpty) m("api.report_ms_p50") = Stats.median(reportMs.toSeq)
        m("api.schedule_lag_ms") = Stats.median(lag.toSeq)
        m("jvm.gc_ms_per_call") = Stats.median(gcMs.toSeq)
        m("jvm.gc_s") = (jvm.gcMillis - gcStart) / 1e3
        Layers.bridgeCost(m, spark)
        m("monitored.batch_ms_tail") = bTailV
        m("monitored.spark_tasks_per_batch") = stream.tasks.toDouble / math.max(1, batchMs.size)
        m("ingest.retained_events_end") = bridges.get.retainedEvents
        m("jvm.heap_live_mb") = jvm.liveHeapMb()
        Layers.perCall(m, perCall.toSeq, tracedWall, Session.cores)
        m("trace.accounted_pct") = Layers.accounted(m)
        if (untracedWall.nonEmpty && tracedWall.nonEmpty)
          m("trace.overhead_pct") =
            100.0 * (Stats.median(tracedWall) / Stats.median(untracedWall) - 1)
        Layers.finish(m, res)
      }
    } finally {
      // Let the generator finish its batch before stopping the query.
      running = false
      generator.join(30000)
      query.stop()
      graft.stop()
    }
  }
}
