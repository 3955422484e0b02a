package graft.api

import graft.SparkSpec
import graft.config.GraftConfig
import graft.ingest.ListenerBridge
import graft.model.CriticalPathResult
import org.apache.spark.graft.{GraftMetricsSource, ListenerBusDrain, SparkTestHooks}
import org.apache.spark.scheduler.{JobSucceeded, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Reflection-loaded by the reporter SPI in the specs that configure it. */
object CapturingReporter {
  val events = new java.util.concurrent.ConcurrentLinkedQueue[String]()
}
class CapturingReporter extends graft.report.EventsReporter {
  override def init(options: Map[String, String], queryId: String): Unit = ()
  override def sendEvent(json: String): Unit = CapturingReporter.events.add(json)
}

/** End-to-end: a real Structured Streaming query on a real SparkSession with
  * the facade attached; the live listeners must capture telemetry and
  * analyzeNow() must classify the batches. */
class StreamingGraftSpec extends SparkSpec {

  test("config parses reference-keyed options case-insensitively and validates") {
    val c = GraftConfig(Map(
      "streamingLens.analysisIntervalMinutes" -> "2",
      "STREAMINGLENS.EXPECTEDMICROBATCHSLAMILLIS" -> "9000",
      "streamingLens.reporter.discountFactor" -> "0.9"))
    assert(c.analysisIntervalMinutes === 2)
    assert(c.expectedMicroBatchSLAMillis === 9000L)
    assert(c.discountFactor === 0.9)
    intercept[IllegalArgumentException] {
      GraftConfig(Map("streamingLens.criticalPathLowerThreshold" -> "1.5"))
    }
    intercept[IllegalArgumentException] {
      GraftConfig(Map("streamingLens.maxRetries" -> "notanumber"))
    }
  }

  test("live listeners capture a real streaming query; analyzeNow classifies it") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val graft = new StreamingGraft(spark, Map(
      "streamingLens.expectedMicroBatchSLAMillis" -> "600000",
      "streamingLens.shouldLogResults" -> "false"))
    try {
      val mem = MemoryStream[Int]
      val query = mem.toDS().map(_ * 2)
        .writeStream.format("memory").queryName("graft_e2e")
        .outputMode("append").start()
      try {
        mem.addData(1 to 1000: _*)
        query.processAllAvailable()
        mem.addData(1001 to 2000: _*)
        query.processAllAvailable()
      } finally query.stop()
      // the listener bus is asynchronous: wait until the bridges hold every
      // event of the stopped query
      ListenerBusDrain(spark)
      val results = graft.analyzeNow().collect()
      assert(results.nonEmpty, "no batches analyzed - listeners captured nothing")
      assert(results.forall(_.queryId.nonEmpty))
      assert(results.forall(r =>
        graft.config.expectedMicroBatchSLAMillis == r.expectedMicroBatchSLA))
      // tiny local batches => far under a 10-minute SLA
      assert(results.forall(r =>
        r.streamingQueryState == "OVERPROVISIONED" ||
          r.streamingQueryState == "NONEWBATCHES"))
    } finally graft.stop()
  }

  test("analysisTime gauge reads the whole analyzeNow() call") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val g = new StreamingGraft(spark, Map("streamingLens.shouldLogResults" -> "false"))
    try {
      val mem = MemoryStream[Int]
      val query = mem.toDS().map(_ + 1)
        .writeStream.format("memory").queryName("graft_gauge")
        .outputMode("append").start()
      try {
        mem.addData(1 to 500: _*)
        query.processAllAvailable()
      } finally query.stop()
      ListenerBusDrain(spark)
      val t0 = System.nanoTime()
      g.analyzeNow()
      val wallMs = (System.nanoTime() - t0) / 1e6
      val gauge = SparkTestHooks.gauge("StreamingGraft", "analysisTime").asInstanceOf[Long]
      assert(gauge > 0 && gauge <= wallMs, s"analysisTime $gauge ms, call took $wallMs ms")
      assert(SparkTestHooks.gauge("StreamingGraft", "droppedEvents") === 0L)
    } finally g.stop()
  }

  test("droppedEvents gauge counts the events the bridges dropped at their caps") {
    val sched = new ListenerBridge.SchedulerBridge(maxBuffered = 1)
    val prog = new ListenerBridge.ProgressBridge(maxBuffered = 1)
    // Each job opens one row; an end without a row is ignored, not dropped.
    (1 to 3).foreach(i => sched.onJobStart(SparkListenerJobStart(i, 0L, Nil)))
    (1 to 3).foreach(i => sched.onJobEnd(SparkListenerJobEnd(i, 0L, JobSucceeded)))
    val src = new GraftMetricsSource(() => sched.droppedCount + prog.droppedCount,
      () => sched.retainedCount + prog.retainedCount)
    assert(src.metricRegistry.getGauges.get("droppedEvents").getValue === 2L)
    assert(src.metricRegistry.getGauges.get("retainedRows").getValue === 1L)
  }

  test("retainedRows gauge reads the rows the bridges hold after analyzeNow()") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val g = new StreamingGraft(spark, Map("streamingLens.shouldLogResults" -> "false"))
    // A second pair of bridges on the same buses, evicted by the graft's
    // rules, holds what the graft's pair holds.
    val sched = new ListenerBridge.SchedulerBridge()
    val prog = new ListenerBridge.ProgressBridge()
    spark.sparkContext.addSparkListener(sched)
    spark.streams.addListener(prog)
    try {
      val mem = MemoryStream[Int]
      val query = mem.toDS().map(_ + 1)
        .writeStream.format("memory").queryName("graft_retained")
        .outputMode("append").start()
      try {
        mem.addData(1 to 500: _*)
        query.processAllAvailable()
        mem.addData(501 to 1000: _*)
        query.processAllAvailable()
      } finally query.stop()
      ListenerBusDrain(spark)
      assert(g.analyzeNow().collect().nonEmpty, "no batches analyzed")
      prog.evictBeyond(g.config.maxBatchesRetention)
      sched.evictBefore(System.currentTimeMillis() -
        g.config.maxBatchesRetention.toLong * g.config.analysisIntervalMinutes * 60000L)
      val gauge = SparkTestHooks.gauge("StreamingGraft", "retainedRows").asInstanceOf[Long]
      // collect, not count: a count runs Spark jobs, whose rows both bridges
      // would then hold.
      val held = sched.snapshot(spark).collect().length + prog.snapshot(spark).collect().length
      assert(gauge > 0 && gauge === held, s"retainedRows $gauge, the bridges hold $held")
    } finally {
      spark.sparkContext.removeSparkListener(sched)
      spark.streams.removeListener(prog)
      g.stop()
    }
  }

  /** A stopped two-batch query whose telemetry the bridges hold in full. */
  private def runTwoBatches(name: String): Unit = {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[Int]
    val query = mem.toDS().map(_ + 1)
      .writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      mem.addData(1 to 500: _*)
      query.processAllAvailable()
      mem.addData(501 to 1000: _*)
      query.processAllAvailable()
    } finally query.stop()
    ListenerBusDrain(spark)
  }

  test("shouldLogResults prints each result once, and again when it changes") {
    // A results ring smaller than the analysis must not make rows print again.
    // The reporter receives the rows the log prints.
    CapturingReporter.events.clear()
    val g = new StreamingGraft(spark, Map("streamingLens.shouldLogResults" -> "true",
      "streamingLens.maxResultsRetention" -> "1",
      "streamingLens.reporter.className" -> classOf[CapturingReporter].getName))
    try {
      runTwoBatches("graft_log_once")
      def logged(): (Seq[String], Seq[CriticalPathResult]) = {
        val out = new java.io.ByteArrayOutputStream()
        val sentBefore = CapturingReporter.events.size
        val rows = Console.withOut(out)(g.analyzeNow().collect().toSeq)
        val printed =
          out.toString("UTF-8").linesIterator.filter(_.startsWith("StreamingLens report")).toSeq
        assert(CapturingReporter.events.size - sentBefore === printed.size)
        (printed, rows)
      }
      val (first, rows) = logged()
      assert(rows.size >= 2 && first.size === rows.size, first)
      assert(logged()._1.isEmpty, "a second call on the same telemetry printed again")
      assert(logged()._1.isEmpty, "a third call on the same telemetry printed again")
      assert(CapturingReporter.events.size === rows.size)
      // An SLA override changes every row of the query.
      val queryId = rows.head.queryId
      g.updateExpectedMicroBatchSLA(queryId, 1234L)
      assert(logged()._1.size === rows.count(_.queryId == queryId))
      assert(logged()._1.isEmpty)
    } finally g.stop()
  }

  test("the result gauges follow the query that progressed last") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val g = new StreamingGraft(spark, Map("streamingLens.shouldLogResults" -> "false"))
    try {
      val streams = Seq("graft_gauge_a", "graft_gauge_b").map { name =>
        val mem = MemoryStream[Int]
        (mem, mem.toDS().writeStream.format("memory").queryName(name)
          .outputMode("append").start())
      }
      // The query whose id sorts first progresses last, and the other stops
      // before it, so no idle progress of the other can come after.
      for ((mem, query) <- streams.sortBy(_._2.id.toString).reverse) {
        try {
          mem.addData(1 to 100: _*)
          query.processAllAvailable()
        } finally query.stop()
      }
      ListenerBusDrain(spark)
      val last = streams.map(_._2.id.toString).min
      streams.map(_._2.id.toString).foreach(id =>
        g.updateExpectedMicroBatchSLA(id, if (id == last) 1111L else 2222L))
      assert(g.analyzeNow().collect().last.queryId === last)
      assert(SparkTestHooks.gauge("StreamingGraft", "expectedMicroBatchSLA") === 1111L)
    } finally g.stop()
  }

  test("analyzeNow() and reportNow() run no Spark job") {
    import org.apache.spark.scheduler.SparkListener
    CapturingReporter.events.clear()
    val g = new StreamingGraft(spark, Map("streamingLens.shouldLogResults" -> "false",
      "streamingLens.reporter.className" -> classOf[CapturingReporter].getName))
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val counter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    try {
      runTwoBatches("graft_no_jobs")
      spark.sparkContext.addSparkListener(counter)
      val results = g.analyzeNow().collect()
      val report = g.reportNow().collect()
      ListenerBusDrain(spark)
      assert(results.nonEmpty && report.nonEmpty)
      assert(jobs.get === 0, s"${jobs.get} Spark jobs")
      assert(CapturingReporter.events.size === results.length + report.length)
    } finally {
      spark.sparkContext.removeSparkListener(counter)
      g.stop()
    }
  }

  test("updateExpectedMicroBatchSLA rejects non-positive values") {
    val graft = StreamingGraft.getOrCreate(spark)
    try {
      intercept[IllegalArgumentException] {
        graft.updateExpectedMicroBatchSLA("q", 0L)
      }
      graft.updateExpectedMicroBatchSLA("q", 5000L) // accepted
    } finally StreamingGraft.reset(spark)
  }

  test("analyzeIfDue throttles by the configured interval") {
    val graft = new StreamingGraft(spark, Map(
      "streamingLens.shouldLogResults" -> "false",
      "streamingLens.analysisIntervalMinutes" -> "5"))
    try {
      val t0 = 10L * 60000L
      assert(graft.analyzeIfDue(t0).isDefined)        // first call runs
      assert(graft.analyzeIfDue(t0 + 60000L).isEmpty) // 1 min later: throttled
      assert(graft.analyzeIfDue(t0 + 5 * 60000L).isDefined) // interval elapsed
    } finally graft.stop()
  }

  test("periodic aggregate report: discounted state through the reporter SPI; bounded results buffer") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    CapturingReporter.events.clear()
    val g = new StreamingGraft(spark, Map(
      "streamingLens.shouldLogResults" -> "false",
      "streamingLens.expectedMicroBatchSLAMillis" -> "600000",
      "streamingLens.maxResultsRetention" -> "4",
      "streamingLens.reporter.intervalMinutes" -> "60",
      "streamingLens.reporter.className" -> classOf[CapturingReporter].getName))
    try {
      val mem = MemoryStream[Int]
      val query = mem.toDS().map(_ + 1)
        .writeStream.format("memory").queryName("graft_agg_report")
        .outputMode("append").start()
      try {
        mem.addData(1 to 500: _*)
        query.processAllAvailable()
        mem.addData(501 to 1000: _*)
        query.processAllAvailable()
      } finally query.stop()
      ListenerBusDrain(spark)
      assert(g.analyzeNow().collect().nonEmpty, "no batches analyzed")
      // repeated analyses re-buffer the same batches: the ring must cap AND
      // hold at most one row per (queryId, batchId) so the discounted report
      // never double-weights a batch
      g.analyzeNow(); g.analyzeNow()
      assert(g.recentResults.size <= 4, s"buffer ${g.recentResults.size} > cap")
      val keys = g.recentResults.map(r => (r.queryId, r.batchId))
      assert(keys.distinct.size === keys.size, s"duplicate batches in buffer: $keys")
      // first report is due, runs, and carries a recommendation per query
      val t0 = 100L * 60000L
      val agg = g.reportIfDue(t0)
      assert(agg.isDefined)
      val rows = agg.get.collect()
      assert(rows.nonEmpty, "aggregate report empty despite analyzed batches")
      assert(rows.forall(_.recommendation.nonEmpty))
      assert(rows.forall(r => r.score > 0))
      // the reporter SPI received the aggregate events (per-batch events from
      // analyzeNow also flow through it; aggregates are tagged)
      val sent = CapturingReporter.events.toArray(Array.empty[String])
      assert(sent.exists(_.contains("-aggregate")), s"no aggregate event in ${sent.length} sent")
      // within the interval: throttled; batches already reported stay reported
      assert(g.reportIfDue(t0 + 60000L).isEmpty)
      val again = g.reportIfDue(t0 + 61L * 60000L)
      assert(again.isDefined)
      assert(again.get.collect().isEmpty, "re-reported batches already covered")
    } finally g.stop()
  }

  test("a timed-out analysis returns the single ERROR row at its timeout and later ticks skip") {
    import org.apache.spark.sql.Dataset
    import graft.model.CriticalPathResult
    // an analysis that blocks far past the 1 s timeout and, like
    // analyzeNow(), launches no Spark job
    val release = new java.util.concurrent.CountDownLatch(1)
    val g = new StreamingGraft(spark, Map(
      "streamingLens.maxAnalysisTimeSeconds" -> "1",
      "streamingLens.shouldLogResults" -> "false")) {
      override protected def runGuardedAnalysis(): Dataset[CriticalPathResult] = {
        import spark.implicits._
        release.await(60, java.util.concurrent.TimeUnit.SECONDS)
        spark.createDataset(Seq.empty[CriticalPathResult])
      }
    }
    try {
      val t0 = System.nanoTime()
      val out = g.analyzeGuarded().collect()
      val guardedSecs = (System.nanoTime() - t0) / 1e9
      assert(out.length === 1 && out(0).streamingQueryState === "ERROR",
        s"expected the single ERROR row, got ${out.toSeq}")
      // generous bound: the guard returns ~1s after its timeout, but a
      // loaded machine can delay the Await wake-up — what matters is that
      // it returns long before the 60 s the analysis would block
      assert(guardedSecs >= 1.0 && guardedSecs < 30,
        s"guard returned after ${guardedSecs}s for a 1s timeout")
      // the abandoned analysis still holds the busy flag: the next tick
      // skips instead of stacking a second analysis
      assert(g.analyzeGuarded().collect().isEmpty)
    } finally {
      release.countDown()
      g.stop()
    }
  }

  test("maxRetries consecutive failures detach the instance; a success resets the count") {
    import org.apache.spark.sql.Dataset
    import graft.model.CriticalPathResult
    val fail = new java.util.concurrent.atomic.AtomicBoolean(true)
    val others = SparkTestHooks.sources("StreamingGraft").toSet
    val g = new StreamingGraft(spark, Map(
      "streamingLens.maxRetries" -> "2",
      "streamingLens.shouldLogResults" -> "false")) {
      override protected def runGuardedAnalysis(): Dataset[CriticalPathResult] = {
        import spark.implicits._
        if (fail.get) throw new IllegalStateException("injected analysis failure")
        spark.createDataset(Seq.empty[CriticalPathResult])
      }
    }
    // stop() unregisters the instance's metrics source
    def attached = SparkTestHooks.sources("StreamingGraft").exists(src => !others.contains(src))
    def states = g.analyzeGuarded().collect().map(_.streamingQueryState).toSeq
    try {
      assert(attached)
      assert(states === Seq("ERROR"))
      assert(attached, "one failure detached the instance")
      fail.set(false)
      assert(states === Seq.empty)
      fail.set(true)
      assert(states === Seq("ERROR"))
      assert(attached, "a success did not reset the failure count")
      assert(states === Seq("ERROR"))
      assert(!attached, "two consecutive failures left the instance attached")
    } finally g.stop()
  }

  test("full loop: live query + analysis ticker accumulating classified results") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val g = new StreamingGraft(spark, Map(
      "streamingLens.shouldLogResults" -> "false",
      "streamingLens.expectedMicroBatchSLAMillis" -> "600000"))
    val firstTick = new java.util.concurrent.CompletableFuture[Seq[String]]()
    try {
      val mem = MemoryStream[Int]
      // Data before start: the query's first progress event is its data
      // batch, so the analysis lists that batch first.
      mem.addData(1 to 2000: _*)
      val q = mem.toDS().map(_ * 2).writeStream.format("memory")
        .queryName("full_loop").outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      ListenerBusDrain(spark)
      // Every tick from here on sees all of the stopped query's telemetry.
      val ticker = _root_.graft.streaming.StreamingOps.analysisTicker(spark, 1) { () =>
        firstTick.complete(g.analyzeGuarded().collect().toSeq
          .map(r => s"${r.batchId}:${r.streamingQueryState}"))
      }
      try {
        val collected = firstTick.get(60, java.util.concurrent.TimeUnit.SECONDS)
        assert(collected.nonEmpty, "ticker never produced an analysis result")
        assert(collected.head.endsWith("OVERPROVISIONED"), collected)
      } finally ticker.stop()
    } finally {
      g.stop()
    }
  }
}
