package perfbench


/** One benchmark run: `perfbench.Main --workload <name> --seed <n>
  * --seconds <s> --trace <0|1> --work <dir>`. Prints notes, then one JSON
  * line: `correct`, `attempted`, `failed` and the metrics (end-to-end ones
  * untraced, per-layer ones traced). Exit code 0 whenever that line is
  * printed; a failed check shows as `"correct": false`. */
object Main {
  val Workloads = Seq("live-stream", "replay-b1000")

  def main(argv: Array[String]): Unit = {
    val args = Args.parse(argv)
    require(Workloads.contains(args.workload), s"unknown workload ${args.workload}")
    args.work.mkdirs()
    val res = new Result
    val trace = new Trace(args.trace)
    val jvm = new Jvm
    val spark = Session.start(Session.cores, args.work)
    // Accounting listens on the bus only in traced runs.
    val acct = new SparkAccounting
    if (trace.enabled) spark.sparkContext.addSparkListener(acct)
    try args.workload match {
      case "live-stream" => LiveStream.run(args, res, trace, jvm, spark, acct)
      case "replay-b1000" => Replay.run(args, res, trace, jvm, spark, acct)
    } catch {
      case e: Throwable =>
        res.check(ok = false, s"run aborted: $e")
        e.printStackTrace()
    } finally {
      if (trace.enabled) trace.write(new java.io.File(args.work, s"trace-${args.workload}.jsonl"))
      spark.stop()
    }
    res.failureReasons.take(20).foreach(r => println(s"[perfbench] FAILED: $r"))
    res.notes.foreach(n => println(s"[perfbench] $n"))
    println(s"[perfbench] error_rate ${res.failed.toDouble / math.max(1L, res.attempted)}" +
      s" (${res.failed} of ${res.attempted} operations)")
    println(res.json)
    System.out.flush()
    sys.exit(0)
  }
}
