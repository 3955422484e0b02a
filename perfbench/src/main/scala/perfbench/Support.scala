package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Command line of one run: `--workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --work <dir>`. */
final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                      work: java.io.File) {
  def deadlineAfter(startNs: Long): Long = startNs + (seconds * 1e9).toLong
}

object Args {
  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", new java.io.File(need("work")))
  }
}

/** What one run reports: the operations it attempted, those that failed or
  * failed their output check, the metrics, and human-readable notes. */
final class Result {
  private var attemptedN = 0L
  private val failures = mutable.ArrayBuffer.empty[String]
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val notes = mutable.ArrayBuffer.empty[String]

  /** Count one operation; `ok` false counts it as failed with `why`. */
  def check(ok: Boolean, why: => String): Unit = {
    attemptedN += 1
    if (!ok) failures += why
  }

  def attempted: Long = attemptedN
  def failed: Long = failures.size.toLong
  def failureReasons: Seq[String] = failures.toSeq

  def metric(name: String, value: Double, unit: String): Unit =
    metrics(name) = (value, unit)

  def note(s: String): Unit = notes += s

  /** Every sample of a timed operation, as a note line that the steadiness
    * runner pools across runs: one run times too few calls for a tail. */
  def samples(name: String, xs: Seq[Double]): Unit =
    note(s"samples $name " + xs.map(x => f"$x%.3f").mkString(" "))

  def json: String = {
    def num(v: Double) =
      if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
    val ms = metrics.map { case (k, (v, u)) =>
      s""""$k": {"value": ${num(v)}, "unit": "$u"}"""
    }.mkString(", ")
    s"""{"correct": ${failed == 0 && attempted > 0}, "attempted": $attempted, "failed": $failed, "metrics": {$ms}}"""
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest percentile that has at least ten samples above it, with
    * that percentile and the sample count. Fewer than eleven samples support
    * no such percentile; the median stands in and the percentile says so. */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val s = xs.sorted
    val n = s.size
    if (n < 11) (median(s), 50.0, n)
    else {
      val k = n - 11 // index with exactly ten samples above it
      (s(k), 100.0 * (k + 1) / n, n)
    }
  }
}

/** Named wall-clock spans with a parent and an iteration id, kept in memory
  * and written out at exit. Disabled, `apply` only runs its body. */
final class Trace(val enabled: Boolean) {
  import Trace.Span
  private val done = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Int]
  private var nextId = 0

  def apply[T](name: String, iter: Int)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = open.headOption.getOrElse(-1)
      open = id :: open
      val t0 = System.nanoTime()
      try body
      finally {
        done += Span(id, name, t0, System.nanoTime(), parent, iter)
        open = open.tail
      }
    }

  def spans(name: String): Seq[Span] = done.filter(_.name == name).toSeq
  def ms(name: String): Seq[Double] = spans(name).map(_.ms)

  def write(file: java.io.File): Unit = {
    val w = new java.io.PrintWriter(file)
    try done.foreach { s =>
      w.println(s"""{"id": ${s.id}, "name": "${s.name}", "start_ns": ${s.startNs}, "end_ns": ${s.endNs}, "parent": ${s.parent}, "iter": ${s.iter}}""")
    } finally w.close()
  }
}

object Trace {
  final case class Span(id: Int, name: String, startNs: Long, endNs: Long,
                        parent: Int, iter: Int) {
    def ms: Double = (endNs - startNs) / 1e6
  }
}

/** JVM counters: GC time, and the heap the program retains — heap in use
  * after a full collection — which moves when work is moved into memory and
  * not with allocation timing. */
final class Jvm {
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq

  def gcMillis: Long = gcBeans.map(b => math.max(0L, b.getCollectionTime)).sum

  def liveHeapMb(): Double = {
    settle()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  /** Full collections, so the timed phase starts from the same heap state
    * whatever garbage set-up left. */
  def settle(): Unit = {
    System.gc()
    System.gc()
  }
}

object Session {
  /** Sessions keep Spark's defaults except what no user runs with here:
    * no UI, UTC, nanosecond parquet timestamps read as longs, and scratch
    * space inside the benchmark's work directory. */
  def start(cores: Int, work: java.io.File): SparkSession = {
    val local = new java.io.File(work, "spark-local")
    local.mkdirs()
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", local.getAbsolutePath)
      .config("spark.sql.warehouse.dir", new java.io.File(work, "warehouse").getAbsolutePath)
      .config("spark.sql.streaming.checkpointLocation",
        new java.io.File(work, "checkpoints").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def cores: Int = Runtime.getRuntime.availableProcessors()

  /** Progress line on standard error, stamped with seconds since JVM start. */
  def log(msg: String): Unit = System.err.println(f"[perfbench] $sinceJvmStartS%.1f s: $msg")

  /** Milliseconds since this JVM started: set-up time counts JVM start. */
  def sinceJvmStartS: Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
}
