package perfbench

import java.util.UUID

import scala.collection.mutable

import graft.model.CriticalPathResult

/** Seeded synthetic telemetry for the replay workload, and the results the
  * analysis must return for it, computed here from the generated structure
  * by the published rules (batch running time from progress; jobs grouped by
  * sql-execution id and split into islands of overlapping jobs; a job's
  * critical time is the longest task per stage along its stage DAG; the SLA
  * bands) without calling the engine.
  *
  * Each batch has overlapping jobs sharing execution ids, fan-in stage DAGs,
  * heavy-tailed task times with stragglers and some failed tasks. One job
  * never ends and one stage never completes; some batches read no input; and
  * each query's SLA override spreads batches over every state.
  *
  * Volume: a batch averages about 168 listener events, so the 1000-batch
  * window holds about 168 000. */
object ReplayGen {
  final case class Task(id: Long, index: Int, launch: Long, finish: Long, failed: Boolean) {
    def ms: Long = finish - launch
  }
  final case class Stage(id: Int, parents: Seq[Int], submit: Long,
                         complete: Option[Long], tasks: Seq[Task])
  final case class Job(id: Int, execId: Option[Long], start: Long, end: Option[Long],
                       stages: Seq[Stage])
  final case class Batch(query: Int, batchId: Long, time: Long, jobs: Seq[Job],
                         numInputRows: Long, processedRowsPerSecond: Double)
  final case class Query(id: UUID, runId: UUID, name: String, slaMs: Long)

  private val SlotMs = 100000L
  /** Tasks per stage are uniform on 1..MaxTasks. A batch has 3 jobs of 3
    * stages on average, so its events are 9 × 16 task ends + 6 job and 18
    * stage events + 1 progress event = 169 on average. */
  private val MaxTasks = 31
  /** The batch of the second query that holds the in-flight job and stage:
    * mid-window, so no run's eviction reaches it. */
  private val InFlightBatch = 250L

  final class Scenario(seed: Long, baseMs: Long) {
    private val rnd = new scala.util.Random(seed)
    val queries: Seq[Query] = Seq(
      Query(new UUID(seed, 1L), new UUID(seed, 2L), "replay_a", 20000L),
      Query(new UUID(seed, 3L), new UUID(seed, 4L), "replay_b", 60000L))

    private var nextJob = SparkAccounting.SyntheticIdBase
    private var nextStage = SparkAccounting.SyntheticIdBase
    private var nextTask = 1000000000L
    private var nextExec = 1000000000L
    private var slot = 0
    private val nextBatch = mutable.ArrayBuffer(0L, 0L)

    /** The next batch, alternating between the two queries. The in-flight
      * job and stage go into batch [[InFlightBatch]] of the second query; `idleAllowed`
      * false rules out a zero-input batch. */
    def next(idleAllowed: Boolean = true): Batch = {
      val q = slot % 2
      val b = nextBatch(q)
      nextBatch(q) += 1
      val t = baseMs + slot * SlotMs
      slot += 1
      batch(q, b, t, inFlight = q == 1 && b == InFlightBatch, idleAllowed)
    }

    private def logNormal(mu: Double, sigma: Double): Long =
      math.max(1L, math.exp(mu + sigma * rnd.nextGaussian()).toLong)

    private def stagesOf(jobStart: Long, mu: Double): Seq[Stage] = {
      // DAG shapes: a chain, a two-way fan-in, or a diamond.
      val shape = rnd.nextInt(3)
      val n = shape match { case 0 => 1 + rnd.nextInt(3); case 1 => 3; case _ => 4 }
      val ids = (0 until n).map(_ => { nextStage += 1; nextStage })
      val parentsOf: Int => Seq[Int] = shape match {
        case 0 => i => if (i == 0) Nil else Seq(ids(i - 1))
        case 1 => i => if (i < 2) Nil else Seq(ids(0), ids(1))
        case _ => i => i match {
          case 0 => Nil
          case 1 | 2 => Seq(ids(0))
          case _ => Seq(ids(1), ids(2))
        }
      }
      val done = mutable.HashMap.empty[Int, Long]
      ids.indices.map { i =>
        val parents = parentsOf(i)
        val submit = (parents.map(done) :+ jobStart).max + 1 + rnd.nextInt(5)
        val nTasks = 1 + rnd.nextInt(MaxTasks)
        val straggler = if (rnd.nextDouble() < 0.2) rnd.nextInt(nTasks) else -1
        val tasks = (0 until nTasks).map { k =>
          nextTask += 1
          val base = logNormal(mu, 0.6)
          val ms = if (k == straggler) base * (4 + rnd.nextInt(12)) else base
          val launch = submit + rnd.nextInt(4)
          Task(nextTask, k, launch, launch + ms, rnd.nextDouble() < 0.03)
        }
        val complete = tasks.map(_.finish).max + 1
        done(ids(i)) = complete
        Stage(ids(i), parents, submit, Some(complete), tasks)
      }
    }

    private def batch(q: Int, b: Long, t: Long, inFlight: Boolean,
                      idleAllowed: Boolean): Batch = {
      val nJobs = 1 + rnd.nextInt(5)
      val execIds = (0 until 2).map(_ => { nextExec += 1; nextExec })
      val mu = math.log(20 + rnd.nextInt(200))
      var cursor = t
      var lastStart = t
      var lastEnd = t
      val jobs = (0 until nJobs).map { j =>
        val overlap = j > 0 && rnd.nextDouble() < 0.5
        val start =
          if (overlap) lastStart + rnd.nextInt(math.max(1, (lastEnd - lastStart).toInt))
          else cursor + 1 + rnd.nextInt(50)
        nextJob += 1
        val stages = stagesOf(start, mu)
        val end = stages.flatMap(_.complete).max + 1
        lastStart = start
        lastEnd = end
        cursor = math.max(cursor, end)
        val exec = rnd.nextInt(5) match {
          case 0 => None
          case k => Some(execIds(k % 2))
        }
        Job(nextJob, exec, start, Some(end), stages)
      }
      val withInFlight =
        if (!inFlight) jobs
        else {
          // A completed job whose last stage never completes, and a job that
          // never ends.
          val open = jobs.head
          val stages = open.stages.init :+ open.stages.last.copy(complete = None)
          nextJob += 1
          val never = Job(nextJob, open.execId, open.start, None, stagesOf(open.start, mu))
          (open.copy(stages = stages) +: jobs.tail) :+ never
        }
      val (est, cp) = jobFigures(withInFlight)
      val sla = queries(q).slaMs
      val target = rnd.nextInt(20)
      val rows = 1000L + rnd.nextInt(100000)
      def withRunning(brt: Long) =
        Batch(q, b, t, withInFlight, rows, rows * 1000.0 / math.max(1L, brt))
      if (target < 2 && idleAllowed) Batch(q, b, t, withInFlight, 0L, 0.0)
      else {
        val lo = (sla * 0.3).toLong
        val hi = (sla * 0.7).toLong
        val brt = target match {
          case x if x < 9 => est + rnd.nextInt(math.max(1, (lo - est).toInt))
          case x if x < 14 => math.max(est, lo + 2) + rnd.nextInt(math.max(1, (hi - lo - 4).toInt))
          case x if x < 17 && est - cp > 4 => hi + 2 + rnd.nextInt((est - cp - 3).toInt)
          case _ => hi + est - cp + 2 + rnd.nextInt(5000)
        }
        withRunning(brt)
      }
    }
  }

  /** Critical time of one job: the longest task per stage along the stage
    * DAG, over the stages that completed; a parent outside them adds 0. */
  def jobCriticalMs(job: Job): Long = {
    val done = job.stages.filter(_.complete.isDefined)
    if (done.isEmpty) 0L
    else {
      val byId = done.map(s => s.id -> s).toMap
      val memo = mutable.HashMap.empty[Int, Long]
      def ct(id: Int): Long = memo.getOrElseUpdate(id, byId.get(id) match {
        case None => 0L
        case Some(s) =>
          val longest = if (s.tasks.isEmpty) 0L else s.tasks.map(_.ms).max
          longest + s.parents.map(ct).foldLeft(0L)(math.max)
      })
      ct(done.map(_.id).max)
    }
  }

  /** (Σ island wall-clock span, Σ island max job critical time) over the
    * batch's ended jobs, islands formed per execution-id group (a job
    * without one is its own group) by start order: a job starting after the
    * latest end so far opens a new island. */
  def jobFigures(jobs: Seq[Job]): (Long, Long) = {
    val ended = jobs.filter(_.end.isDefined)
    val groups = ended.groupBy(j => j.execId.map(_.toString).getOrElse("solo-" + j.id))
    var est = 0L
    var cp = 0L
    groups.values.foreach { g =>
      var islandStart = 0L
      var islandEnd = Long.MinValue
      var islandCp = 0L
      var first = true
      g.sortBy(j => (j.start, j.id)).foreach { j =>
        if (first || j.start > islandEnd) {
          if (!first) { est += islandEnd - islandStart; cp += islandCp }
          first = false
          islandStart = j.start
          islandEnd = j.end.get
          islandCp = jobCriticalMs(j)
        } else {
          islandEnd = math.max(islandEnd, j.end.get)
          islandStart = math.min(islandStart, j.start)
          islandCp = math.max(islandCp, jobCriticalMs(j))
        }
      }
      if (!first) { est += islandEnd - islandStart; cp += islandCp }
    }
    (est, cp)
  }

  private val ordinals = Map("NONEWBATCHES" -> 0, "OVERPROVISIONED" -> 1,
    "OPTIMUM" -> 2, "UNDERPROVISIONED" -> 3, "UNHEALTHY" -> 4)

  /** The result the analysis must give `b` under SLA `slaMs` and the
    * default 0.3 / 0.7 thresholds. */
  def expected(b: Batch, q: Query, slaMs: Long): CriticalPathResult = {
    val n = b.numInputRows
    val prs = b.processedRowsPerSecond
    val brt = if (n > 0 && prs > 0) (n / prs * 1000).toLong else 0L
    val (est, cp) = jobFigures(b.jobs)
    val ct = if (brt == 0L) 0L else brt - est + cp
    val sla = slaMs.toDouble
    val state =
      if (n == 0 || prs == 0) "NONEWBATCHES"
      else if (brt <= sla * 0.3) "OVERPROVISIONED"
      else if (brt <= sla * 0.7) "OPTIMUM"
      else if (ct <= sla * 0.7) "UNDERPROVISIONED"
      else "UNHEALTHY"
    CriticalPathResult(q.id.toString, b.batchId, slaMs, brt, ct, state, ordinals(state))
  }

  def eventCount(b: Batch): Int =
    1 + b.jobs.map(j => 1 + j.end.size + j.stages.map(s => 1 + s.complete.size + s.tasks.size).sum).sum
}
