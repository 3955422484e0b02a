package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._

import graft.analyzer.CriticalPath
import graft.model.StageSpan

/** Spark execution accounting by operation tag. The benchmark sets the
  * local property [[Tag]] on the thread that calls into the program, so
  * every job that call submits carries it; the monitored query's jobs are
  * tagged `stream`. Critical time uses the engine's own
  * [[CriticalPath.criticalTimeOfStages]] over the stages each job ran. */
final class SparkAccounting extends SparkListener {
  import SparkAccounting._

  private final class StageAcc(val jobId: Long, val tag: String, val parents: Seq[Int],
                               val numTasks: Int, val start: Long) {
    val durations = mutable.ArrayBuffer.empty[Long]
  }

  private val jobTag = mutable.HashMap.empty[Int, String]
  private val stageJob = mutable.HashMap.empty[Int, (Long, String)]
  private val live = mutable.HashMap.empty[Int, StageAcc]
  private val totals = mutable.HashMap.empty[String, Counts]

  private def acc(tag: String): Counts = totals.getOrElseUpdate(tag, Counts())

  private def tagOf(props: java.util.Properties): Option[String] =
    Option(props).flatMap { p =>
      Option(p.getProperty(Tag))
        .orElse(Option(p.getProperty("sql.streaming.queryId")).map(_ => "stream"))
    }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    if (e.jobId < SyntheticIdBase) tagOf(e.properties).foreach { tag =>
      jobTag(e.jobId) = tag
      e.stageIds.foreach(s => stageJob(s) = (e.jobId.toLong, tag))
      val c = acc(tag)
      c.jobs += 1
      c.events += 1
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobTag.remove(e.jobId).foreach(t => acc(t).events += 1)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val si = e.stageInfo
    stageJob.get(si.stageId).foreach { case (job, tag) =>
      live(si.stageId) = new StageAcc(job, tag, si.parentIds, si.numTasks,
        si.submissionTime.getOrElse(0L))
      val c = acc(tag)
      c.stages += 1
      c.events += 1
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    live.get(e.stageId).foreach { s =>
      val c = acc(s.tag)
      val d = Option(e.taskInfo).map(_.duration).getOrElse(0L)
      s.durations += d
      c.tasks += 1
      c.events += 1
      c.taskMs += d
      Option(e.taskMetrics).foreach { m =>
        c.gcMs += m.jvmGCTime
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    live.remove(si.stageId).foreach { s =>
      val c = acc(s.tag)
      c.events += 1
      val sorted = s.durations.sorted
      val max = sorted.lastOption.getOrElse(0L)
      val med = if (sorted.isEmpty) 0L else sorted(sorted.size / 2)
      if (max > c.worstStageMaxMs) {
        c.worstStageMaxMs = max
        c.worstStageMedianMs = med
      }
      c.stageSpans += StageSpan(si.stageId, s.jobId, s.start,
        si.completionTime.getOrElse(s.start), s.parents, s.numTasks, max, sorted.sum)
    }
  }

  /** Accumulated counts of `tag`, then forget them. */
  def take(tag: String): Counts = synchronized {
    totals.remove(tag).getOrElse(Counts())
  }
}

object SparkAccounting {
  val Tag = "perfbench.op"

  /** Job and stage ids at or above this are the replay's synthetic ones. */
  val SyntheticIdBase = 10000000

  final case class Counts(var jobs: Long = 0, var stages: Long = 0, var tasks: Long = 0,
                          var events: Long = 0, var taskMs: Long = 0, var gcMs: Long = 0,
                          var spillBytes: Long = 0, var shuffleBytes: Long = 0,
                          var worstStageMaxMs: Long = 0, var worstStageMedianMs: Long = 0,
                          stageSpans: mutable.ArrayBuffer[StageSpan] = mutable.ArrayBuffer.empty) {
    /** Σ over jobs of the job's critical time (longest task per stage along
      * the stage DAG), by the engine's own fold. */
    def criticalMs: Long =
      stageSpans.groupBy(_.jobId).values.map(ss => CriticalPath.criticalTimeOfStages(ss.toSeq)).sum

    /** Longest over median task time of the stage with the longest task. */
    def skew: Double =
      if (worstStageMedianMs <= 0) 1.0 else worstStageMaxMs.toDouble / worstStageMedianMs

    /** Events the program's scheduler bridge ingests for this work:
      * job start and end, stage submit and complete, task end. */
    def selfEvents: Long = 2 * jobs + 2 * stages + tasks
  }

  /** Run `body` with every job it submits tagged `tag`. */
  def tagged[T](spark: org.apache.spark.sql.SparkSession, tag: String)(body: => T): T = {
    val sc = spark.sparkContext
    sc.setLocalProperty(Tag, tag)
    try body finally sc.setLocalProperty(Tag, null)
  }
}
