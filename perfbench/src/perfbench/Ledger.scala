package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

import scala.collection.mutable

/** Counts of one job group: the Spark work a single timed call caused. */
final class GroupCounts {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var cpuNs = 0L
  var runMs = 0L
  var gcMs = 0L
  var schedulerDelayMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  val taskMs = mutable.Map[Int, mutable.ArrayBuffer[Long]]()

  /** Max ÷ median task time of the worst stage that ran at least two
   * tasks; 1 when no stage did. */
  def skew: Double = {
    val ratios = taskMs.values.filter(_.size >= 2).map { ts =>
      val med = Stats.median(ts.map(_.toDouble).toSeq)
      ts.max / math.max(med, 1.0)
    }
    if (ratios.isEmpty) 1.0 else ratios.max
  }

  def add(o: GroupCounts): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; cpuNs += o.cpuNs
    runMs += o.runMs; gcMs += o.gcMs; schedulerDelayMs += o.schedulerDelayMs
    shuffleWriteBytes += o.shuffleWriteBytes; shuffleReadBytes += o.shuffleReadBytes
    spillBytes += o.spillBytes; inputBytes += o.inputBytes
    o.taskMs.foreach { case (k, v) => taskMs.getOrElseUpdate(k, mutable.ArrayBuffer()) ++= v }
  }

  def fields: Seq[(String, Double)] = Seq(
    "jobs" -> jobs.toDouble, "stages" -> stages.toDouble, "tasks" -> tasks.toDouble,
    "executor_cpu_s" -> cpuNs / 1e9, "executor_run_s" -> runMs / 1e3,
    "scheduler_delay_s" -> schedulerDelayMs / 1e3, "gc_s" -> gcMs / 1e3,
    "shuffle_write_bytes" -> shuffleWriteBytes.toDouble,
    "shuffle_read_bytes" -> shuffleReadBytes.toDouble,
    "spill_bytes" -> spillBytes.toDouble, "input_bytes" -> inputBytes.toDouble,
    "task_skew" -> skew)
}

/** One Spark job as the listener saw it (epoch ms). */
final case class JobRecord(id: Int, group: String, startMs: Long, var endMs: Long)

/**
 * The outside-in ledger: a SparkListener that charges every job, stage
 * and task to the job group that was set when the job was submitted. The
 * harness gives each timed call its own group, so the counts of a call
 * are exactly the work it caused; streaming queries run their jobs under
 * their run id, which the harness maps back to the call that started
 * them.
 */
final class Ledger extends SparkListener {
  private val groups = mutable.Map[String, GroupCounts]()
  private val stageGroup = mutable.Map[Int, String]()
  private val jobsById = mutable.LinkedHashMap[Int, JobRecord]()

  private def counts(g: String) = groups.getOrElseUpdate(g, new GroupCounts)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    counts(g).jobs += 1
    e.stageIds.foreach(stageGroup(_) = g)
    jobsById(e.jobId) = JobRecord(e.jobId, g, e.time, -1L)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobsById.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    counts(stageGroup.getOrElse(e.stageInfo.stageId, "")).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = counts(stageGroup.getOrElse(e.stageId, ""))
    val info = e.taskInfo
    val m = e.taskMetrics
    c.tasks += 1
    c.taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer()) += info.duration
    if (m != null) {
      c.cpuNs += m.executorCpuTime
      c.runMs += m.executorRunTime
      c.gcMs += m.jvmGCTime
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      c.inputBytes += m.inputMetrics.bytesRead
      // the Spark UI's definition of scheduler delay
      val gettingResult = if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L
      c.schedulerDelayMs += math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - gettingResult)
    }
  }

  def groupCounts(g: String): GroupCounts = synchronized {
    val out = new GroupCounts
    groups.get(g).foreach(out.add)
    out
  }

  def jobs: Seq[JobRecord] = synchronized(jobsById.values.map(_.copy()).toVector)
}

/** Progress of every micro-batch of every streaming query, in arrival order. */
final class ProgressLog extends StreamingQueryListener {
  private val buf = mutable.ArrayBuffer[StreamingQueryProgress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    synchronized(buf += e.progress)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  def of(runId: java.util.UUID): Vector[StreamingQueryProgress] =
    synchronized(buf.filter(_.runId == runId).toVector)
}
