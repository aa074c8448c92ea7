package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable

/** Engine counters for one job group: every job, stage and task whose
  * submitting thread carried that group's tag. */
final class Acc {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var taskMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var peakMem = 0L
  var inRows = 0L
  var inBytes = 0L
  var outBytes = 0L
  val jobIntervals = mutable.ArrayBuffer[(Long, Long)]()

  def toMap: Map[String, Any] = Map(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "run_ms" -> runMs, "cpu_ms" -> cpuNs / 1e6, "gc_ms" -> gcMs,
    "task_ms" -> taskMs, "shuffle_read" -> shuffleRead,
    "shuffle_write" -> shuffleWrite, "spill" -> spill, "peak_mem" -> peakMem,
    "in_rows" -> inRows, "in_bytes" -> inBytes, "out_bytes" -> outBytes,
    "job_intervals" -> jobIntervals.map { case (s, e) => Seq(s, e) }.toSeq)
}

/** A listener that files every job, stage and task under the group tag
  * ([[Ledger.GroupKey]]) of the thread that submitted it. The tag is a
  * local property of its own, not the job group, because Spark sets its
  * own job group on some jobs (a broadcast exchange's collect), and local
  * properties pass to the threads such jobs run on. Jobs submitted with
  * no tag land under [[Ledger.Unattributed]]. */
final class Ledger extends SparkListener {
  private val groups = mutable.Map[String, Acc]()
  private val stageGroup = mutable.Map[Int, String]()
  private val jobGroup = mutable.Map[Int, String]()
  private val jobStart = mutable.Map[Int, Long]()

  private def groupOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty(Ledger.GroupKey)))
      .getOrElse(Ledger.Unattributed)

  private def acc(g: String): Acc = groups.getOrElseUpdate(g, new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = groupOf(e.properties)
    jobGroup(e.jobId) = g
    jobStart(e.jobId) = e.time
    e.stageIds.foreach(stageGroup.getOrElseUpdate(_, g))
    acc(g).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    for (g <- jobGroup.remove(e.jobId); s <- jobStart.remove(e.jobId))
      acc(g).jobIntervals += ((s, e.time))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val g = stageGroup.getOrElse(e.stageInfo.stageId, groupOf(e.properties))
    acc(g).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = acc(stageGroup.getOrElse(e.stageId, Ledger.Unattributed))
    a.tasks += 1
    a.taskMs += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.peakMem = math.max(a.peakMem, m.peakExecutionMemory)
      a.inRows += m.inputMetrics.recordsRead
      a.inBytes += m.inputMetrics.bytesRead
      a.outBytes += m.outputMetrics.bytesWritten
    }
  }

  /** Waits until the listener bus has delivered every posted event, then
    * returns a copy of the per-group counters. */
  def snapshot(sc: SparkContext): Map[String, Map[String, Any]] = {
    org.apache.spark.PerfbenchAccess.drain(sc)
    synchronized(groups.map { case (g, a) => g -> a.toMap }.toMap)
  }
}

object Ledger {
  val Unattributed = "<none>"
  /** The local property that tags jobs with their group. */
  val GroupKey = "perfbench.group"

  /** Tags the calling thread's jobs with `group`, or untags them. */
  def tag(sc: SparkContext, group: Option[String]): Unit =
    sc.setLocalProperty(GroupKey, group.orNull)

  def attach(sc: SparkContext): Ledger = {
    val l = new Ledger
    sc.addSparkListener(l)
    l
  }
}
