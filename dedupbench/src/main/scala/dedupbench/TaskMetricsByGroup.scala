package dedupbench

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

import scala.collection.mutable

/** Totals of the task metrics of one job group (one pipeline stage in the
  * traced run; everything in the untraced run). */
final class GroupTotals {
  var tasks = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var peakExecMem = 0L
  val runMs = mutable.ArrayBuffer[Long]()

  def add(m: org.apache.spark.executor.TaskMetrics): Unit = {
    tasks += 1
    cpuNs += m.executorCpuTime
    gcMs += m.jvmGCTime
    shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
    spillBytes += m.diskBytesSpilled
    peakExecMem = math.max(peakExecMem, m.peakExecutionMemory)
    runMs += m.executorRunTime
  }

  def maxTaskS: Double = if (runMs.isEmpty) 0.0 else runMs.max / 1000.0

  /** slowest task's run time / median task's run time (1 ms floor). */
  def skew: Double =
    if (runMs.isEmpty) 0.0
    else {
      val s = runMs.sorted
      s.last.toDouble / math.max(1L, s(s.length / 2))
    }
}

/** Task metrics keyed by the job group each task's job ran under. Jobs
  * started outside any group land under "". */
final class TaskMetricsByGroup extends SparkListener {
  private val stageGroup = mutable.HashMap[Int, String]()
  private val groups = mutable.LinkedHashMap[String, GroupTotals]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    e.stageInfos.foreach(s => stageGroup(s.stageId) = g)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (e.taskMetrics != null)
      groups.getOrElseUpdate(stageGroup.getOrElse(e.stageId, ""), new GroupTotals)
        .add(e.taskMetrics)
  }

  def reset(): Unit = synchronized { groups.clear() }

  def group(name: String): GroupTotals = synchronized {
    groups.getOrElse(name, new GroupTotals)
  }

  /** All groups folded into one. */
  def total: GroupTotals = synchronized {
    val t = new GroupTotals
    groups.values.foreach { g =>
      t.tasks += g.tasks; t.cpuNs += g.cpuNs; t.gcMs += g.gcMs
      t.shuffleWriteBytes += g.shuffleWriteBytes; t.spillBytes += g.spillBytes
      t.peakExecMem = math.max(t.peakExecMem, g.peakExecMem); t.runMs ++= g.runMs
    }
    t
  }
}
