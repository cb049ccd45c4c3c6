package linkbench

import scala.collection.mutable
import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** Task totals of one job group. */
final class GroupStats {
  var jobs = 0
  var tasks = 0
  var tasksFailed = 0
  var cpuNs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var peakTaskMem = 0L
  /** task durations (ms) per stage */
  val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]

  def cpuS: Double = cpuNs / 1e9
  def shuffleMb: Double = shuffleWriteBytes / 1e6

  /** max / median task time of the group's heaviest stage (by summed
    * task time); 1.0 when no stage ran at least two tasks. */
  def taskSkew: Double = {
    val multi = stageTaskMs.values.filter(_.length >= 2)
    if (multi.isEmpty) 1.0
    else {
      val s = multi.maxBy(_.sum).sorted
      s.last.toDouble / math.max(1L, s(s.length / 2))
    }
  }
}

/** A SparkListener that attributes every task to the job group that
  * was set on the thread which started its job. The benchmark sets a
  * group around each call it measures. */
final class Meter(sc: SparkContext) extends SparkListener {
  private val stageGroup = mutable.Map.empty[Int, String]
  private val groups = mutable.Map.empty[String, GroupStats]

  private def group(name: String): GroupStats = groups.getOrElseUpdate(name, new GroupStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("none")
    group(g).jobs += 1
    e.stageIds.foreach(stageGroup(_) = g)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val g = group(stageGroup.getOrElse(e.stageId, "none"))
    g.tasks += 1
    if (e.reason != Success) g.tasksFailed += 1
    val m = e.taskMetrics
    if (m != null) {
      g.cpuNs += m.executorCpuTime
      g.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      g.spillBytes += m.diskBytesSpilled
      g.peakTaskMem = math.max(g.peakTaskMem, m.peakExecutionMemory)
    }
    g.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
  }

  /** Drain the listener bus, then return and forget everything seen
    * since the last call, by group. */
  def take(): Map[String, GroupStats] = {
    org.apache.spark.linkbench.drainListenerBus(sc)
    synchronized {
      val out = groups.toMap
      groups.clear()
      stageGroup.clear()
      out
    }
  }

  /** Run `body` with `name` as the job group of this thread, then
    * restore the enclosing group. */
  def inGroup[T](name: String)(body: => T): T = {
    val outer = sc.getLocalProperty("spark.jobGroup.id")
    sc.setJobGroup(name, name)
    try body
    finally if (outer == null) sc.clearJobGroup() else sc.setJobGroup(outer, outer)
  }
}
