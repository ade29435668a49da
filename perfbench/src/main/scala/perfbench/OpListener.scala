package perfbench

import org.apache.spark.scheduler._
import scala.collection.mutable

/** Passive listener: attributes every job, stage and task metric to the job
  * group the benchmark set around the operation that ran it. The union of
  * the group's job intervals is the time some job ran, so the operation's
  * wall time minus that union is Spark-driver time with no job running.
  */
final class OpListener extends SparkListener {
  private final class Acc {
    var jobs = 0; var stages = 0; var tasks = 0L
    var runMs = 0L; var gcMs = 0L
    var inB = 0L; var outB = 0L; var shwB = 0L; var shrB = 0L; var spillB = 0L
    val intervals = mutable.ArrayBuffer.empty[(Long, Long)]
  }
  private val byGroup = mutable.HashMap.empty[String, Acc]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val jobGroup = mutable.HashMap.empty[Int, (String, Long)]

  private def acc(g: String): Acc = byGroup.getOrElseUpdate(g, new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    g.foreach { group =>
      acc(group).jobs += 1
      jobGroup(e.jobId) = (group, e.time)
      e.stageIds.foreach(stageGroup(_) = group)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobGroup.remove(e.jobId).foreach { case (g, start) => acc(g).intervals += ((start, e.time)) }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    stageGroup.remove(info.stageId).foreach { g =>
      val a = acc(g)
      a.stages += 1
      a.tasks += info.numTasks
      val m = info.taskMetrics
      if (m != null) {
        a.runMs += m.executorRunTime
        a.gcMs += m.jvmGCTime
        a.inB += m.inputMetrics.bytesRead
        a.outB += m.outputMetrics.bytesWritten
        a.shwB += m.shuffleWriteMetrics.bytesWritten
        a.shrB += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
        a.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  /** Engine counts of one group of `wallS` seconds, removed from the
    * listener. Call after the listener bus drained.
    */
  def take(group: String, wallS: Double): Map[String, Any] = synchronized {
    val a = byGroup.remove(group).getOrElse(new Acc)
    val mb = 1024.0 * 1024.0
    Map("jobs" -> a.jobs, "stages" -> a.stages, "tasks" -> a.tasks,
      "task_s" -> a.runMs / 1e3, "task_gc_s" -> a.gcMs / 1e3, "input_mb" -> a.inB / mb,
      "output_mb" -> a.outB / mb, "shuffle_write_mb" -> a.shwB / mb,
      "shuffle_read_mb" -> a.shrB / mb, "spill_mb" -> a.spillB / mb,
      "driver_gap_s" -> math.max(0.0, wallS - unionMs(a.intervals.toSeq) / 1e3))
  }

  private def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}
