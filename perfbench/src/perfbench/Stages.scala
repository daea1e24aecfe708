package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable

/** Per-stage task metrics, summed over the stage's successful tasks. */
final case class StageStat(
    stageId: Int,
    tag: String,
    wallMs: Long,
    tasks: Int,
    cpuNs: Long,
    gcMs: Long,
    inputRecords: Long,
    outputBytes: Long,
    shuffleWriteBytes: Long,
    shuffleWriteRecords: Long,
    shuffleWriteNs: Long,
    shuffleReadRecords: Long,
    fetchWaitMs: Long,
    spillBytes: Long,
    /** Durations of the tasks that read shuffle records. */
    taskMs: Vector[Long]) {
  def isMap: Boolean = shuffleWriteBytes > 0
  /** The stage after the bucket exchange: reads shuffle, writes none. */
  def isPostExchange: Boolean = shuffleReadRecords > 0 && shuffleWriteBytes == 0
  def writes: Boolean = outputBytes > 0
  /** Max over median time of the tasks that read at least one shuffle
    * record (buckets a resume skips leave empty reduce tasks behind). */
  def straggler: Double = {
    val s = taskMs.sorted
    if (s.isEmpty) 0.0 else s.last.toDouble / math.max(1L, s(s.length / 2))
  }
}

/** Job wall window with its tag, from the listener's job events. */
final case class JobStat(jobId: Int, tag: String, startMs: Long, endMs: Long)

/** Collects stage and job metrics for every job whose thread set the
  * `perfbench.tag` local property. Tags name a phase ("timed-3",
  * "timed-0:q01_pricing_summary", "warm") so metrics can be grouped
  * afterwards; untagged jobs (set-up, checks) are ignored. */
class StageCollector extends SparkListener {
  private val stageTag = mutable.HashMap.empty[Int, String]
  private val stageStart = mutable.HashMap.empty[Int, Long]
  private val acc = mutable.HashMap.empty[Int, Array[Long]]
  private val taskTimes = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]
  private val jobTag = mutable.HashMap.empty[Int, (String, Long)]
  private val stagesDone = mutable.ArrayBuffer.empty[StageStat]
  private val jobsDone = mutable.ArrayBuffer.empty[JobStat]

  private def tagOf(props: java.util.Properties): Option[String] =
    Option(props).flatMap(p => Option(p.getProperty(StageCollector.TagKey)))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    tagOf(e.properties).foreach { t =>
      jobTag(e.jobId) = (t, e.time)
      e.stageIds.foreach(id => stageTag.getOrElseUpdate(id, t))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobTag.remove(e.jobId).foreach { case (t, start) => jobsDone += JobStat(e.jobId, t, start, e.time) }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val id = e.stageInfo.stageId
    tagOf(e.properties).foreach(t => stageTag(id) = t)
    if (stageTag.contains(id))
      stageStart(id) = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m == null || !stageTag.contains(e.stageId) || !e.taskInfo.successful) return
    val sums = Array(1L, m.executorCpuTime, m.jvmGCTime, m.inputMetrics.recordsRead,
      m.outputMetrics.bytesWritten, m.shuffleWriteMetrics.bytesWritten,
      m.shuffleWriteMetrics.recordsWritten, m.shuffleWriteMetrics.writeTime,
      m.shuffleReadMetrics.recordsRead, m.shuffleReadMetrics.fetchWaitTime,
      m.memoryBytesSpilled + m.diskBytesSpilled)
    val a = acc.getOrElseUpdate(e.stageId, new Array[Long](sums.length))
    for (i <- sums.indices) a(i) += sums(i)
    if (m.shuffleReadMetrics.recordsRead > 0)
      taskTimes.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val id = e.stageInfo.stageId
    stageTag.get(id).foreach { t =>
      val a = acc.remove(id).getOrElse(new Array[Long](11))
      val start = stageStart.remove(id).orElse(e.stageInfo.submissionTime).getOrElse(0L)
      val end = e.stageInfo.completionTime.getOrElse(start)
      stagesDone += StageStat(id, t, end - start, a(0).toInt, a(1), a(2), a(3), a(4), a(5),
        a(6), a(7), a(8), a(9), a(10), taskTimes.remove(id).map(_.toVector).getOrElse(Vector.empty))
    }
  }

  def stages(tag: String => Boolean): Vector[StageStat] = synchronized {
    stagesDone.filter(s => tag(s.tag)).toVector
  }

  def jobs(tag: String => Boolean): Vector[JobStat] = synchronized {
    jobsDone.filter(j => tag(j.tag)).toVector
  }
}

object StageCollector {
  val TagKey = "perfbench.tag"

  def install(sc: SparkContext): StageCollector = {
    val c = new StageCollector
    sc.addSparkListener(c)
    c
  }

  /** Runs `f` with every job it starts tagged `tag`. */
  def tagged[A](sc: SparkContext, tag: String)(f: => A): A = {
    val prev = sc.getLocalProperty(TagKey)
    sc.setLocalProperty(TagKey, tag)
    try f
    finally sc.setLocalProperty(TagKey, prev)
  }

  /** Waits until the listener has seen every event posted so far. */
  def drain(sc: SparkContext): Unit = org.apache.spark.PerfbenchBus.drain(sc)
}
