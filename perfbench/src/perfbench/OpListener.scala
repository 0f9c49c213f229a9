package perfbench

import org.apache.spark.scheduler._
import scala.collection.mutable

/** Benchmark-owned listener. Always sums executor CPU and shuffle bytes
  * written; with `detailed` it also keeps one record per job (label, span,
  * task totals and task durations) so jobs can be grouped by the
  * `pipeline: <stage>` / `incremental: <stage>` labels the program sets.
  *
  * Events arrive on the listener-bus thread; readers call
  * [[org.apache.spark.perfbench.BusDrain]] first and then read under the
  * same lock.
  */
final class OpListener(detailed: Boolean) extends SparkListener {
  import OpListener._

  private var cpuNs = 0L
  private var shuffleBytes = 0L
  private val jobs = mutable.LinkedHashMap.empty[Int, JobAcc]
  private val stageToJob = mutable.HashMap.empty[Int, Int]

  def reset(): Unit = synchronized {
    cpuNs = 0L; shuffleBytes = 0L; jobs.clear(); stageToJob.clear()
  }

  /** Counters and job records since the last reset. */
  def snapshot(): Window = synchronized {
    Window(cpuNs, shuffleBytes, jobs.values.map(_.freeze).toVector)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = if (detailed) synchronized {
    val desc = Option(e.properties).map(_.getProperty("spark.job.description")).orNull
    jobs(e.jobId) = new JobAcc(desc, e.time)
    e.stageIds.foreach(s => stageToJob.getOrElseUpdate(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = if (detailed) synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val cpu = if (m == null) 0L else m.executorCpuTime
    val sw = if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten
    cpuNs += cpu
    shuffleBytes += sw
    if (detailed) stageToJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
      j.cpuNs += cpu
      j.shuffleBytes += sw
      if (m != null) { j.gcMs += m.jvmGCTime; j.spillBytes += m.diskBytesSpilled }
      if (e.taskInfo.successful) j.taskMs += e.taskInfo.duration else j.failedTasks += 1
    }
  }
}

object OpListener {
  /** One job: its label, span (epoch ms) and task totals. */
  final case class Job(desc: String, start: Long, end: Long, cpuNs: Long, shuffleBytes: Long,
                       gcMs: Long, spillBytes: Long, failedTasks: Int, taskMs: Vector[Long])

  private final class JobAcc(desc: String, start: Long) {
    var end = start
    var cpuNs = 0L
    var shuffleBytes = 0L
    var gcMs = 0L
    var spillBytes = 0L
    var failedTasks = 0
    val taskMs = mutable.ArrayBuffer.empty[Long]
    def freeze: Job = Job(desc, start, end, cpuNs, shuffleBytes, gcMs, spillBytes,
      failedTasks, taskMs.toVector)
  }

  final case class Window(cpuNs: Long, shuffleBytes: Long, jobs: Vector[Job])
}
