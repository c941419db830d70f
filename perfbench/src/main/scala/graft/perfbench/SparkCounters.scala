package graft.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable

/** One completed stage as the scheduler reported it. `taskRunMs` and
  * `taskRecordsIn` are per task, in completion order. */
final case class StageRec(
    submitMs: Long,
    doneMs: Long,
    numTasks: Int,
    cpuNs: Long,
    gcMs: Long,
    inputBytes: Long,
    shuffleReadBytes: Long,
    shuffleWriteBytes: Long,
    spillBytes: Long,
    taskRunMs: Seq[Long],
    taskRecordsIn: Seq[Long]) {
  def wallS: Double = (doneMs - submitMs) / 1e3
}

/** Job, stage and task counters of one Spark application, registered by
  * the benchmark only for traced iterations. Readers call [[snapshot]],
  * which first drains the asynchronous listener bus so that the counters
  * include every action that has returned. */
final class SparkCounters(sc: SparkContext) extends SparkListener {
  private val stages  = mutable.ArrayBuffer.empty[StageRec]
  private val jobEnds = mutable.ArrayBuffer.empty[Long]
  private val tasks   = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[(Long, Long)]]

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m       = e.taskMetrics
    val records = if (m == null) 0L else m.shuffleReadMetrics.recordsRead + m.inputMetrics.recordsRead
    val runMs   = if (m == null) e.taskInfo.duration else m.executorRunTime
    tasks.getOrElseUpdate((e.stageId, e.stageAttemptId), mutable.ArrayBuffer.empty) += ((runMs, records))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i  = e.stageInfo
    val m  = i.taskMetrics
    val ts = tasks.remove((i.stageId, i.attemptNumber())).map(_.toSeq).getOrElse(Seq.empty)
    stages += StageRec(
      submitMs = i.submissionTime.getOrElse(0L),
      doneMs = i.completionTime.getOrElse(0L),
      numTasks = i.numTasks,
      cpuNs = m.executorCpuTime,
      gcMs = m.jvmGCTime,
      inputBytes = m.inputMetrics.bytesRead,
      shuffleReadBytes = m.shuffleReadMetrics.totalBytesRead,
      shuffleWriteBytes = m.shuffleWriteMetrics.bytesWritten,
      spillBytes = m.memoryBytesSpilled + m.diskBytesSpilled,
      taskRunMs = ts.map(_._1),
      taskRecordsIn = ts.map(_._2))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized { jobEnds += e.time }

  /** Counters accumulated so far, after every posted event is delivered. */
  def snapshot(): SparkCounters.Snapshot = {
    org.apache.spark.ListenerBusDrain(sc)
    synchronized(SparkCounters.Snapshot(stages.toVector, jobEnds.toVector))
  }
}

object SparkCounters {
  final case class Snapshot(stages: Vector[StageRec], jobEnds: Vector[Long]) {
    /** What happened after `before` was taken. */
    def since(before: Snapshot): Snapshot =
      Snapshot(stages.drop(before.stages.size), jobEnds.drop(before.jobEnds.size))

    def jobs: Int  = jobEnds.size
    def tasks: Int = stages.map(_.numTasks).sum

    /** Named totals, recorded as span counters. */
    def totals: Map[String, Double] = Map(
      "jobs"             -> jobs.toDouble,
      "stages"           -> stages.size.toDouble,
      "tasks"            -> tasks.toDouble,
      "cpu_s"            -> stages.map(_.cpuNs).sum / 1e9,
      "gc_s"             -> stages.map(_.gcMs).sum / 1e3,
      "input_mb"         -> stages.map(_.inputBytes).sum / 1e6,
      "shuffle_read_mb"  -> stages.map(_.shuffleReadBytes).sum / 1e6,
      "shuffle_write_mb" -> stages.map(_.shuffleWriteBytes).sum / 1e6,
      "spill_mb"         -> stages.map(_.spillBytes).sum / 1e6)
  }

  val Empty: Snapshot = Snapshot(Vector.empty, Vector.empty)
}
