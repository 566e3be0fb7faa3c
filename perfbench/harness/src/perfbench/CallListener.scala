package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** Attributes scheduler and task events to benchmark calls.
  *
  * Each call runs with the local property [[CallListener.Key]] set to its
  * id; Spark copies local properties into every job and stage it submits
  * for that thread (broadcast and subquery threads included), so events
  * carry their call even while four clients share one session. Events
  * arrive on the listener-bus thread; readers call `BusDrain` first and
  * read under the same lock. */
final class CallListener extends SparkListener {
  import CallListener._

  val jobs = mutable.LinkedHashMap[Int, Job]()
  val stages = mutable.LinkedHashMap[Int, Stage]()
  val tasks = mutable.HashMap[Int, TaskSums]()

  private def callOf(p: java.util.Properties): Option[Int] =
    Option(p).flatMap(q => Option(q.getProperty(Key))).map(_.toInt)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    callOf(e.properties).foreach(c => jobs(e.jobId) = Job(c, e.time))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    callOf(e.properties).foreach { c =>
      val info = e.stageInfo
      stages(info.stageId) = Stage(c, info.submissionTime.getOrElse(System.currentTimeMillis()))
    }
  }

  override def onTaskStart(e: SparkListenerTaskStart): Unit = synchronized {
    stages.get(e.stageId).foreach { s =>
      if (s.firstLaunch < 0 || e.taskInfo.launchTime < s.firstLaunch) s.firstLaunch = e.taskInfo.launchTime
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (s <- stages.get(e.stageId); m <- Option(e.taskMetrics)) {
      val t = tasks.getOrElseUpdate(s.call, new TaskSums)
      val info = e.taskInfo
      val gettingResult = if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L
      t.tasks += 1
      t.runMs += m.executorRunTime
      t.cpuNs += m.executorCpuTime
      t.gcMs += m.jvmGCTime
      t.deserMs += m.executorDeserializeTime
      t.delayMs += math.max(0L, info.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - gettingResult)
      t.scanBytes += m.inputMetrics.bytesRead
      t.scanRows += m.inputMetrics.recordsRead
      if (m.inputMetrics.bytesRead > 0) t.scanTasks += 1
      t.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      t.shuffleWriteNs += m.shuffleWriteMetrics.writeTime
      t.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      t.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      t.spillBytes += m.diskBytesSpilled
      t.sinkBytes += m.outputMetrics.bytesWritten
    }
  }
}

object CallListener {
  val Key = "perfbench.call"

  final case class Job(call: Int, start: Long) { var end: Long = -1L }
  final case class Stage(call: Int, submitted: Long) { var firstLaunch: Long = -1L }

  /** Per-call sums of task metrics, in Spark's own units. */
  final class TaskSums {
    var tasks, runMs, cpuNs, gcMs, deserMs, delayMs = 0L
    var scanBytes, scanRows, scanTasks = 0L
    var shuffleWriteBytes, shuffleWriteNs, shuffleReadBytes, fetchWaitMs = 0L
    var spillBytes, sinkBytes = 0L

    def fields: Seq[(String, Long)] = Seq(
      "tasks" -> tasks, "run_ms" -> runMs, "cpu_ns" -> cpuNs, "gc_ms" -> gcMs,
      "deser_ms" -> deserMs, "delay_ms" -> delayMs, "scan_bytes" -> scanBytes,
      "scan_rows" -> scanRows, "scan_tasks" -> scanTasks,
      "shuffle_write_bytes" -> shuffleWriteBytes, "shuffle_write_ns" -> shuffleWriteNs,
      "shuffle_read_bytes" -> shuffleReadBytes, "fetch_wait_ms" -> fetchWaitMs,
      "spill_bytes" -> spillBytes, "sink_bytes" -> sinkBytes)
  }
}
