package graft
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted}

/** The stage listener Bench and Diag share. Running totals — jobs,
  * stages, tasks, shuffle bytes written and read, disk spill — are read
  * as snapshots around a sample (drain the listener bus first, see
  * [[Sessions.drainListeners]]) and diffed. The per-stage tables
  * (executor run time, spill) grow with every completed stage until
  * [[clearStages]]. */
final class StageLog extends SparkListener {
  val jobs, stages, tasks = new AtomicLong
  /** Jobs started under the job tag [[StageLog.BuildTag]]. */
  val buildJobs = new AtomicLong
  val shuffleWrite, shuffleRead, spilled = new AtomicLong
  val runTimes = new ConcurrentLinkedQueue[(Long, String)]
  val spills = new ConcurrentLinkedQueue[String]
  def counts: (Long, Long, Long) = (jobs.get, stages.get, tasks.get)
  def bytes: (Long, Long, Long) =
    (shuffleWrite.get, shuffleRead.get, spilled.get)
  def clearStages(): Unit = { runTimes.clear(); spills.clear() }
  override def onJobStart(j: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet()
    // job tags travel as one comma-joined job property
    if (Option(j.properties).exists(_.getProperty("spark.job.tags", "")
        .split(",").contains(StageLog.BuildTag)))
      buildJobs.incrementAndGet()
  }
  override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
    val si = sc.stageInfo
    stages.incrementAndGet()
    tasks.addAndGet(si.numTasks)
    val m = si.taskMetrics
    if (m != null) {
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      spilled.addAndGet(m.diskBytesSpilled)
      runTimes.add((m.executorRunTime,
        f"  stage ${si.stageId}%4d [${si.name.take(70)}] " +
        f"tasks=${si.numTasks} runTime=${m.executorRunTime / 1000.0}%.2f s " +
        f"cpuTime=${m.executorCpuTime / 1e9}%.2f s " +
        f"input=${m.inputMetrics.bytesRead / 1048576.0}%.1f MB"))
      if (m.diskBytesSpilled > 0 || m.memoryBytesSpilled > 0)
        spills.add(
          f"  stage ${si.stageId}%4d [${si.name.take(60)}] " +
          f"tasks=${si.numTasks} " +
          f"spillDisk=${m.diskBytesSpilled / 1048576.0}%.1f MB " +
          f"spillMem=${m.memoryBytesSpilled / 1048576.0}%.1f MB " +
          f"shufWrite=${m.shuffleWriteMetrics.bytesWritten / 1048576.0}%.1f MB")
    }
  }
}

object StageLog {
  /** The job tag Diag sets around a key's builder call. */
  val BuildTag = "graft-build"
}
