package graft
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The stage listener Bench and Diag share, and the one timed sample
  * both take through it ([[sample]]). Running totals — jobs, stages,
  * tasks, shuffle bytes written and read, disk spill — are read as
  * snapshots around a sample (drain the listener bus first, see
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

  /** One timed sample of the key built by `fn` at `sfDir`; this log must
    * be registered on `spark`. Outside the timed region it drops the
    * previous key's block-manager litter ([[Sessions.releaseKeyState]]:
    * at 100× grown, dead broadcasts made every new broadcast put
    * disk-evict first) and drains the listener bus. The timed region is
    * the builder call (under [[StageLog.BuildTag]], so its eager jobs
    * count as build jobs) and then `toRdd` + `count` of THIS physical
    * plan — `df.count()` would let Catalyst prune the operator under
    * test — with each phase split out (see [[StageLog.Sample]]). A throw
    * ends the sample as failed, carrying its message. */
  def sample(spark: SparkSession, fn: (SparkSession, String) => DataFrame,
      sfDir: String): StageLog.Sample = {
    Sessions.releaseKeyState(spark)
    Sessions.drainListeners(spark)
    def counters = Seq(jobs, buildJobs, stages, tasks, shuffleWrite,
      shuffleRead, spilled).map(_.get)
    val before = counters
    val train0 = operators.PipelineOps.TrainClock.nanos
    val sc = spark.sparkContext
    sc.addJobTag(StageLog.BuildTag)
    val marks = scala.collection.mutable.ArrayBuffer(System.nanoTime())
    def mark(): Unit = marks += System.nanoTime()
    val failure = try {
      val qe = try fn(spark, sfDir).queryExecution
        finally sc.removeJobTag(StageLog.BuildTag)
      mark()
      qe.assertAnalyzed(); mark()
      qe.optimizedPlan; mark()
      qe.executedPlan; mark()
      val rdd = qe.toRdd; mark()
      rdd.count(); mark()
      None
    } catch { case e: Throwable => Some(e.toString) }
    val train = operators.PipelineOps.TrainClock.nanos - train0
    Sessions.drainListeners(spark)
    // phases the sample never reached read 0
    val Seq(build, analyze, optimize, plan, toRdd, count) = (0 until 6).map(i =>
      marks.lift(i + 1).fold(0L)(_ - marks(i)))
    val Seq(nJobs, nBuild, nStages, nTasks, write, read, spill) =
      counters.zip(before).map { case (a, b) => a - b }
    StageLog.Sample(build, analyze, optimize, plan, toRdd, count, nJobs,
      nBuild, nStages, nTasks, write, read, spill, train, failure)
  }
}

object StageLog {
  /** The job tag [[StageLog#sample]] sets around a key's builder call. */
  val BuildTag = "graft-build"

  /** One sample's wall nanoseconds per phase — the splits that can be
    * attributed under AQE:
    *   build    — the builder call (eager checkpoint/training jobs land
    *              here; `buildJobs` counts them)
    *   analyze  — qe.analyzed
    *   optimize — qe.optimizedPlan
    *   plan     — qe.executedPlan (physical planning, pre-AQE)
    *   toRdd    — AQE stage materialization + codegen of the final stage
    *   count    — the terminal stage
    * — the Spark jobs, stages, tasks, shuffle bytes and disk spill it
    * launched, and the training nanoseconds it paid (TrainClock). `failure`
    * is the throw's message; a failed sample's numbers cover a partial
    * run. */
  final case class Sample(build: Long, analyze: Long, optimize: Long,
      plan: Long, toRdd: Long, count: Long, jobs: Long, buildJobs: Long,
      stages: Long, tasks: Long, shuffleWrite: Long, shuffleRead: Long,
      spill: Long, train: Long, failure: Option[String]) {
    def total: Long = build + analyze + optimize + plan + toRdd + count
  }
}
