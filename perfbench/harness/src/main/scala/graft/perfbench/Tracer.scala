package graft.perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans around the benchmark's calls into each layer, and SparkListener
  * counts attributed to them. Spans stay in memory until the run ends.
  *
  * A span is (id, parent, name, key, pass, start, end). The client thread
  * tags the jobs it submits with the innermost open span's id through a
  * SparkContext local property; a job without the tag (submitted from a
  * thread that did not inherit it) goes to the innermost span whose
  * interval contains its start time. Stages and tasks follow their job.
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val sc = spark.sparkContext
  val spans = ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil
  private var lastPlan: Option[SparkPlan] = None
  private val exchangesByQuery = scala.collection.mutable.Map.empty[Int, Int]

  private val jobs = new ConcurrentLinkedQueue[JobRec]
  private val stages = new ConcurrentHashMap[Int, StageRec]
  private val taskRuns = new ConcurrentHashMap[Int, ConcurrentLinkedQueue[Long]]
  private val writePlans = new ConcurrentLinkedQueue[SparkPlan]

  private val listener = new SparkListener {
    override def onJobStart(j: SparkListenerJobStart): Unit = {
      val tag = Option(j.properties).flatMap(p => Option(p.getProperty(Prop)))
      jobs.add(JobRec(j.time, tag.map(_.toInt).getOrElse(-1), j.stageIds))
    }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      val i = s.stageInfo
      val m = i.taskMetrics
      if (m != null && i.failureReason.isEmpty)
        stages.put(i.stageId, StageRec(i.numTasks,
          m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
          m.shuffleWriteMetrics.bytesWritten,
          m.shuffleReadMetrics.totalBytesRead, m.diskBytesSpilled,
          m.executorRunTime, m.executorCpuTime))
    }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
      if (t.taskMetrics != null)
        taskRuns.computeIfAbsent(t.stageId, _ => new ConcurrentLinkedQueue[Long])
          .add(t.taskMetrics.executorRunTime)
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      writePlans.add(qe.executedPlan)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  def start(): Unit = {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  def stop(): Unit = {
    drain()
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  /** Block until the listener bus has delivered every posted event.
    * `LiveListenerBus.waitUntilEmpty` is private to Spark, hence the
    * reflection (as in graft.Bench). */
  def drain(): Unit =
    try {
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    } catch { case scala.util.control.NonFatal(_) => Thread.sleep(150) }

  def span[T](name: String, key: String, pass: Int)(f: => T): T = {
    val parent = open.headOption
    val sp = Span(spans.size, parent.map(_.id).getOrElse(-1),
      parent.map(_.depth + 1).getOrElse(0), name, key, pass,
      System.nanoTime(), System.currentTimeMillis())
    spans += sp
    open = sp :: open
    sc.setLocalProperty(Prop, sp.id.toString)
    try f finally {
      sp.ns1 = System.nanoTime()
      sp.ms1 = System.currentTimeMillis()
      open = open.tail
      sc.setLocalProperty(Prop, open.headOption.map(_.id.toString).orNull)
    }
  }

  /** The executed plan of a counted sample, read after its action. */
  def plan(p: SparkPlan): Unit = lastPlan = Some(p)

  /** After a traced sample: deliver its events and count the exchanges
    * in its final adaptive plan (a sink sample's plan is the write
    * command's, delivered through the QueryExecutionListener). */
  def finishSample(): Unit = {
    drain()
    val writes = Iterator.continually(writePlans.poll()).takeWhile(_ != null)
      .toSeq
    val query = spans.reverseIterator.find(s => s.name == "query")
    query.foreach { q =>
      exchangesByQuery(q.id) =
        (lastPlan.toSeq ++ writes.lastOption).map(PlanShape.exchanges).sum
    }
    lastPlan = None
  }

  /** Per traced pass: self seconds per span name, and the listener counts
    * of the jobs attributed to that pass's spans. */
  def rollup(sink: Boolean): Map[Int, Map[String, Double]] = {
    val children = spans.groupBy(_.parent)
    val allJobs = jobs.asScala.toSeq
    def owner(j: JobRec): Option[Span] =
      if (j.span >= 0 && j.span < spans.size) Some(spans(j.span))
      else spans.filter(s => s.ms0 <= j.timeMs && j.timeMs <= s.ms1)
        .sortBy(-_.depth).headOption
    val jobsBySpan = allJobs.flatMap(j => owner(j).map(_ -> j))
      .groupBy(_._1.id).map { case (k, v) => k -> v.map(_._2) }
    spans.groupBy(_.pass).map { case (pass, ps) =>
      val self = scala.collection.mutable.Map.empty[String, Double]
        .withDefaultValue(0.0)
      ps.foreach { s =>
        val kids = children.getOrElse(s.id, Nil).map(_.sec).sum
        self(s.name) += s.sec - kids
      }
      // A sink sample's `final` span is one write call; the part before
      // its last job (the write job) materializes the AQE query stages.
      if (sink) ps.filter(_.name == "final").foreach { f =>
        val starts = jobsBySpan.getOrElse(f.id, Nil).map(_.timeMs)
        if (starts.nonEmpty) {
          val mat = math.min(f.sec, math.max(0.0, (starts.max - f.ms0) / 1000.0))
          self("materialize") += mat
          self("final") -= mat
        }
      }
      val passJobs = ps.flatMap(s => jobsBySpan.getOrElse(s.id, Nil))
      val buildJobs = ps.filter(_.name == "build")
        .flatMap(s => jobsBySpan.getOrElse(s.id, Nil))
      val stageIds = passJobs.flatMap(_.stageIds).distinct
      val st = stageIds.flatMap(id => Option(stages.get(id)).map(id -> _))
      val skew = st.flatMap { case (id, _) =>
        Option(taskRuns.get(id)).map(_.asScala.toSeq.sorted).filter(_.size >= 2)
          .flatMap { runs =>
            val med = runs(runs.size / 2)
            if (med > 0) Some(runs.last.toDouble / med) else None
          }
      }
      val queries = ps.filter(_.name == "query")
      val counts = Map(
        "build.jobs" -> buildJobs.size.toDouble,
        "jobs" -> passJobs.size.toDouble,
        "stages" -> st.size.toDouble,
        "tasks" -> st.map(_._2.tasks.toDouble).sum,
        "scan.input_mb" -> st.map(_._2.inputBytes).sum / 1048576.0,
        "scan.input_rows" -> st.map(_._2.inputRecords.toDouble).sum,
        "shuffle.write_mb" -> st.map(_._2.shuffleWrite).sum / 1048576.0,
        "shuffle.read_mb" -> st.map(_._2.shuffleRead).sum / 1048576.0,
        "spill.mb" -> st.map(_._2.spill).sum / 1048576.0,
        "executor.run_s" -> st.map(_._2.runMs).sum / 1000.0,
        "executor.cpu_s" -> st.map(_._2.cpuNs).sum / 1e9,
        "task.skew_max" -> (if (skew.isEmpty) 1.0 else skew.max),
        "exchanges" -> queries.map(q => exchangesByQuery.getOrElse(q.id, 0))
          .sum.toDouble)
      val selfTimes = Seq("build", "optimize", "physical_plan", "materialize",
        "final", "release").map(n => s"$n.self_s" -> self(n))
      pass -> (counts ++ selfTimes)
    }.toMap
  }
}

object Tracer {
  val Prop = "graft.perfbench.span"

  final case class Span(id: Int, parent: Int, depth: Int, name: String,
      key: String, pass: Int, ns0: Long, ms0: Long) {
    var ns1: Long = ns0
    var ms1: Long = ms0
    def sec: Double = (ns1 - ns0) / 1e9
  }
  final case class JobRec(timeMs: Long, span: Int, stageIds: Seq[Int])
  final case class StageRec(tasks: Int, inputBytes: Long, inputRecords: Long,
      shuffleWrite: Long, shuffleRead: Long, spill: Long, runMs: Long,
      cpuNs: Long)
}

/** Exchanges in a final adaptive plan, looking through query stages and
  * subqueries. */
object PlanShape extends AdaptiveSparkPlanHelper {
  def exchanges(p: SparkPlan): Int =
    collectWithSubqueries(p) { case e: Exchange => e }.size
}
