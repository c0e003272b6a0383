package graft
import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{FormattedMode, SparkPlan,
  WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  QueryStageExec}
import org.apache.spark.sql.execution.aggregate.SortAggregateExec

/** Diagnostic main: where did a key's time go, and which plan ran?
  *
  *   sbt "runMain graft.Diag <keys|all> [sfDir] [runs] [planDir]"
  *
  * `keys` is comma-separated (run in that order in ONE session, so
  * bench-order interaction effects reproduce) or `all`; sfDir defaults
  * to the sf0.1 fixture, runs to 3. After Bench's warm-up, each key
  * gets:
  *
  *  - one execution whose plan report — the formatted initial plan, the
  *    AQE-final executed plan, every whole-stage codegen stage's max
  *    method bytecode size, the subtree of any stage over the JIT limit
  *    and every sort-based aggregate of the final plan with its keys and
  *    functions (an aggregate whose buffer is not fixed-width sorts its
  *    whole input) — is written to `<planDir>/<key>.txt`, or printed when
  *    no planDir is given;
  *  - `runs` samples, taken by [[StageLog#sample]] exactly as Bench
  *    takes them, each printed as one JSON line that splits the wall
  *    into the phases that can actually be attributed under AQE (see
  *    [[StageLog.Sample]]; Bench's `plan_sec` silently contains most of
  *    the execution, because toRdd materializes every intermediate query
  *    stage), plus the Spark jobs/stages/tasks launched inside the
  *    sample and the jobs of its builder call (`build_jobs`) — at
  *    fixture SF each job is mostly dispatch floor, so jobs×floor is the
  *    first-order model of a key's fixture-scale cost;
  *  - the top stages by executor run time and the stages that spilled,
  *    over the plan execution and the runs. Per-stage attribution says
  *    WHERE a query spilled — "agg state outgrew memory" (a plan bug) vs
  *    "a big exchange streamed through the shuffle writer" (expected
  *    out-of-core behavior) — and which stage is the key's wall.
  *
  * Never part of the graded surface.
  */
object Diag {
  /** HotSpot's DontCompileHugeMethods threshold (the hugeMethodLimit the
    * sessions align with — see Sessions.confs). */
  val JitLimit = 8000

  final case class StageSize(id: Int, node: String, bytes: Int, tree: String)

  /** Every node of a physical plan. collect() does not descend into
    * materialized QueryStageExec leaves (their subtree hangs off .plan,
    * not .children) — a naive walk sees zero codegen stages on any AQE
    * plan — so walk them explicitly. */
  private def allNodes(p: SparkPlan): Seq[SparkPlan] = {
    val kids = p match {
      case q: QueryStageExec => Seq(q.plan)
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case other => other.children
    }
    p +: kids.flatMap(allNodes)
  }

  /** Max method bytecode size of each whole-stage codegen stage, compiled
    * the way the executor would (the ivfpq lesson): a method over
    * [[JitLimit]] runs per-operator (or interpreted on stock confs) —
    * invisible in plan strings, 10x visible on the CPU. Pass an EXECUTED
    * plan: CollapseCodegenStages runs per query stage at materialization,
    * so the initial adaptive plan has no WholeStageCodegenExec nodes. */
  def methodSizes(p: SparkPlan): Seq[StageSize] =
    allNodes(p).collect { case w: WholeStageCodegenExec =>
      val (_, code) = w.doCodeGen()
      val (_, stats) = CodeGenerator.compile(code)
      StageSize(w.codegenStageId, w.child.nodeName, stats.maxMethodCodeSize,
        w.child.treeString)
    }

  /** The plan report of one execution of `df` (see the header). */
  private def planReport(key: String, sfDir: String, df: DataFrame): String = {
    val formatted = df.queryExecution.explainString(FormattedMode)
    // execute so the AQE-final plan (coalesced reads, runtime join
    // strategy) and its codegen stages exist
    df.queryExecution.toRdd.count()
    val fin = df.queryExecution.executedPlan
    val sizes = methodSizes(fin)
    val out = new StringBuilder(
      s"=== $key @ $sfDir (explain formatted, initial plan)\n" + formatted +
        s"\n=== $key AQE-final executed plan\n" + fin + "\n" +
        s"--- whole-stage max method bytecode sizes ($key, " +
        s"JIT limit $JitLimit):\n")
    sizes.foreach { s =>
      val mark =
        if (s.bytes > JitLimit) "  <-- OVER: runs per-operator/interpreted"
        else ""
      out ++= f"  stage *(${s.id}%d) ${s.node}%-28s ${s.bytes}%6d$mark\n"
    }
    // name the offending subtree so a bisection needn't guess which
    // projection outgrew the method
    sizes.filter(_.bytes > JitLimit).foreach { s =>
      out ++= s"--- OVER-limit stage *(${s.id}) subtree:\n" +
        s.tree.linesIterator.take(14).map("  " + _ + "\n").mkString
    }
    allNodes(fin).collect { case a: SortAggregateExec => a }.foreach { a =>
      out ++= s"--- SortAggregate: keys [${a.groupingExpressions
        .mkString(", ")}] functions [${a.aggregateExpressions
        .mkString(", ")}]\n"
    }
    out.result()
  }

  /** One sample of `key` as a JSON line (phases in [[StageLog.Sample]]);
    * a failed sample adds its message as `error`. */
  private def line(key: String, s: StageLog.Sample): String = Verify.toJson(
    ListMap("key" -> key) ++ Seq("build" -> s.build, "analyze" -> s.analyze,
      "optimize" -> s.optimize, "plan" -> s.plan, "toRdd" -> s.toRdd,
      "count" -> s.count, "total" -> s.total)
      .map { case (k, v) => k -> Bench.millis(v / 1e9) } ++
    Seq("jobs" -> s.jobs, "build_jobs" -> s.buildJobs, "stages" -> s.stages,
      "tasks" -> s.tasks) ++ s.failure.map("error" -> _))

  /** Diagnose `keys` on `spark` (see the header); prints everything and
    * returns the JSON sample lines. Leaves the session running. */
  def run(spark: SparkSession, keys: Seq[String], sfDir: String, runs: Int,
      planDir: Option[String]): Seq[String] = {
    val qs = keys.map(k => k -> SparkEntry.queries(k))
    Bench.warm(spark, qs, sfDir)
    planDir.foreach(d => new java.io.File(d).mkdirs())
    val log = new StageLog
    spark.sparkContext.addSparkListener(log)
    try qs.flatMap { case (k, fn) =>
      println(s"=== $k @ $sfDir")
      Sessions.drainListeners(spark)
      log.clearStages()
      val report = planReport(k, sfDir, fn(spark, sfDir))
      planDir match {
        case Some(d) =>
          val path = java.nio.file.Paths.get(d, s"$k.txt")
          java.nio.file.Files.writeString(path, report)
          println(s"[diag] wrote $path")
        case None => print(report)
      }
      val lines = (1 to runs).map { _ =>
        val l = line(k, log.sample(spark, fn, sfDir))
        println(l)
        l
      }
      Sessions.drainListeners(spark)
      if (!log.spills.isEmpty) {
        println(s"--- stages with spill ($k, warmup + $runs runs):")
        log.spills.forEach(println(_))
      }
      if (!log.runTimes.isEmpty) {
        println(s"--- top stages by executor run time ($k, warmup + $runs runs):")
        log.runTimes.asScala.toSeq.sortBy(-_._1).take(10)
          .foreach(t => println(t._2))
      }
      lines
    } finally spark.sparkContext.removeSparkListener(log)
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty,
      "usage: graft.Diag <keys|all> [sfDir] [runs] [planDir]")
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val runs = args.lift(2).fold(3)(_.toInt)
    val keys = Bench.selectKeys(SparkEntry.queries.keySet,
      Some(args(0)).filter(_ != "all"))
    val spark = Sessions.create(sfDir, Bench.cpus)
    try run(spark, keys, sfDir, runs, args.lift(3))
    finally spark.stop()
  }
}
