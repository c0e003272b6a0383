package graft.perfbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.{ObjectMapper, PropertyNamingStrategies}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.sql.SparkSession

/** One benchmark invocation of one workload, driven by `perfbench/run.py`.
  *
  * A single client thread issues the workload's queries back to back
  * (closed loop) on a `local[cores]` session configured exactly like
  * `graft.Bench`'s. Phases, in order:
  *
  *  1. set-up: session, `GraftFunctions.register`, and `--warm-passes`
  *     untimed passes over the keys at the measured data directory: the
  *     first pays codegen and fills the train-once memos and materialize
  *     caches, the rest let the JIT warm further;
  *  2. `--passes` timed passes, each in a seeded key order, with
  *     `Sessions.releaseKeyState` before every sample;
  *  3. the three dispatch-floor probes;
  *  4. the output check: `graft.Verify` in-process on the same inputs
  *     (it stops the session, so it runs last).
  *
  * Every sample is timed from the `Q.build` call to the end of its final
  * action. Stalled samples are never re-run. With `--trace 1`, passes
  * run untraced, traced, traced, untraced (repeating), so a warming trend
  * cancels out of the traced-minus-untraced overhead; a traced pass wraps
  * each call into a layer in a [[Tracer]] span and attributes
  * SparkListener counts to those spans. Nothing inside the engine is
  * instrumented.
  *
  * The result (samples, passes, set-up, metadata and the per-layer
  * roll-up) is written as JSON to `<work>/result.json`.
  */
object Harness {
  final case class Conf(data: String, keys: Seq[String], sink: Boolean,
      warmPasses: Int, passes: Int, trace: Boolean, seed: Long,
      cores: Int, work: String)

  final case class Sample(key: String, pass: Int, traced: Boolean,
      sec: Double, rows: Long, error: Option[String], trainSec: Double,
      sinkBytes: Long, sinkFiles: Int)

  final case class Pass(index: Int, traced: Boolean, sec: Double,
      gcSec: Double, jitSec: Double, codegenCompiles: Long,
      materializeWrites: Int)

  def parse(args: Array[String]): Conf = {
    val m = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => sys.error(s"bad argument: ${other.mkString(" ")}")
    }.toMap
    def get(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Conf(get("data"), get("keys").split(",").toSeq, get("sink") == "parquet",
      get("warm-passes").toInt, get("passes").toInt, get("trace") == "1",
      get("seed").toLong, get("cores").toInt, get("work"))
  }

  def session(c: Conf): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${c.cores}]")
      // The effective confs of graft.Bench (see the rationale there).
      .config("spark.sql.shuffle.partitions", c.cores.toString)
      .config("spark.sql.codegen.hugeMethodLimit", "8000")
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        graft.Sessions.initialPartitions(c.data, c.cores, 16L << 20).toString)
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16m")
      .config("spark.memory.storageFraction", "0.25")
      .config("spark.sql.session.timeZone", "UTC")
      // Not a graft.Bench conf. At Spark's default of 100 entries these
      // workloads overflow the generated-code cache: every pass recompiled
      // 11-76 classes with Janino and then the JIT, a count set by the key
      // order and by the plans AQE picks for the seed's inputs, and pass
      // times spread 0.25-0.35 across seeds. Large enough for every class
      // the workloads generate, the cache misses only in the warm-up.
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      .config("spark.ui.enabled", "false")
      // Keep every file the run writes inside the work directory.
      .config("spark.local.dir", s"${c.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${c.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.Sessions.quietBenignWarnings()
    graft.plans.GraftFunctions.register(spark)
    spark
  }

  /** Heap occupancy after the most recent collection of each heap pool. */
  def postGcHeapMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP)
      .map(p => Option(p.getCollectionUsage).map(_.getUsed).getOrElse(0L))
      .sum / 1048576.0

  /** The largest heap occupancy left after any collection while
    * registered, from the collectors' notifications: no collection is
    * forced, so the reading sees what the queries themselves hold. */
  final class PostGcPeak extends NotificationListener {
    private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
    private val emitters = ManagementFactory.getGarbageCollectorMXBeans
      .asScala.collect { case e: NotificationEmitter => e }
    @volatile private var peak = 0L

    def handleNotification(n: Notification, handback: AnyRef): Unit =
      if (n.getType ==
          GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val after = GarbageCollectionNotificationInfo
          .from(n.getUserData.asInstanceOf[CompositeData])
          .getGcInfo.getMemoryUsageAfterGc.asScala
        val used = after.collect {
          case (pool, u) if heapPools(pool) => u.getUsed
        }.sum
        synchronized { peak = math.max(peak, used) }
      }

    def start(): Unit = emitters.foreach(_.addNotificationListener(this, null, null))
    def stop(): Unit = emitters.foreach(_.removeNotificationListener(this))
    def mb: Double = peak / 1048576.0
  }

  /** The heap the engine retains between queries. Collect until the
    * post-GC reading settles, because each collection lets ContextCleaner
    * free more dead broadcasts and blocks. */
  def settledHeapMb(): Double = {
    var prev = Double.MaxValue
    var cur = 0.0
    var i = 0
    while (i < 6 && math.abs(cur - prev) > 1.0) {
      prev = cur
      System.gc()
      Thread.sleep(100)
      cur = postGcHeapMb()
      i += 1
    }
    cur
  }

  /** Seconds the JIT compilers have spent so far, summed over threads. */
  def jitSec(): Double =
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1000.0

  /** Whole-stage and expression classes Janino has compiled so far, that
    * is, misses of Spark's generated-code cache. */
  def codegenCompiles(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
      .getCount

  def gcSec(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum / 1000.0

  def materializeDirs(): Int = {
    val kids = new File(System.getProperty("java.io.tmpdir")).listFiles()
    if (kids == null) 0 else kids.count(_.getName.startsWith("graft_rt_"))
  }

  /** (rows, bytes, files) of the parquet parts a sink sample wrote, from
    * the footers alone (no Spark job). */
  def parquetStats(spark: SparkSession, dir: String): (Long, Long, Int) = {
    val parts = Option(new File(dir).listFiles()).getOrElse(Array.empty[File])
      .filter(_.getName.endsWith(".parquet"))
    val hconf = spark.sparkContext.hadoopConfiguration
    val rows = parts.map { f =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.getPath), hconf))
      try r.getRecordCount finally r.close()
    }.sum
    (rows, parts.map(_.length).sum, parts.length)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Any failure exits non-zero at once: Spark's non-daemon threads would
    * otherwise keep the JVM alive after `main` throws. */
  def main(args: Array[String]): Unit = {
    try run(parse(args))
    catch {
      case e: Throwable =>
        e.printStackTrace()
        System.exit(1)
    }
    System.exit(0)
  }

  def run(c: Conf): Unit = {
    val procStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val queries = graft.SparkEntry.queries
    val unknown = c.keys.filterNot(queries.contains)
    require(unknown.isEmpty, s"unknown keys: ${unknown.mkString(", ")}")

    val s0 = System.nanoTime()
    val spark = session(c)
    val sessionSec = (System.nanoTime() - s0) / 1e9

    val sinkRoot = s"${c.work}/sink"
    val tracer = new Tracer(spark)

    /** One sample: build, then the final action (a count of the executed
      * physical plan, or the parquet sink). Traced samples split the
      * same calls into spans; both paths do the same work except that a
      * traced sink sample also plans the query it then writes. */
    def runSample(key: String, pass: Int, traced: Boolean): Sample = {
      val fn = queries(key)
      val path = s"$sinkRoot/$key"
      val train0 = graft.operators.PipelineOps.TrainClock.nanos
      val t0 = System.nanoTime()
      val result = try {
        val rows =
          if (!traced) {
            val df = fn(spark, c.data)
            if (c.sink) { df.write.mode("overwrite").parquet(path); -1L }
            else df.queryExecution.toRdd.count()
          } else tracer.span("query", key, pass) {
            def sp[T](name: String)(f: => T): T = tracer.span(name, key, pass)(f)
            val df = sp("build")(fn(spark, c.data))
            val qe = df.queryExecution
            sp("optimize")(qe.optimizedPlan)
            sp("physical_plan")(qe.executedPlan)
            if (c.sink) {
              sp("final")(df.write.mode("overwrite").parquet(path))
              -1L
            } else {
              val rdd = sp("materialize")(qe.toRdd)
              val n = sp("final")(rdd.count())
              tracer.plan(qe.executedPlan)
              n
            }
          }
        Right(rows)
      } catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] $key failed: ${e.getMessage}")
          Left(String.valueOf(e.getMessage).take(300))
      }
      val sec = (System.nanoTime() - t0) / 1e9
      val trainSec =
        (graft.operators.PipelineOps.TrainClock.nanos - train0) / 1e9
      result match {
        case Right(_) if c.sink =>
          val (rows, bytes, files) = parquetStats(spark, path)
          Sample(key, pass, traced, sec, rows, None, trainSec, bytes, files)
        case Right(n) => Sample(key, pass, traced, sec, n, None, trainSec, 0, 0)
        case Left(err) =>
          Sample(key, pass, traced, sec, -1, Some(err), trainSec, 0, 0)
      }
    }

    // Set-up: untimed passes at the measured data directory.
    val trainWarm0 = graft.operators.PipelineOps.TrainClock.nanos
    val trainPhases0 = graft.operators.PipelineOps.TrainClock.phaseNanos
    val w0 = System.nanoTime()
    val warm = ArrayBuffer.empty[Sample]
    val warmPassSecs = (1 to c.warmPasses).map { w =>
      val t0 = System.nanoTime()
      c.keys.sorted.foreach { k =>
        graft.Sessions.releaseKeyState(spark)
        warm += runSample(k, -w, traced = false)
      }
      (System.nanoTime() - t0) / 1e9
    }
    val warmSec = (System.nanoTime() - w0) / 1e9
    val trainWarmSec =
      (graft.operators.PipelineOps.TrainClock.nanos - trainWarm0) / 1e9
    val trainWarmPhases = graft.operators.PipelineOps.TrainClock.phaseNanos
      .map { case (k, n) => k -> (n - trainPhases0.getOrElse(k, 0L)) / 1e9 }
      .filter(_._2 > 0)

    // Timed region.
    val samples = ArrayBuffer.empty[Sample]
    val passes = ArrayBuffer.empty[Pass]
    val peakHeap = new PostGcPeak
    peakHeap.start()
    val firstQueryMs = System.currentTimeMillis()
    val setupSec = (firstQueryMs - procStartMs) / 1000.0
    for (p <- 0 until c.passes) {
      val traced = c.trace && (p % 4 == 1 || p % 4 == 2)
      val order = new scala.util.Random(c.seed * 1000003L + p).shuffle(c.keys)
      val mat0 = materializeDirs()
      val gc0 = gcSec()
      val jit0 = jitSec()
      val cg0 = codegenCompiles()
      if (traced) tracer.start()
      val p0 = System.nanoTime()
      order.foreach { k =>
        if (traced) tracer.span("release", k, p)(graft.Sessions.releaseKeyState(spark))
        else graft.Sessions.releaseKeyState(spark)
        samples += runSample(k, p, traced)
        if (traced) tracer.finishSample()
      }
      val passSec = (System.nanoTime() - p0) / 1e9
      if (traced) tracer.stop()
      passes += Pass(p, traced, passSec, gcSec() - gc0, jitSec() - jit0,
        codegenCompiles() - cg0,
        materializeDirs() - mat0)
    }
    peakHeap.stop()
    // The settled heap is a per-layer figure, read only after the last
    // pass: forced collections between passes slowed the pass after them.
    graft.Sessions.releaseKeyState(spark)
    val settledMb = if (c.trace) Some(settledHeapMb()) else None

    // Dispatch-floor probes (256 empty tasks, 1-stage SQL, 2-stage SQL),
    // median of 3, each with a fresh plan.
    def median3(f: Int => Unit): Double = median((1 to 3).map { i =>
      val t0 = System.nanoTime(); f(i); (System.nanoTime() - t0) / 1e9
    })
    val probes = Seq(
      "probe_empty_tasks_s" -> median3(_ =>
        spark.sparkContext.parallelize(1 to 256, 256).count()),
      "probe_sql_1stage_s" -> median3(i =>
        spark.sql(s"SELECT count(*) FROM range(1000000) WHERE id % ${i + 1} = 0")
          .queryExecution.toRdd.count()),
      "probe_sql_2stage_s" -> median3(i =>
        spark.sql(s"SELECT id % ${i + 1} AS k, count(*) FROM range(1000000) " +
          "GROUP BY k").queryExecution.toRdd.count()))

    val confs = Seq(
      "spark.master", "spark.sql.shuffle.partitions",
      "spark.sql.codegen.hugeMethodLimit",
      "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.memory.storageFraction", "spark.sql.session.timeZone",
      "spark.sql.codegen.cache.maxEntries"
    ).map(k => k -> spark.conf.get(k)).toMap

    val json = new ObjectMapper().registerModule(DefaultScalaModule)
      .setPropertyNamingStrategy(PropertyNamingStrategies.SNAKE_CASE)
    json.writeValue(new File(s"${c.work}/result.json"), Map(
      "setup" -> Map(
        "setup_s" -> setupSec,
        "session_s" -> sessionSec,
        "codegen_warm_s" -> warmSec,
        "warm_pass_s" -> warmPassSecs,
        "train_warm_s" -> trainWarmSec,
        "train_warm_phases_s" -> trainWarmPhases,
        "warm_failures" -> warm.filter(_.error.nonEmpty).map(_.key)),
      "confs" -> confs,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "heap_peak_post_gc_mb" -> peakHeap.mb,
      "heap_settled_mb" -> settledMb,
      "probes" -> probes.toMap,
      "passes" -> passes,
      "samples" -> samples,
      "trace" -> (if (c.trace) Some(tracer.rollup(c.sink)) else None)))
    if (c.trace)
      json.writeValue(new File(s"${c.work}/spans.json"), tracer.spans.map(sp =>
        Map("id" -> sp.id, "parent" -> sp.parent, "name" -> sp.name,
          "key" -> sp.key, "pass" -> sp.pass, "seed" -> c.seed,
          "start_ms" -> sp.ms0, "sec" -> sp.sec)))

    // The output check on the same inputs; graft.Verify stops the session.
    graft.Verify.main(Array(c.data, s"${c.work}/verify", c.keys.mkString(",")))
  }
}
