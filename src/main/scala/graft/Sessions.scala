package graft
import org.apache.spark.sql.SparkSession

/** The one session factory plus inter-key hygiene. Bench, Verify, Diag
  * and the test suites all build their session through [[create]], so
  * the load-bearing confs (and their rationale) live once, in [[confs]];
  * the DATA-dependent sizing is factored out so specs can pin it.
  */
object Sessions {
  /** AQE advisory reducer size (see [[confs]]). */
  private val AdvisoryMb = 16

  /** Every conf a graft session runs with, for `cpus` local cores on the
    * data under `sfDir`. */
  def confs(sfDir: String, cpus: Int): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> cpus.toString,
    // HotSpot never JIT-compiles methods over 8000 bytecode bytes
    // (DontCompileHugeMethods), while Spark's default fallback only
    // trips at 65535 — stages whose generated whole-stage method lands
    // in between run as INTERPRETED BYTECODE: vec_ann_ivfpq's fused
    // candidate-scoring stage cost 30 s at 100x grown vs 2.8 s with
    // the fallback aligned to the JIT's real limit (bisected). 8000
    // makes Spark fall back to per-operator execution
    // exactly where the JIT would refuse anyway — strictly
    // faster-or-neutral, results unchanged (execution strategy only).
    "spark.sql.codegen.hugeMethodLimit" -> "8000",
    // Spark's generated-code cache keeps 100 classes by default, far
    // fewer than a registry pass generates: Bench's passes over the
    // first 60 keys at sf0.01 (local[4]) recompiled ~865 classes each
    // with Janino (and then the JIT). At 1000 the same passes compile
    // 6-14 — the cache misses only in the warm-up. Execution strategy
    // only — results unchanged.
    "spark.sql.codegen.cache.maxEntries" -> "1000",
    // Reduce-side parallelism must scale with DATA, not stay pinned at
    // the core count: with AQE on, every shuffle starts at
    // initialPartitionNum partitions and coalesces down to the advisory
    // size from map output stats, so fixture-SF runs keep the same
    // effective task counts as shuffle.partitions=cpus while a 10×+
    // sweep gets enough reducers that per-task sort/agg memory stays
    // bounded (the 10× sweep's text_ngram_jaccard 133 MB sort spill
    // disappears). The ceiling is DERIVED from the input parquet
    // footprint / advisory (floor 8×cpus keeps every fixture-SF plan
    // identical; cap 4096): a fixed 8×cpus would re-bind per-reducer
    // bytes to data above ~1000× — see [[initialPartitions]].
    "spark.sql.adaptive.coalescePartitions.initialPartitionNum" ->
      initialPartitions(sfDir, cpus, AdvisoryMb.toLong << 20).toString,
    // AQE coalesces to this much COMPRESSED shuffle per reducer, but
    // the reduce-side SORT holds 4-10x that in unsafe-row form
    // (compressible wide rows like events props inflate most): at the
    // default 64 MB the 300x grown probe coalesced the SMJ/as-of
    // exchanges to 37 reducers whose in-memory sort footprint
    // (~330-440 MB/task) exceeded the CONTENDED per-task share of
    // unified memory — 19.2 GB pool / 32 active tasks fair-floors at
    // ~300 MB — and join_sort_merge/join_asof paid the first sort
    // spills (1.5 GB + 5.5 GB disk; results stayed exact —
    // out-of-core sort degrades, never corrupts). 16 MB keeps the
    // worst measured inflation under the contention floor through
    // >=300x (re-measured: both keys spill-free, join_asof 26->17 s),
    // and models a real cluster's per-slot memory better than the
    // default sized for beefier executors. Fixture-SF plans are
    // unchanged (their shuffles coalesce to 1-2 partitions either
    // way). Past the initialPartitionNum cap (4096) this no longer
    // binds — raise both together on a real cluster.
    "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> s"${AdvisoryMb}m",
    // Storage-pool floor 0.25: the probe bench runs 14 keys in one
    // session; earlier keys' not-yet-GC'd broadcasts sit in the storage
    // pool, and the default storageFraction=0.5 protects up to half of
    // unified memory from execution eviction — join_asof's 300x sort
    // spilled in-suite (1.1 GB) while running spill-free solo. 0.25
    // caps the unevictable litter; broadcasts evict to disk harmlessly.
    "spark.memory.storageFraction" -> "0.25",
    // events.ts physical-type handling (µs timestamp vs legacy INT64
    // nanos) lives in Tables.events, which branches on the resolved
    // schema — no session-wide legacy conf needed here.
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false")

  /** Build (or join — `getOrCreate` keeps an already-running session)
    * the session with [[confs]], at WARN with the benign warnings
    * quieted. Native extensions are installed per build by
    * [[Registry.queries]] (and by [[GraftSql.register]]), not here. */
  def create(sfDir: String, cpus: Int): SparkSession = {
    val spark = confs(sfDir, cpus)
      .foldLeft(SparkSession.builder()) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    quietBenignWarnings()
    spark
  }

  /** Drain the listener bus so every event of the work before the call
    * has been delivered — counters sampled after it never miss a late
    * stage or bleed one query's bytes into the next. LiveListenerBus
    * #waitUntilEmpty is private[spark] — reached reflectively; if the
    * internal API moves, the fixed-sleep fallback makes attribution
    * approximate. */
  def drainListeners(spark: SparkSession): Unit =
    try {
      val sc = spark.sparkContext
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    } catch {
      // NonFatal only: an OOM or interrupt must surface, not degrade to
      // a silent sleep
      case scala.util.control.NonFatal(_) => Thread.sleep(150)
    }

  /** Data-driven AQE start parallelism (r16, VERDICT r15 task 3).
    *
    * AQE coalesces every shuffle DOWN from
    * `coalescePartitions.initialPartitionNum` to the advisory size, so
    * that conf is the reduce-side parallelism CEILING. The previous
    * fixed 8×cpus ceiling binds before the 16 MB advisory does once a
    * shuffle carries more than 8×cpus×16 MB ≈ 4 GB (~1000× fixture
    * scale): past that point per-reducer bytes grow with data again and
    * the 300×-class sort-spill defect returns one decade later. Derive
    * the ceiling from the INPUT footprint instead — parquet bytes on
    * disk divided by the advisory — so the conf needs no manual retune
    * per SF:
    *
    *  - floor 8×cpus: fixture SFs (footprint ≪ 8×cpus×advisory) keep
    *    exactly the r15 plans and task counts;
    *  - ceiling 4096: a runaway footprint must not schedule 100k no-op
    *    reducers at local[32] (task dispatch is ~0.15 ms each; AQE
    *    coalesces real bytes but pays planning per initial partition).
    *    On a real cluster raise the cap with the executor count.
    *
    * Parquet bytes UNDERSTATE shuffle bytes (columnar+dictionary vs lz4
    * rows, measured 2–6× on the grown fixtures), but the advisory
    * over-splits in the same direction (AQE merges small reducers for
    * free; it can never split one giant one without the headroom), so
    * the footprint is the right cheap proxy for the ceiling.
    */
  def initialPartitions(sfDir: String, cpus: Int, advisoryBytes: Long): Int = {
    require(advisoryBytes > 0, s"advisoryBytes must be > 0: $advisoryBytes")
    val byData = parquetFootprint(new java.io.File(sfDir)) / advisoryBytes + 1
    math.min(4096L, math.max(8L * cpus, byData)).toInt
  }

  /** Recursive on-disk bytes of `*.parquet` files under `dir` (Spark
    * writes directories of part-…….parquet files; both layouts match).
    * Unreadable/absent paths count 0 — sizing falls back to the floor,
    * never throws (the read itself will surface a real missing-dir). */
  private[graft] def parquetFootprint(f: java.io.File): Long =
    if (f.isDirectory) {
      val kids = f.listFiles()
      if (kids == null) 0L else kids.map(parquetFootprint).sum
    } else if (f.getName.endsWith(".parquet")) f.length
    else 0L

  /** Silence two benign-but-flooding executor warnings: every audited
    * unpartitioned window in the registry sits on a domain-bounded
    * post-aggregate (PlanSpec's single-partition sweep is the
    * structural guarantee), yet WindowExec warns per plan —
    * hundreds of lines per Verify/test run that bury real warnings; the
    * MapPartitionsRDD "locally checkpointed … cannot be recomputed after
    * unpersisting" warning is likewise by-design: [[releaseKeyState]]
    * unpersists the finished localCheckpoints of pipeline_pretokenize,
    * the dedup supersteps and the count-min word counts, and each key
    * rebuilds its own blocks. Log level only — no behavior change.
    * Called by [[create]] after setLogLevel. */
  def quietBenignWarnings(): Unit =
    try {
      org.apache.logging.log4j.core.config.Configurator.setLevel(
        "org.apache.spark.sql.execution.window.WindowExec",
        org.apache.logging.log4j.Level.ERROR)
      org.apache.logging.log4j.core.config.Configurator.setLevel(
        "org.apache.spark.rdd.MapPartitionsRDD",
        org.apache.logging.log4j.Level.ERROR)
    } catch { case scala.util.control.NonFatal(_) => () }


  /** Inter-key executor-state hygiene (r16, VERDICT r15 task 2).
    *
    * A 187-key suite leaves two kinds of litter in the block manager
    * between keys, and both were measured taxing LATER keys at 100×
    * grown (vec_ann_ivfpq: 9.5 s suite-context vs 1.7 s isolated —
    * every new broadcast put had to disk-evict dead blocks first):
    *
    *  - finished localCheckpoints (pipeline_pretokenize's curated split
    *    and word counts, the dedup superstep cuts, the count-min word
    *    counts): each key rebuilds its own on the next
    *    invocation, so after the key's action returns they are dead
    *    weight — unpersist explicitly (non-blocking; removal overlaps
    *    the next key's planning).
    *  - finished broadcasts: destroyed only by ContextCleaner once the
    *    driver-side references are GC'd, and a 32 GB driver heap under
    *    no allocation pressure may not GC for many keys. Force the GC
    *    so the cleaner's reference queue drains NOW — but only when the
    *    heap is actually littered (> half of max used while idle
    *    between keys): an unconditional System.gc() per sample is a
    *    full STW pause ×561 samples, and at fixture SF the litter never
    *    accumulates enough to matter (anchor timings stay untouched).
    *
    * Runs OUTSIDE every timed region (Bench calls it before each
    * sample's t0, Diag before each run; Verify between key writes).
    */
  def releaseKeyState(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
    val rt = Runtime.getRuntime
    if (rt.totalMemory - rt.freeMemory > rt.maxMemory / 2) System.gc()
  }
}
