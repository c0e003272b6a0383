package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan audits (SURVEY §4): the optimizations the 100 TB design
  * depends on must actually appear in the plans, not be assumed. */
class PlanSpec extends AnyFunSuite {
  import TestSpark._

  private def planOf(key: String): String = {
    val df = Registry.queries(key)(spark, sf)
    df.queryExecution.executedPlan.toString()
  }

  /** Executed-plan string with AQE's "== Initial Plan ==" echo stripped:
    * after execution, AdaptiveSparkPlan.toString renders the final plan
    * AND the initial one, so naive substring COUNTS double-count every
    * node. Containment checks are unaffected; count-based assertions must
    * use this. */
  private def finalPlanOf(df: org.apache.spark.sql.DataFrame): String = {
    df.collect()
    val s = df.queryExecution.executedPlan.toString
    // the top-level marker: a subquery's own plan sections are indented
    val i = s.indexOf("\n+- == Initial Plan ==")
    if (i >= 0) s.substring(0, i) else s
  }

  /** Lines of plan text `p` naming a single-partition exchange whose input
    * is not a scalar partial aggregate. A scalar aggregate (a scalar
    * subquery's, say) sends one row per map partition into its exchange;
    * any other single-partition exchange is a one-task global shape. */
  private def unboundedSinglePartition(p: String): Seq[String] = {
    val ls = p.linesIterator.toIndexedSeq
    val scalarPartial = "Aggregate\\(keys?=\\[\\], functions=\\[partial_".r
    ls.indices.filter(i => ls(i).contains("SinglePartition") &&
        !ls.lift(i + 1).exists(scalarPartial.findFirstIn(_).isDefined))
      .map(ls(_))
  }

  /** File scans of `file` in `df`'s executed plan, subqueries included;
    * a reused exchange or subquery is not scanned again. */
  private def scansOf(df: org.apache.spark.sql.DataFrame, file: String): Int = {
    import org.apache.spark.sql.execution.{FileSourceScanExec,
      ReusedSubqueryExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
      QueryStageExec}
    def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case _: ReusedSubqueryExec => Nil
      case o => (o.children ++ o.subqueries).flatMap(nodes)
    })
    nodes(df.queryExecution.executedPlan).count {
      case f: FileSourceScanExec =>
        f.relation.location.rootPaths.exists(_.toString.contains(file))
      case _ => false
    }
  }

  test("scan_filter_pushdown pushes the shipdate predicate to parquet") {
    val p = planOf("scan_filter_pushdown")
    assert(p.contains("PushedFilters:")
      && p.contains("GreaterThanOrEqual(l_shipdate"), p.take(2000))
  }

  test("scan_projection_pushdown reads only the two projected columns") {
    val p = planOf("scan_projection_pushdown")
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"),
      p.take(2000))
  }

  test("join_broadcast_hash plans a BroadcastHashJoin") {
    assert(planOf("join_broadcast_hash").contains("BroadcastHashJoin"))
  }

  test("join_sort_merge respects the merge hint (SortMergeJoin)") {
    assert(planOf("join_sort_merge").contains("SortMergeJoin"))
  }

  test("join_asof reduces each event's orders with a hash aggregate") {
    // max_by over two long buffers is fixed-width; a max over a struct is
    // not and plans a SortAggregate that sorts the event x order fan-out
    val p = finalPlanOf(Registry.queries("join_asof")(spark, sf))
    assert(p.contains("HashAggregate") && !p.contains("SortAggregate"),
      p.take(3000))
  }

  test("join_cross_theta is the intended BroadcastNestedLoopJoin") {
    assert(planOf("join_cross_theta").contains("BroadcastNestedLoopJoin"))
  }

  test("join_shuffle_hash respects the shuffle_hash hint") {
    assert(planOf("join_shuffle_hash").contains("ShuffledHashJoin"))
  }

  test("mapPartitions decode agrees row-for-row with the SQL expression twin") {
    val viaPartitions = Registry.queries("mm_decode_partitions")(spark, sf)
      .collect().toSeq
    val viaExprs = Registry.queries("mm_binary_meta")(spark, sf)
      .select("doc_id", "n_bytes", "kind", "meta_width", "meta_height",
        "meta_frames")
      .collect().toSeq
    assert(viaPartitions === viaExprs)
  }

  test("global_topk fuses to TakeOrderedAndProject (no full sort)") {
    assert(planOf("global_topk").contains("TakeOrderedAndProject"))
    assert(planOf("sort_multikey").contains("TakeOrderedAndProject"))
  }

  test("flagship Q1 is a two-phase hash aggregate") {
    val p = planOf("agg_hash_groupby")
    assert(p.contains("HashAggregate"))
    assert(p.contains("partial_sum") || p.contains("partial_"), p.take(3000))
  }

  test("window_share_of_total pre-aggregates the fact before the dim join") {
    // Round-10 sweep regression shape: the join-first formulation shuffled
    // ALL of lineitem once Catalyst's supplier⋈nation size estimate
    // crossed the broadcast threshold (63 MB at 10×, linear in the fact
    // forever). The fixed plan aggregates lineitem by l_suppkey FIRST —
    // the only fact-sided exchange is the supplier-bounded partial-agg
    // shuffle — and joins the dims via an explicit broadcast hint.
    val p = planOf("window_share_of_total")
    assert(p.contains("hashpartitioning(l_suppkey"), p.take(3000))
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("SortMergeJoin"),
      "fact-wide merge join crept back in:\n" + p.take(3000))
  }

  test("project_arithmetic stays inside whole-stage codegen") {
    // Codegen stages render with the *(id) prefix — only in the FINAL
    // adaptive plan, so execute before inspecting.
    val df = Registry.queries("project_arithmetic")(spark, sf)
    df.collect() // count() would plan a different query; execute THIS one
    assert("""\*\(\d+\) (Project|Sort|ColumnarToRow)""".r.findFirstIn(
      df.queryExecution.executedPlan.toString).isDefined)
  }

  test("events_json_enrich broadcasts the customer dimension") {
    assert(planOf("events_json_enrich").contains("BroadcastHashJoin"))
  }

  test("sink_partitioned_pruning prunes to the one lang partition") {
    val df = Registry.queries("sink_partitioned_pruning")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters: [isnotnull(lang"), p.take(2000))
  }

  test("dpp join injects a dynamic pruning filter into the fact scan") {
    val p = planOf("join_dpp_prune")
    assert(p.toLowerCase.contains("dynamicpruning"), p.take(3000))
  }

  test("bucketed join runs with no hash-partition exchange") {
    val df = Registry.queries("join_bucketed_colocated")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("SortMergeJoin"), p.take(2000))
    assert(!p.contains("hashpartitioning"), p.take(3000))
    assert(p.contains("SelectedBucketsCount") || p.contains("Bucketed: true"),
      p.take(3000))
  }

  // Runs `f` with the graft TopK rewrite/strategy stripped from the shared
  // session, restoring them afterwards. Builds inside `f` must not go
  // through Registry.queries, which installs them again.
  private def withoutNativeTopK[T](f: => T): T = {
    val exp = spark.experimental
    val (prevO, prevS) = (exp.extraOptimizations, exp.extraStrategies)
    exp.extraOptimizations =
      prevO.filterNot(_ == graft.plans.RewriteTopKPerGroup)
    exp.extraStrategies = prevS.filterNot(_ == graft.plans.TopKStrategy)
    try f finally {
      exp.extraOptimizations = prevO
      exp.extraStrategies = prevS
    }
  }

  // The stock window formulation of topk_per_group, sans self-registration.
  private def stockTopK() = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    Tables.table(spark, sf, "orders")
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 3)
      .select(col("o_custkey"), col("rn"), col("o_orderkey"),
        col("o_totalprice"))
      .orderBy(col("o_custkey"), col("rn"))
  }

  test("native TopKPerGroup strategy engages and matches the stock window path") {
    val stockRows = withoutNativeTopK {
      val stock = stockTopK()
      assert(stock.queryExecution.executedPlan.toString.contains(
        "WindowGroupLimit"), "stock path must plan the window operator")
      stock.collect().toSeq
    }
    val native = Registry.queries("topk_per_group")(spark, sf)
    val p = native.queryExecution.executedPlan.toString
    assert(p.contains("TopKFinal") && p.contains("TopKPartial"), p.take(3000))
    assert(!p.contains("WindowGroupLimit"), p.take(3000))
    // the exchange sits between partial and final: map-side pruning shape
    assert(p.indexOf("TopKPartial") > p.indexOf("TopKFinal"), p.take(3000))
    // bit-identical results, including the rank column
    assert(native.collect().toSeq === stockRows)
  }

  test("partial flush cap only weakens pruning, never correctness") {
    val stockRows = withoutNativeTopK { stockTopK().collect().toSeq }
    spark.conf.set("graft.topk.partialFlushGroups", "4")
    try {
      // hundreds of customer groups per partition → many forced flushes
      val native = Registry.queries("topk_per_group")(spark, sf)
      assert(native.queryExecution.executedPlan.toString
        .contains("TopKPartial"))
      assert(native.collect().toSeq === stockRows)
    } finally spark.conf.unset("graft.topk.partialFlushGroups")
  }

  test("memory guard falls back to the stock sort-spill window path") {
    val stockRows = withoutNativeTopK { stockTopK().collect().toSeq }
    // 1-byte budget: any real child exceeds it → native must decline
    spark.conf.set("graft.topk.maxFinalBytesPerPartition", "1")
    try {
      val guarded = Registry.queries("topk_per_group")(spark, sf)
      val p = guarded.queryExecution.executedPlan.toString
      assert(!p.contains("TopKFinal"), p.take(3000))
      assert(p.contains("WindowGroupLimit"), p.take(3000))
      assert(guarded.collect().toSeq === stockRows)
    } finally spark.conf.unset("graft.topk.maxFinalBytesPerPartition")
    // default budget: the native operator engages again
    val native = Registry.queries("topk_per_group")(spark, sf)
    assert(native.queryExecution.executedPlan.toString.contains("TopKFinal"))
  }

  test("partial flush keeps consuming rows of already-tracked groups") {
    // With the cap at 1, a chunk now spans the full run of consecutive
    // rows whose group is already tracked — the (sorted-input) worst case
    // collapses to one chunk per group, never one chunk per row. Proven
    // indirectly: results stay exact under cap=1 (the old early-stop also
    // guaranteed this), and the direct heap unit below pins the behavior.
    val stockRows = withoutNativeTopK { stockTopK().collect().toSeq }
    spark.conf.set("graft.topk.partialFlushGroups", "1")
    try {
      assert(Registry.queries("topk_per_group")(spark, sf).collect().toSeq
        === stockRows)
    } finally spark.conf.unset("graft.topk.partialFlushGroups")
  }

  test("flush cap of 0 is clamped, not an infinite loop") {
    // maxGroups <= 0 used to make perGroup consume zero rows, so the
    // chunks iterator yielded empty chunks forever (ADVICE r5); the exec
    // now clamps the conf to >= 1. A regression here HANGS rather than
    // fails, so the result check doubles as the liveness proof only under
    // the clamp.
    val stockRows = withoutNativeTopK { stockTopK().collect().toSeq }
    spark.conf.set("graft.topk.partialFlushGroups", "0")
    try {
      assert(Registry.queries("topk_per_group")(spark, sf).collect().toSeq
        === stockRows)
    } finally spark.conf.unset("graft.topk.partialFlushGroups")
  }

  test("TopKHeaps at maxGroups consumes tracked groups, defers new ones") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, SortOrder, UnsafeProjection, Ascending}
    import org.apache.spark.sql.types.{IntegerType, LongType}
    val attrs = Seq(BoundReference(0, LongType, nullable = false),
      BoundReference(1, IntegerType, nullable = false))
    val groupProj = UnsafeProjection.create(Seq(attrs.head))
    val ordering = org.apache.spark.sql.catalyst.expressions.codegen
      .GenerateOrdering.generate(Seq(SortOrder(attrs(1), Ascending)))
    val toUnsafe = UnsafeProjection.create(
      Array[org.apache.spark.sql.types.DataType](LongType, IntegerType))
    // groups: 1,1,1, 2 — cap=1 must consume ALL of group 1 (not stop at
    // the second row) and leave group 2's row unconsumed on the iterator
    val rows = Seq((1L, 3), (1L, 1), (1L, 2), (2L, 9)).map { case (g, v) =>
      toUnsafe(InternalRow(g, v)).copy(): InternalRow
    }
    val it = rows.iterator.buffered
    val heaps = graft.plans.TopKHeaps.perGroup(
      it, groupProj, ordering, k = 2, maxGroups = 1)
    assert(heaps.size === 1)
    import scala.jdk.CollectionConverters._
    val kept = heaps.values().asScala.head.asScala
      .map(_.getInt(1)).toSeq.sorted
    assert(kept === Seq(1, 2), "k=2 heap must keep the two best of group 1")
    assert(it.hasNext && it.head.getLong(0) === 2L,
      "group 2's row must remain unconsumed for the next chunk")
  }

  test("GLOBAL (unpartitioned) top-k gathers all tuples before the final heap") {
    def globalTopK() = {
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      Tables.table(spark, sf, "orders")
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 3)
        .select(col("rn"), col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("rn"))
    }
    val stockRows = withoutNativeTopK { globalTopK().collect().toSeq }
    val native = globalTopK()
    val rows = native.collect().toSeq
    // exactly 3 globally-ranked rows — NOT 3 per input partition
    assert(rows === stockRows)
    assert(rows.map(_.getAs[Long]("rn")) === Seq(1L, 2L, 3L))
  }

  test("salted join shuffles on the salted key (ShuffledHashJoin)") {
    val df = Registry.queries("join_skew_salted")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("ShuffledHashJoin"), p.take(3000))
    assert(p.contains("salt"), p.take(3000))
  }

  test("native TopKPerGroup also serves the dedup-latest (k=1) shape") {
    // the key's raw build: Registry.queries would reinstall the strategy
    val stockRows = withoutNativeTopK {
      Registry.all.find(_.key == "events_dedup_latest").get.build(spark, sf)
        .collect().toSeq
    }
    val native = Registry.queries("events_dedup_latest")(spark, sf)
    assert(native.queryExecution.executedPlan.toString.contains("TopKFinal"))
    assert(native.collect().toSeq === stockRows)
  }

  test("ANN search never shuffles the corpus (map-side assignment)") {
    // The round-7 contract: nearest-list assignment is a projection over
    // literal centroids, so no exchange may partition on vec_id (the old
    // crossJoin+groupBy assignment exchanged one row per corpus vector),
    // and the probe side joins via broadcast.
    for (key <- Seq("vec_ann_ivf", "vec_ann_ivfpq", "vec_ann_ivf_fixed",
        "vec_ann_ivfpq_fixed")) {
      val p = Registry.queries(key)(spark, sf)
        .queryExecution.executedPlan.toString
      assert(!p.contains("hashpartitioning(vec_id"),
        s"$key re-shuffles the corpus by vec_id:\n${p.take(3000)}")
      assert(p.contains("BroadcastHashJoin"), s"$key: ${p.take(2000)}")
    }
  }

  test("AQE splits a skewed join partition at runtime (skew=true)") {
    // The other half of the skew story next to join_skew_salted's manual
    // salting: on a shuffle join keyed by a 3-value column every reducer
    // partition is hot, and AQE's OptimizeSkewedJoin must split them at
    // runtime (the `skew=true` SMJ marker) instead of letting three
    // reducers process the whole fact side. Thresholds are production-
    // scale (256 MB); the fixture-scale test lowers them — the assertion
    // is that the rule ENGAGES and results are unchanged.
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "2KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "2KB",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.0",
      "spark.sql.adaptive.forceOptimizeSkewedJoin" -> "true",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      import spark.implicits._
      // genuine imbalance: ~99% of sf0.01 lineitem lands on one join key
      // (the salted-join fixture shape), so the hot reducer partition
      // dwarfs the median — the condition OptimizeSkewedJoin detects.
      // Three equal hot keys would NOT trip it: skew is size vs median,
      // not absolute size.
      // .repartition(8): the fixture is one small parquet file = ONE map
      // task, and AQE splits a skewed reducer partition at MAPPER
      // granularity — one mapper's output is unsplittable regardless of
      // size. On a real cluster the fact side always has many mappers;
      // the round-robin repartition recreates that precondition here.
      val li = Tables.table(spark, "/root/testdata/sf0.01", "lineitem")
        .withColumn("k", when(col("l_orderkey") % 100 < 99, lit("hot"))
          .otherwise(concat(lit("cold"), col("l_orderkey") % 100)))
        .select(col("k"), col("l_quantity"))
        .repartition(8)
      val dim = (Seq("hot") ++ Seq("cold99"))
        .zipWithIndex.map { case (k, i) => (k, i.toLong) }
        .toDF("k", "k_id")
      val j = li.join(dim, "k")
        .groupBy(col("k_id")).agg(count(lit(1)).as("cnt"))
      val rows = j.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val p = j.queryExecution.executedPlan.toString
      assert(p.contains("skew=true"),
        s"OptimizeSkewedJoin did not engage:\n${p.take(3000)}")
      // identical results to the unsplit computation
      val plain = li.groupBy(col("k")).count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(rows === Map(0L -> plain("hot"), 1L -> plain("cold99")))
    } finally saved.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  test("runtime bloom filter prunes the probe side of a shuffle join") {
    // The 100 TB shape this pins: when a selective dimension filter feeds
    // a SHUFFLE join (no broadcast), Spark's runtime-filter rule builds a
    // bloom filter from the dimension side and pushes a
    // bloom_filter_might_contain predicate into the fact scan — rows that
    // cannot join die before the exchange. Thresholds are tuned for real
    // clusters (10 GB probe-side floor), so the fixture-scale test lowers
    // them; the assertion is that the rule ENGAGES and the pruned plan
    // still returns identical results.
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      val li = Tables.table(spark, sf, "lineitem")
      val ords = Tables.table(spark, sf, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
      val joined = li.join(ords, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("cnt"))
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("might_contain"),
        s"runtime bloom filter did not engage:\n${p.take(3000)}")
      val rows = joined.collect()
      assert(rows.length === 1 && rows.head.getLong(1) > 0)
    } finally saved.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  test("ANN broadcast joins are hint-forced, not size-estimated") {
    // VERDICT r8 #2 done-criterion: with auto-broadcast disabled, the only
    // way a BroadcastHashJoin appears is the explicit broadcast(...) hint
    // on the probe/shortlist side. If any of these joins were relying on
    // the planner's size estimate, this run would degrade to a sort-merge
    // join that shuffles the corpus by vec_id — the 100 TB failure mode.
    val conf = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.get(conf)
    try {
      spark.conf.set(conf, "-1")
      for (key <- Seq("vec_ann_ivf_fixed", "vec_ann_ivfpq_fixed",
          "pipeline_semantic_search")) {
        val p = Registry.queries(key)(spark, sf)
          .queryExecution.executedPlan.toString
        assert(!p.contains("hashpartitioning(vec_id"),
          s"$key re-shuffles the corpus by vec_id with auto-broadcast " +
            s"off:\n${p.take(3000)}")
        assert(p.contains("BroadcastHashJoin"),
          s"$key lost its broadcast join with auto-broadcast off — a " +
            s"join is hint-less:\n${p.take(3000)}")
      }
    } finally spark.conf.set(conf, saved)
  }

  test("vec_pq_codes is a single map-side projection (no joins/exchWide)") {
    val p = Registry.queries("vec_pq_codes")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!p.contains("hashpartitioning"), p.take(3000))
    assert(!p.contains("Join"), p.take(3000))
  }

  test("vec_pq_codes_fixed keeps the map-side shape (sort is the only exchange)") {
    val p = Registry.queries("vec_pq_codes_fixed")(spark, sf)
      .queryExecution.executedPlan.toString
    // literal codebook ⇒ codes/errs are projections; only the output
    // ORDER BY may exchange (rangepartitioning), never a hash shuffle
    assert(!p.contains("hashpartitioning"), p.take(3000))
    assert(!p.contains("Join"), p.take(3000))
  }

  test("curate/semantic-dedup: no cartesian products, lang gate pushed to scan") {
    for (key <- Seq("pipeline_curate", "pipeline_dedup_semantic",
        "pipeline_dedup_semantic_incremental")) {
      val p = Registry.queries(key)(spark, sf)
        .queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct"),
        s"$key plans a cartesian product:\n${p.take(3000)}")
      assert(!p.contains("BroadcastNestedLoopJoin"),
        s"$key plans a nested-loop join:\n${p.take(3000)}")
    }
    // the lang IN (...) gate must reach the documents parquet scan —
    // a curation pass that decodes every row to filter on a scan column
    // reads the whole corpus for nothing at 100 TB
    val p = Registry.queries("pipeline_curate")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(p.contains("In(lang"), p.take(3000))
  }

  test("native graft_dot equals the HOF fold bit-for-bit") {
    val df = Tables.table(spark, sf, "embeddings")
      .select(col("vec_id"),
        expr("transform(embedding, x -> cast(x as double))").as("v"))
      .select(col("vec_id"),
        call_function("graft_dot", col("v"), col("v")).as("native"),
        expr("aggregate(zip_with(v, v, (x, y) -> x * y), cast(0.0 as double), (a, x) -> a + x)")
          .as("hof"))
    assert(df.filter(col("native") =!= col("hof")).count() === 0)
  }

  test("native graft_dot on raw float arrays stays in codegen (HOFs do not)") {
    val native = Tables.table(spark, sf, "embeddings")
      .select(call_function("graft_dot", col("embedding"), col("embedding"))
        .as("d"))
    assert("""\*\(\d+\) Project""".r.findFirstIn(
      native.queryExecution.executedPlan.toString).isDefined,
      native.queryExecution.executedPlan.toString.take(1500))
    // float widening is exact: equals the double-cast HOF fold
    val both = Tables.table(spark, sf, "embeddings")
      .select(call_function("graft_dot", col("embedding"), col("embedding"))
        .as("native"),
        expr("""aggregate(zip_with(transform(embedding, x -> cast(x as double)),
                transform(embedding, x -> cast(x as double)),
                (x, y) -> x * y), cast(0.0 as double), (a, x) -> a + x)""")
          .as("hof"))
    assert(both.filter(col("native") =!= col("hof")).count() === 0)
  }

  test("null-safe join plans a broadcast HASH join, never a nested loop") {
    // `<=>` is an equi-join condition for Catalyst: NULL hashes like any
    // value. A naive `a = b OR (a IS NULL AND b IS NULL)` predicate would
    // fall off the equi-join path into BroadcastNestedLoopJoin — O(n·m)
    // at 100 TB.
    val df = Registry.queries("join_null_safe")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("NestedLoop"), p.take(2000))
  }

  test("gap_fill executes ONE events scan (linear chain, no re-read)") {
    // Span, type list, and observed counts all derive from one (type, day)
    // aggregation in a single linear chain. More than one FileScan here
    // would mean a multi-consumer formulation snuck back in — which
    // Catalyst does NOT deduplicate (column pruning diverges the subtrees,
    // so the fact gets scanned once per consumer).
    val p = finalPlanOf(Registry.queries("events_gap_fill")(spark, sf))
    val scans = "events\\.parquet".r.findAllMatchIn(p).size
    assert(scans === 1, s"expected 1 events scan, saw $scans:\n${p.take(3000)}")
  }

  test("time-range window: bucketed cumulative — one fact exchange on " +
      "(type, bkt), one events scan, type-only exchange domain-sized") {
    // r14 shape: the fact-sized RANGE cumulative partitions on
    // (event_type, bkt) — parallelism grows with calendar time — and the
    // ONLY event_type-keyed exchange is the bucket-totals prefix window
    // (domain-sized input). The bucket-totals aggregate must reuse the
    // window's exchange, so events is scanned exactly once.
    val p = finalPlanOf(Registry.queries("window_time_range")(spark, sf))
    assert(p.contains("Window"), p.take(2000))
    val factEx = "hashpartitioning\\(event_type[#0-9]*, bkt"
      .r.findAllMatchIn(p).size
    assert(factEx >= 1,
      s"expected the (event_type, bkt) fact exchange:\n${p.take(3000)}")
    val typeOnly = "hashpartitioning\\(event_type[#0-9]*, [0-9]"
      .r.findAllMatchIn(p).size
    assert(typeOnly === 1,
      s"expected exactly 1 type-only exchange (the domain-sized prefix " +
        s"window), saw $typeOnly:\n${p.take(3000)}")
    // TWO scans, deliberately (see the definition's comment): scan #2
    // feeds the bucket-totals branch and map-side-combines to the bucket
    // domain before its only exchange — pruning makes exchange reuse
    // impossible, and the single-scan alternatives (re-sorting the fact
    // or checkpointing 2×fact rows) cost more at scale. Three scans
    // would mean a third consumer crept in.
    val scans = "events\\.parquet".r.findAllMatchIn(p).size
    assert(scans === 2, s"expected 2 events scans, saw $scans:\n" +
      p.take(3000))
  }

  test("pagerank's emitted plan touches NO fact scan (literal iteration)") {
    // The single fact pass happens eagerly (collect of the domain-sized
    // edge table) while BUILDING the frame; the returned plan must then be
    // pure literal math — a fact scan here would mean the iteration loop
    // re-reads events per round (the shared-subtree trap).
    val p = finalPlanOf(Registry.queries("graph_pagerank")(spark, sf))
    val scans = "events\\.parquet".r.findAllMatchIn(p).size
    assert(scans === 0, s"expected 0 events scans, saw $scans:\n${p.take(3000)}")
  }

  test("rfm final plan: no fact re-scan, no single-partition exchange") {
    // The plan scans events once: the per-user aggregate's exchange feeds
    // the ranks, and the scalar subqueries (n and the recency anchor)
    // reuse it. r12 (VERDICT r11 task 2): quartiles are column
    // arithmetic over DistRank ranks, so the old three unpartitioned
    // ntile Windows — a ×3 single-task global sort over a user domain
    // that grows with the corpus — must be gone entirely; the only
    // single-partition exchange left is the scalar subquery's, which
    // carries one partial row per map partition.
    val df = Registry.queries("events_rfm")(spark, sf)
    val p = finalPlanOf(df)
    val scans = scansOf(df, "events.parquet")
    assert(scans === 1, s"expected 1 events scan, saw $scans:\n${p.take(3000)}")
    assert(p.contains("ReusedExchange"),
      "the scalar subqueries re-run the per-user exchange:\n" + p.take(3000))
    assert(unboundedSinglePartition(p).isEmpty,
      "single-partition exchange crept back in:\n" + p.take(3000))
    assert(!p.contains("Window"),
      "a window sort crept back into rfm (ranks are map-side now):\n" +
        p.take(3000))
  }

  test("registry sweep: every single-partition exchange is row-bounded") {
    // r12 structural fence for the whole registry, not just the keys the
    // r11 VERDICT named: a ShuffleExchange to SinglePartition is the
    // one-reducer global-sort/collect shape that killed vocabOf and
    // events_rfm at 100 TB. It is legitimate ONLY when the subtree below
    // it provably bounds rows to task-count/constant size — a scalar
    // (empty-grouping) partial aggregate (≤1 row per input partition) or
    // a local limit. Anything else must either lose the exchange or be
    // allowlisted here WITH a domain-size justification, so a future key
    // can never quietly reintroduce the anti-pattern.
    import org.apache.spark.sql.execution.{SparkPlan, LocalLimitExec, CollectLimitExec, GlobalLimitExec, TakeOrderedAndProjectExec, ProjectExec, FilterExec, SortExec, WholeStageCodegenExec, InputAdapter}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
    val allow: Map[String, String] = Map(
      "events_gap_fill" -> ("whole-frame min/max window over the " +
        "(event_type × day) aggregate — domain-sized, never the fact; " +
        "documented at the definition"),
      "window_moving_avg" -> ("7-day moving window over the per-DAY " +
        "aggregate — the day domain grows with calendar time (~10^4), " +
        "not corpus volume"),
      "window_share_of_total" -> ("share-of-total window over the " +
        "per-NATION aggregate — 25 rows, fixed dimension domain"),
      "sample_temperature" -> ("corpus-total window over the per-SOURCE " +
        "aggregate — #sources rows; a separate agg branch would re-read " +
        "parquet (the shared-subtree trap, documented at the definition)"),
      "pipeline_mix_schedule" -> ("same per-SOURCE global-total shape as " +
        "sample_temperature — domain-sized, one corpus scan by design"))
    // queryExecution.sparkPlan predates EnsureRequirements, which is the
    // pass that INSERTS distribution-required exchanges (an unpartitioned
    // window's AllTuples → Exchange SinglePartition) — so the audit must
    // read the prepared plan, unwrapping AQE's initial physical plan.
    def physical(df: org.apache.spark.sql.DataFrame): SparkPlan =
      df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
    // The bounding node must DOMINATE the exchange input (r12 ADVICE: a
    // plain find() would accept a scalar agg or limit buried on one side
    // of a row-expanding join/generate, leaving the exchange itself
    // corpus-sized). So: walk down only through nodes that preserve or
    // reduce row counts (project/filter/sort/exchange/grouped-agg and the
    // codegen wrappers) and demand the scalar agg or limit on that spine;
    // any row-expanding or unrecognized node ends the walk unbounded.
    def bounded(p: SparkPlan): Boolean = p match {
      case a: BaseAggregateExec =>
        a.groupingExpressions.isEmpty || bounded(a.child)
      case _: LocalLimitExec | _: GlobalLimitExec | _: CollectLimitExec |
           _: TakeOrderedAndProjectExec => true
      case q: ProjectExec => bounded(q.child)
      case q: FilterExec => bounded(q.child)
      case q: SortExec => bounded(q.child)
      case q: ShuffleExchangeExec => bounded(q.child)
      case q: WholeStageCodegenExec => bounded(q.child)
      case q: InputAdapter => bounded(q.child)
      case _ => false
    }
    def singlePartExchanges(p: SparkPlan): Seq[ShuffleExchangeExec] =
      p.collect {
        case e: ShuffleExchangeExec if e.outputPartitioning == SinglePartition => e
      }
    val offending = Registry.all.flatMap { q =>
      val bad = singlePartExchanges(physical(q.build(spark, sf)))
        .filterNot(e => bounded(e.child)).map(_.child.nodeName)
      if (bad.nonEmpty && !allow.contains(q.key)) Some(q.key -> bad) else None
    }
    assert(offending.isEmpty,
      "unbounded single-partition exchange(s) — fix the plan or allowlist " +
        s"with a domain-size justification:\n${offending.mkString("\n")}")
    // the allowlist must stay honest: prune entries whose key no longer
    // plans a single-partition exchange at all
    allow.keys.foreach { k =>
      val has = singlePartExchanges(
        physical(Registry.queries(k)(spark, sf))).nonEmpty
      assert(has, s"$k is allowlisted but plans no single-partition " +
        "exchange — remove the stale entry")
    }
  }

  test("registry sweep: every coalesce(1) dominates an aggregate " +
      "(orderedDomain misuse fence)") {
    // r17 guardrail (VERDICT r16 "What's wrong" #1): Det.orderedDomain =
    // coalesce(1) + in-partition sort is exchange-free and correct ONLY
    // on domain-bounded frames — applied to a row-level output it
    // recreates the classic single-task global sort, and coalesce(1)
    // additionally collapses the UPSTREAM stage's parallelism (a narrow
    // dependency pulls the whole lineage into one task). The convention
    // was guarded by comments alone; this sweep makes it structural:
    // every CoalesceExec(1) in every registry plan must dominate an
    // aggregate (or limit) through row-preserving nodes. Grouped
    // aggregates are accepted — the domain-boundedness of the grouping
    // keys is the call site's documented premise (the fact-sized-exchange
    // sweep below audits those keys separately); what this fence rejects
    // is coalesce(1) straight over a scan, join, generate, or any other
    // row-preserving/expanding chain with no aggregation at all.
    import org.apache.spark.sql.execution.{SparkPlan, LocalLimitExec, CollectLimitExec, GlobalLimitExec, TakeOrderedAndProjectExec, CoalesceExec, FileSourceScanExec}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    def physical(df: org.apache.spark.sql.DataFrame): SparkPlan =
      df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
    // Every leaf-ward path from the coalesce must cross an aggregate (or
    // limit) before touching a file scan: an aggregate's output is the
    // caller-audited domain frame; joins/generates/unions of such frames
    // stay domain-sized, while a parquet scan reachable with NO aggregate
    // in between means corpus-proportional rows in one task. Leaves that
    // are not file scans (literal tables, checkpoint reads — themselves
    // post-aggregate by construction) pass.
    def aggBeforeScan(p: SparkPlan): Boolean = p match {
      case _: BaseAggregateExec => true
      case _: LocalLimitExec | _: GlobalLimitExec | _: CollectLimitExec |
           _: TakeOrderedAndProjectExec => true
      // per-group top-k (row_number ≤ k, rewritten by Spark or by graft's
      // native TopKPerGroup): bounds rows to k × group domain — the same
      // domain premise grouped aggregates carry (vec_knn_per_label's
      // per-label top-3)
      case _: org.apache.spark.sql.execution.window.WindowGroupLimitExec =>
        true
      case _: graft.plans.TopKPartialExec | _: graft.plans.TopKFinalExec =>
        true
      case _: FileSourceScanExec => false
      case q => q.children.forall(aggBeforeScan)
    }
    // Allowlisted with a domain-size justification (same discipline as
    // the single-partition sweep): the ANN/probe family coalesces a frame
    // whose one scan-rooted side is a FIXED probe set (q_id ∈ 8 literal
    // ids — a pushed-down IN filter, not an aggregate), joined to
    // aggregated/limited candidates.
    val allow: Map[String, String] = Map(
      "vec_ann_brute" -> "probe side = 8 fixed q_ids (pushed IN filter)",
      "vec_ann_ivf" -> "probe side = 8 fixed q_ids",
      "vec_ann_ivf_fixed" -> "probe side = 8 fixed q_ids",
      "vec_ann_ivfpq" -> "probe side = 8 fixed q_ids",
      "vec_ann_ivfpq_fixed" -> "probe side = 8 fixed q_ids",
      "pipeline_semantic_search" -> "probe side = 8 fixed q_ids",
      "pipeline_eval_recall" -> "probe side = 8 fixed q_ids")
    val offending = Registry.all.flatMap { q =>
      val bad = physical(q.build(spark, sf)).collect {
        case c: CoalesceExec if c.numPartitions == 1 &&
          !aggBeforeScan(c.child) => c.child.nodeName
      }
      if (bad.nonEmpty && !allow.contains(q.key)) Some(q.key -> bad.distinct)
      else None
    }
    assert(offending.isEmpty,
      "coalesce(1) over a non-aggregated (potentially corpus-sized) " +
        "frame — use a parallel range sort or aggregate first:\n" +
        offending.mkString("\n"))
    allow.keys.foreach { k =>
      val has = physical(Registry.queries(k)(spark, sf)).collect {
        case c: CoalesceExec if c.numPartitions == 1 => c }.nonEmpty
      assert(has, s"$k is allowlisted but plans no coalesce(1) — remove " +
        "the stale entry")
    }
  }

  test("registry sweep: no fact-sized exchange partitioned on a " +
      "domain-bounded key") {
    // r14 structural fence (VERDICT r13 task 2): the single-partition
    // audit above caught ONE-reducer shapes but missed the FEW-reducer
    // family — a shuffle whose partition keys all come from a
    // domain-bounded column (event_type: 5 values, lang: 4, returnflag: 3
    // …) while its input is fact-proportional. Correct everywhere, but
    // parallelism is capped at the key domain: at 100 TB that is ~5 tasks
    // each sorting ~20 TB (r13's events_inter_arrival 19.0 s /
    // window_time_range 34.6 s / sample_stratified at 100× grown — all
    // rewired onto DistRank this round; this audit is red on their old
    // shapes and keeps them from coming back). An exchange on such keys
    // is legitimate ONLY when its input is itself domain-bounded — a
    // grouped aggregate whose grouping keys are all domain-bounded (≤
    // domain rows per task), a scalar aggregate, or a limit, anywhere on
    // the row-preserving spine below.
    import org.apache.spark.sql.execution.{SparkPlan, LocalLimitExec, CollectLimitExec, GlobalLimitExec, TakeOrderedAndProjectExec, ProjectExec, FilterExec, SortExec, WholeStageCodegenExec, InputAdapter, UnionExec, CoalesceExec, FileSourceScanExec}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.{ShuffleExchangeExec, BroadcastExchangeExec}
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec}
    import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
    import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, RangePartitioning}
    // The session registers graft's native rewrites in Bench/Verify before
    // any plan is built; register here too so the audited plans match the
    // production ones regardless of test ordering (an unregistered run
    // plans WindowExec where production plans TopKPartial/TopKFinal).
    // Every fixture column whose value domain is a small constant set —
    // grows with NOTHING (not corpus volume, not calendar time). Keep in
    // sync with TESTDATA.md; names are unambiguous across tables.
    val domain = Set("event_type", "lang", "source", "split",
      "l_returnflag", "l_linestatus", "o_orderstatus", "o_orderpriority",
      "label", "p_brand", "r_regionkey", "r_name", "n_nationkey", "n_name",
      // FKs INTO the fixed dimensions carry the same ≤25-value domain
      "s_nationkey", "c_nationkey", "n_regionkey")
    val allow: Map[String, String] = Map(
      "source_csv_roundtrip" -> ("the roundtripped table is the fixed " +
        "25-row nation dimension re-read from csv; the final orderBy " +
        "range exchange is dimension-sized (the walker cannot see through " +
        "a write-then-read temp path)"),
      "source_json_roundtrip" -> "same fixed-dimension roundtrip, json",
      "source_orc_roundtrip" -> "same fixed-dimension roundtrip, orc",
      "join_full_outer" -> ("FULL OUTER JOIN keyed on the 25-value " +
        "nation key is the operator under demonstration — Spark has no " +
        "broadcast full-outer, so the shuffle join key IS the semantic " +
        "key; the supplier side is corpus-proportional but splitting " +
        "into left-outer ∪ anti would stop exercising the operator"),
      "window_time_range" -> ("the bucketed-prefix-sum offsets window " +
        "partitions the (type × day-bucket) TOTALS aggregate by " +
        "event_type — the input is the bucket domain (grows with " +
        "calendar time, like window_moving_avg's day series), never " +
        "the fact; the fact-sized cumulative runs bucket-partitioned"))
    def physical(df: org.apache.spark.sql.DataFrame): SparkPlan =
      df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
    def domainOnly(exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]): Boolean =
      exprs.nonEmpty && exprs.forall { e =>
        val names = e.references.map(_.name).toSet
        names.nonEmpty && names.forall(domain)
      }
    def dbounded(p: SparkPlan): Boolean = p match {
      case a: BaseAggregateExec =>
        a.groupingExpressions.isEmpty ||
          a.groupingExpressions.forall(
            _.references.map(_.name).forall(domain)) ||
          dbounded(a.child)
      case _: LocalLimitExec | _: GlobalLimitExec | _: CollectLimitExec |
           _: TakeOrderedAndProjectExec => true
      case q: WindowGroupLimitExec => dbounded(q.child)
      // graft's map-side top-k heap: ≤ limit rows per group per flush
      // chunk — bounded whenever its groups are domain-bounded
      case t: graft.plans.TopKPartialExec =>
        domainOnly(t.partitionSpec) || dbounded(t.child)
      // reduce-side twin: exactly ≤ limit rows per group
      case t: graft.plans.TopKFinalExec =>
        domainOnly(t.partitionSpec) || dbounded(t.child)
      // a window adds columns, never rows
      case w: WindowExec => dbounded(w.child)
      // broadcast joins: output ≤ streamed × build matches — bounded when
      // BOTH inputs are (the registry's uses are scalar-agg cross joins
      // and dimension enrichments; a bounded×bounded product stays
      // domain-sized)
      case j: BroadcastHashJoinExec => j.children.forall(dbounded)
      case j: BroadcastNestedLoopJoinExec => j.children.forall(dbounded)
      case b: BroadcastExchangeExec => dbounded(b.child)
      // region/nation are FIXED dimensions (5/25 rows at every SF)
      case f: FileSourceScanExec =>
        f.relation.location.rootPaths.exists { p =>
          val s = p.toString
          s.endsWith("region.parquet") || s.endsWith("nation.parquet")
        }
      case q: ProjectExec => dbounded(q.child)
      case q: FilterExec => dbounded(q.child)
      case q: SortExec => dbounded(q.child)
      case q: ShuffleExchangeExec => dbounded(q.child)
      case q: WholeStageCodegenExec => dbounded(q.child)
      case q: InputAdapter => dbounded(q.child)
      case q: CoalesceExec => dbounded(q.child)
      case u: UnionExec => u.children.forall(dbounded)
      case _ => false
    }
    val offending = Registry.all.flatMap { q =>
      val bad = physical(q.build(spark, sf)).collect {
        case e: ShuffleExchangeExec => e.outputPartitioning match {
          case h: HashPartitioning if domainOnly(h.expressions) => Some(e)
          case r: RangePartitioning
              if domainOnly(r.ordering.map(_.child)) => Some(e)
          case _ => None
        }
      }.flatten.filterNot(e => dbounded(e.child))
        .map(_.child.treeString.take(600))
      if (bad.nonEmpty && !allow.contains(q.key)) Some(q.key -> bad) else None
    }
    assert(offending.isEmpty,
      "fact-sized exchange(s) partitioned only on domain-bounded keys — " +
        "parallelism capped at the key domain at 100 TB; fix the plan " +
        "(DistRank withGroupRank/withGroupLag) or allowlist with a " +
        s"justification:\n${offending.mkString("\n")}")
    // self-pruning allowlist, same discipline as the single-partition sweep
    allow.keys.foreach { k =>
      val has = physical(Registry.queries(k)(spark, sf)).collect {
        case e: ShuffleExchangeExec => e.outputPartitioning match {
          case h: HashPartitioning if domainOnly(h.expressions) => Some(e)
          case r: RangePartitioning
              if domainOnly(r.ordering.map(_.child)) => Some(e)
          case _ => None
        }
      }.flatten.exists(e => !dbounded(e.child))
      assert(has, s"$k is allowlisted but plans no unbounded " +
        "domain-keyed exchange — remove the stale entry")
    }
    // Detector self-test: the exact r13 weak shape this audit exists to
    // catch — row_number over partitionBy(lang) on the fact-sized
    // documents table (sample_stratified's pre-fix form) — must flag.
    val oldShape = Tables.table(spark, sf, "documents")
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("lang")).orderBy(col("doc_id"))))
    val oldBad = physical(oldShape).collect {
      case e: ShuffleExchangeExec => e.outputPartitioning match {
        case h: HashPartitioning if domainOnly(h.expressions) => Some(e)
        case _ => None
      }
    }.flatten.filterNot(e => dbounded(e.child))
    assert(oldBad.nonEmpty, "detector self-test failed: the old " +
      "partitionBy(lang) fact window shape did not flag")
  }

  test("registry sweep: no whole-stage method exceeds the JIT compile " +
      "limit (codegen fallback audit)") {
    // r15 structural fence (VERDICT r14 task 3), the ivfpq lesson
    // generalized: HotSpot never JIT-compiles methods over 8000 bytecode
    // bytes (-XX:-DontCompileHugeMethods is off by default), so a
    // whole-stage method in (8000, 65535] either runs as INTERPRETED
    // bytecode (Spark's default fallback at 65535) or — with our
    // hugeMethodLimit=8000 alignment — silently falls back to
    // per-operator execution, which is slower than true fused codegen
    // either way. vec_ann_ivfpq paid 30 s (vs 2.8 s fixed) at 100× grown
    // for exactly this, invisible in every plan string. This audit
    // compiles every registry key's whole-stage methods the way the
    // executor would and flags any over the JIT limit, so the next
    // too-wide fused stage is caught at `sbt test` time with a named
    // stage, not at the next scale decade. Method SIZE is a property of
    // the generated code, not the data, so auditing at sf0.001 covers
    // every SF. AQE caveat that BITES (caught by this test's own
    // non-vacuity check): CollapseCodegenStages runs per query stage at
    // MATERIALIZATION, so the initial AdaptiveSparkPlanExec.executedPlan
    // has NO WholeStageCodegenExec nodes — walking it audits nothing.
    // Every key therefore EXECUTES before the walk and the walk reads
    // the final adaptive plan (the finalPlanOf discipline), with a
    // global floor on the number of codegen stages actually seen so the
    // sweep can never pass vacuously again (per-key would over-reach:
    // literal-only plans like graph_pagerank and mapPartitions keys
    // legitimately have no codegen stage).
    import org.apache.spark.sql.execution.SparkPlan
    val LIMIT = Diag.JitLimit
    def executedPhysical(df: org.apache.spark.sql.DataFrame): SparkPlan = {
      df.queryExecution.toRdd.count() // materialize every adaptive stage
      df.queryExecution.executedPlan
    }
    // Diag.methodSizes walks into materialized QueryStageExec leaves —
    // a naive collect() sees zero codegen stages on any AQE plan.
    def stageSizes(p: SparkPlan): Seq[(String, Int)] =
      Diag.methodSizes(p).map(s => (s.node, s.bytes))
    // Allowlist-or-split decision per hit: an entry needs a
    // justification for why the stage cannot or should not be narrowed
    // (and therefore deliberately runs per-operator).
    val allow: Map[String, String] = Map.empty
    var stagesSeen = 0
    val offending = Registry.all.flatMap { q =>
      val all = stageSizes(executedPhysical(q.build(spark, sf)))
      stagesSeen += all.size
      val bad = all.filter(_._2 > LIMIT)
      if (bad.nonEmpty && !allow.contains(q.key)) Some(q.key -> bad)
      else None
    }
    assert(stagesSeen >= 150, s"only $stagesSeen whole-stage codegen " +
      "stages across 187 keys — the audit is walking initial (pre-AQE) " +
      "plans and proving nothing")
    assert(offending.isEmpty,
      s"whole-stage method(s) over the $LIMIT-byte JIT limit — these " +
        "stages run per-operator (or interpreted on stock confs); split " +
        "the stage (narrower projections, a native fused Expression like " +
        "graft_adc) or allowlist with a justification:\n" +
        offending.map { case (k, hits) =>
          s"  $k: ${hits.map { case (n, sz) => s"$n=$sz" }.mkString(", ")}"
        }.mkString("\n"))
    // self-pruning allowlist, same discipline as the exchange sweeps
    allow.keys.foreach { k =>
      assert(stageSizes(executedPhysical(Registry.queries(k)(spark, sf)))
        .exists(_._2 > LIMIT),
        s"$k is allowlisted but compiles under the limit — remove the " +
          "stale entry")
    }
    // Detector self-test: a single wide fused projection — the ivfpq
    // shape, a long chain of distinct arithmetic terms that nothing
    // splits into sub-methods — must flag. (CaseWhen/concat self-split
    // their branches; a flat +-chain over distinct subterms is the shape
    // that genuinely outgrows one method.)
    val wide = (1 to 400).foldLeft(col("id")) { (acc, i) =>
      acc + (col("id") % lit(i.toLong)) }
    val synth = spark.range(10).select(wide.as("x"))
    assert(stageSizes(executedPhysical(synth)).exists(_._2 > LIMIT),
      "detector self-test failed: the 400-term fused projection did not " +
        "flag — is the audit actually measuring method bytecode size?")
  }

  test("vocab-ranked keys plan no single-partition exchange") {
    // r12 (VERDICT r11 task 1): vocabOf / text_vocab_coverage rank the
    // FULL vocabulary — a corpus-growing domain (Heaps' law) — so the
    // rank must be DistRank's range-partitioned two-phase shape, never an
    // unpartitioned row_number window's Exchange SinglePartition.
    Seq("text_tokenize_ids", "text_chunk_pack", "text_vocab_coverage")
      .foreach { k =>
        val p = finalPlanOf(Registry.queries(k)(spark, sf))
        assert(unboundedSinglePartition(p).isEmpty,
          s"$k has a single-partition exchange:\n" + p.take(3000))
      }
  }
}
