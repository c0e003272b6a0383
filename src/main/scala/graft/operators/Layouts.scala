package graft.operators

import graft.{Det, Q, Tables}
import org.apache.spark.sql.functions._

/** Physical-layout operators — the two biggest 100 TB levers that the
  * query-shape keys can't show:
  *
  *  - **partition pruning**: data written `partitionBy(lang)` lets a
  *    `lang = 'fr'` read skip every other partition directory at the
  *    planner level (`PartitionFilters` in the scan, asserted in
  *    PlanSpec) — at 100 TB this is the difference between scanning a
  *    shard and scanning the lake;
  *  - **bucketed co-located join**: both join sides written
  *    `bucketBy(8, key)` join with NO shuffle on the key — the sort-merge
  *    join reads bucket files pairwise. Pre-bucketing fact tables on
  *    their join keys amortizes one shuffle across every future join.
  */
object Layouts {
  import Det._

  /** Bucket-setup memo for join_bucketed_colocated (write-once-then-join,
    * the Materialize.once discipline): recorded only AFTER both
    * saveAsTable writes succeed — a throw leaves no entry and the next
    * build retries; keyed by (applicationId, dir digest) so different
    * JVMs/SFs never alias. */
  private val bucketSetupDone =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()

  /** Documents rewritten lang-partitioned to a per-(app, sf) temp dir
    * and then only READ — so the pruning / DPP queries (and their bench
    * timings) measure the scan and join, not a rewrite of the dataset on
    * every invocation (ADVICE r3). Shared by the static-pruning and DPP
    * keys; path construction, collision-proofing, and the
    * write-then-record locking discipline live in [[graft.Materialize]],
    * shared with the dedup cluster-label table. */
  private def partitionedDocs(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    graft.Materialize.once(s, "part", dir) { path =>
      Tables.table(s, dir, "documents")
        .write.mode("overwrite").partitionBy("lang").parquet(path)
    }

  val qs: Seq[Q] = Seq(
    // Write documents partitioned by lang, read back only the 'fr'
    // partition. Result equals a plain filter on the source (the oracle),
    // but the plan touches one partition directory.
    Q("sink_partitioned_pruning",
      (s, dir) => partitionedDocs(s, dir)
        .filter(col("lang") === "fr")
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        .orderBy(col("doc_id")),
      Some(sql("""SELECT doc_id, lang, source, n_chars FROM documents
        |WHERE lang = 'fr' ORDER BY doc_id"""))),

    // Dynamic partition pruning: the fact side is partitioned by lang;
    // the dim side's filter (source = 'src1') is on a NON-partition
    // attribute, so the set of fact partitions to read is only knowable
    // at runtime — Spark broadcasts the filtered dim and injects a
    // DynamicPruningExpression into the fact scan's PartitionFilters
    // (asserted in PlanSpec). At 100 TB this is the third layout lever
    // next to static pruning and bucketing: a selective dim filter skips
    // fact partitions without any static predicate. Result equals the
    // plain join (the oracle).
    Q("join_dpp_prune",
      (s, dir) => {
        val fact = partitionedDocs(s, dir)
        val dim = Tables.table(s, dir, "documents")
          .filter(col("source") === "src1")
          .select(col("lang")).distinct()
        fact.join(dim, "lang")
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("doc_cnt"),
            sum(col("n_chars")).cast("long").as("total_chars"))
          .orderBy(col("lang"))
      },
      Some(sql("""SELECT d.lang, count(*)::BIGINT AS doc_cnt,
        |CAST(sum(d.n_chars) AS BIGINT) AS total_chars
        |FROM documents d
        |JOIN (SELECT DISTINCT lang FROM documents WHERE source = 'src1') t
        |  USING (lang)
        |GROUP BY d.lang ORDER BY d.lang"""))),

    // Customer ⋈ orders with both sides bucketed (+sorted) on the join
    // key in the session catalog: the sort-merge join consumes bucket
    // files directly — zero hash-partition exchanges (PlanSpec asserts).
    Q("join_bucketed_colocated",
      (s, dir) => {
        // Table names carry the SF-dir digest (same scheme as
        // Materialize.once): two graft JVMs pointed at DIFFERENT fixture
        // dirs but sharing one spark-warehouse (the test suite at sf0.001
        // racing a Verify at sf0.1) must never read each other's buckets —
        // a fixed name let exactly that happen. A fresh session has an
        // empty catalog but the managed-table dirs may survive from a
        // previous JVM on the same SF — drop both, then clear the leftover
        // locations so saveAsTable never hits LOCATION_ALREADY_EXISTS.
        //
        // Bucket-once-join-many (r16, guide §2.4 "bucketed tables persist
        // a partitioning across jobs"): the sweep + drop + two bucketed
        // writes are the operator's LAYOUT SETUP, exactly like
        // Materialize.once's partitionedDocs (ADVICE r3 precedent) — the
        // production steady state writes buckets once and joins them many
        // times, but this builder re-wrote both tables on every
        // invocation, so each bench sample timed two saveAsTable jobs +
        // a warehouse mtime walk (~1.3 s/sample at sf0.1) instead of the
        // bucketed JOIN the key exists to measure. Memoize the setup per
        // (application, dir): first build writes, every later build only
        // reads the catalog tables. The JOIN still computes from the
        // bucket files on every run — nothing result-shaped is cached.
        val digest = graft.Materialize.digest(dir)
        val custTab = s"graft_cust_bucketed_$digest"
        val ordTab = s"graft_ord_bucketed_$digest"
        val memoKey = s.sparkContext.applicationId + "_" + digest
        bucketSetupDone.computeIfAbsent(memoKey, _ => {
        val wh = java.nio.file.Paths.get(java.net.URI.create(
          s.conf.get("spark.sql.warehouse.dir")).getPath)
        def rmTree(loc: java.nio.file.Path): Unit =
          if (java.nio.file.Files.exists(loc)) {
            import scala.jdk.CollectionConverters._
            val walk = java.nio.file.Files.walk(loc)
            val all = try walk.iterator().asScala.toSeq finally walk.close()
            all.reverse.foreach(p => java.nio.file.Files.deleteIfExists(p))
          }
        // Sweep BOTH the pre-digest fixed-name tables (left behind by
        // pre-r10 runs, dropped by no one since) and stale digest-suffixed
        // pairs from OTHER fixture dirs, so a shared warehouse doesn't
        // grow one orphan pair per SF forever (ADVICE r10). Other digests
        // may belong to a LIVE concurrent JVM (the race the digest scheme
        // exists for), so staleness uses the NEWEST mtime across the
        // whole directory TREE — a top-level dir's mtime does not update
        // on writes to nested leaf files, so the old top-level-only read
        // could sweep a table a long soak was still writing (ADVICE r11)
        // — with a 24 h threshold, comfortably above the longest observed
        // sweep (the 100× chunked run is a few hours). The current digest
        // and the legacy fixed names are always reclaimed (this JVM owns
        // the former and nothing has written the latter since r10).
        import scala.jdk.CollectionConverters._
        val staleMs = 24L * 3600 * 1000
        def newestMtime(root: java.nio.file.Path): Long = {
          val walk = java.nio.file.Files.walk(root)
          try walk.iterator().asScala.map { f =>
            scala.util.Try(
              java.nio.file.Files.getLastModifiedTime(f).toMillis)
              .getOrElse(Long.MaxValue) // racing delete: treat as fresh
          }.foldLeft(0L)(math.max)
          finally walk.close()
        }
        if (java.nio.file.Files.isDirectory(wh)) {
          val ls = java.nio.file.Files.list(wh)
          val entries = try ls.iterator().asScala.toSeq finally ls.close()
          entries.filter { p =>
            val n = p.getFileName.toString
            val ours = n == custTab || n == ordTab ||
              n == "graft_cust_bucketed" || n == "graft_ord_bucketed"
            // mtime walk may race another JVM's concurrent cleanup —
            // a vanished dir is simply not ours to sweep
            val staleOther =
              (n.startsWith("graft_cust_bucketed_") ||
                n.startsWith("graft_ord_bucketed_")) &&
              scala.util.Try(newestMtime(p) <
                System.currentTimeMillis() - staleMs).getOrElse(false)
            ours || staleOther
          }.foreach(rmTree)
        }
        Seq("graft_cust_bucketed", "graft_ord_bucketed",
            custTab, ordTab).foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
        Tables.table(s, dir, "customer").write.mode("overwrite")
          .bucketBy(8, "c_custkey").sortBy("c_custkey")
          .saveAsTable(custTab)
        Tables.table(s, dir, "orders").write.mode("overwrite")
          .bucketBy(8, "o_custkey").sortBy("o_custkey")
          .saveAsTable(ordTab)
        java.lang.Boolean.TRUE
        })
        s.table(custTab).hint("merge")
          .join(s.table(ordTab),
            col("c_custkey") === col("o_custkey"))
          .groupBy(col("c_custkey"), col("c_name"))
          .agg(dsum(col("o_totalprice"), 2).as("total_spend"),
            count(lit(1)).as("order_cnt"))
          .orderBy(col("c_custkey"))
      },
      Some(sql(s"""SELECT c_custkey, c_name,
        |${sqlDsum("o_totalprice", 2)} AS total_spend,
        |count(*)::BIGINT AS order_cnt
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey, c_name ORDER BY c_custkey"""))),

    // Z-order clustering — the multi-dimensional data-skipping layout
    // (Delta/Iceberg OPTIMIZE ZORDER): interleaving the bits of two key
    // buckets and range-splitting on the z-value gives files whose min/max
    // are narrow in BOTH dimensions, so predicates on EITHER column skip
    // most files (a plain sort only bounds its leading column). Per-file
    // stats emitted here are exactly the footer min/max a scan would prune
    // on; x_span/y_span ≈ 3 of 15 per file vs 15 for a linear layout on
    // the other column. Pure integer bit algebra (& | shifts, exact in
    // both engines) + one 32-group aggregate: at 100 TB the same z-value
    // is the repartitionByRange key for the actual rewrite.
    Q("layout_zorder_clustering",
      (s, dir) => {
        // 4-bit buckets of the two join keys; z interleaves x into even
        // bits, y into odd bits.
        val z = (0 until 4).map(i =>
          s"(shiftleft((x >> $i) & 1, ${2 * i}) | " +
            s"shiftleft((y >> $i) & 1, ${2 * i + 1}))").mkString(" | ")
        Tables.table(s, dir, "lineitem")
          .select(pmod(col("l_orderkey"), lit(16L)).as("x"),
            pmod(col("l_partkey"), lit(16L)).as("y"))
          .withColumn("z", expr(z))
          .withColumn("file_id", expr("z DIV 8"))
          .groupBy(col("file_id"))
          .agg(count(lit(1)).as("n_rows"),
            min(col("x")).as("x_min"), max(col("x")).as("x_max"),
            min(col("y")).as("y_min"), max(col("y")).as("y_max"))
          .withColumn("x_span", col("x_max") - col("x_min"))
          .withColumn("y_span", col("y_max") - col("y_min"))
          .orderBy(col("file_id"))
      },
      Some(sql("""WITH b AS (
        |  SELECT l_orderkey % 16 AS x, l_partkey % 16 AS y FROM lineitem),
        |zv AS (
        |  SELECT x, y,
        |    (((x >> 0) & 1) << 0) | (((y >> 0) & 1) << 1)
        |    | (((x >> 1) & 1) << 2) | (((y >> 1) & 1) << 3)
        |    | (((x >> 2) & 1) << 4) | (((y >> 2) & 1) << 5)
        |    | (((x >> 3) & 1) << 6) | (((y >> 3) & 1) << 7) AS z
        |  FROM b)
        |SELECT z // 8 AS file_id, count(*)::BIGINT AS n_rows,
        |  min(x) AS x_min, max(x) AS x_max,
        |  min(y) AS y_min, max(y) AS y_max,
        |  max(x) - min(x) AS x_span, max(y) - min(y) AS y_span
        |FROM zv GROUP BY 1 ORDER BY file_id"""))),
  )
}
