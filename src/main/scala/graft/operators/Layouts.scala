package graft.operators

import graft.{Det, Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
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
  *
  * Both layouts are the operator's SETUP, not the operator: production
  * writes a layout once and reads it many times, so each is written once
  * per (application, dir) through [[graft.Materialize]], which owns the
  * path and the write-then-record memo. Every build then times only the
  * pruned scan or the bucketed join, computed from the files each time;
  * nothing result-shaped is cached.
  */
object Layouts {
  import Det._

  /** Documents rewritten lang-partitioned, shared by the static-pruning
    * and DPP keys. */
  private def partitionedDocs(s: SparkSession, dir: String): DataFrame =
    graft.Materialize.once(s, "part", dir) { path =>
      Tables.table(s, dir, "documents")
        .write.mode("overwrite").partitionBy("lang").parquet(path)
    }

  /** `table` written `bucketBy(8, key).sortBy(key)` as an EXTERNAL
    * catalog table at its Materialize path, read back through the
    * catalog (only a catalog table carries the bucket spec the planner
    * needs). The name carries the dir digest, so two dirs read in one
    * application never share a table. */
  private def bucketed(s: SparkSession, dir: String, table: String,
      abbrev: String, key: String): DataFrame = {
    val name = s"graft_${abbrev}_bucketed_${graft.Materialize.digest(dir)}"
    graft.Materialize.written(s, s"${abbrev}_bucketed", dir) { path =>
      Tables.table(s, dir, table).write.mode("overwrite")
        .bucketBy(8, key).sortBy(key)
        .option("path", path).saveAsTable(name)
    }
    s.table(name)
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
      (s, dir) =>
        bucketed(s, dir, "customer", "cust", "c_custkey").hint("merge")
          .join(bucketed(s, dir, "orders", "ord", "o_custkey"),
            col("c_custkey") === col("o_custkey"))
          .groupBy(col("c_custkey"), col("c_name"))
          .agg(dsum(col("o_totalprice"), 2).as("total_spend"),
            count(lit(1)).as("order_cnt"))
          .orderBy(col("c_custkey")),
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
