package graft.operators

import graft.{Det, Q, Tables}
import org.apache.spark.sql.functions._

/** §2.1-A — scans / sources / sinks (SURVEY.md:165-172).
  *
  * Scale notes: all three scan queries are single-stage (scan → partial agg
  * or scan → sort) with Parquet column pruning and row-group predicate
  * pushdown doing the heavy lifting — at 100 TB the shuffle-free `count` and
  * the pushed filter are exactly the plans a 1000-executor cluster wants.
  * The roundtrip sources write to a [[graft.Materialize]] path; on a
  * cluster the path would be object storage, the code shape is identical.
  */
object Scans {
  import Det._

  val qs: Seq[Q] = Seq(
    Q("scan_parquet_count",
      (s, dir) => Tables.table(s, dir, "lineitem")
        .agg(count(lit(1)).as("cnt")),
      Some(sql("SELECT count(*)::BIGINT AS cnt FROM lineitem"))),

    Q("scan_projection_pushdown",
      (s, dir) => Tables.table(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_quantity"))
        .orderBy(col("l_orderkey"), col("l_quantity")),
      Some(sql("""SELECT l_orderkey, l_quantity FROM lineitem
                 |ORDER BY l_orderkey, l_quantity"""))),

    Q("scan_filter_pushdown",
      (s, dir) => Tables.table(s, dir, "lineitem")
        .filter(col("l_shipdate") >= to_timestamp(lit("1997-01-01")))
        .select(col("l_orderkey"), col("l_linenumber"),
          day(col("l_shipdate")).as("ship_day"))
        // (l_orderkey, l_linenumber) is NOT unique in the fixtures — D1
        // total order therefore spans every emitted column, so tied rows
        // are bit-identical and inter-engine tie order cannot matter.
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("ship_day")),
      Some(sql(s"""SELECT l_orderkey, l_linenumber,
                  |${sqlDay("l_shipdate")} AS ship_day
                  |FROM lineitem WHERE l_shipdate >= TIMESTAMP '1997-01-01'
                  |ORDER BY l_orderkey, l_linenumber, ship_day"""))),

    // Round-trips write nation to a temp dir in the target format and read
    // it back. SURVEY §2.1-A permits omitting the oracle (side-effecting
    // path), but a STRONGER check is available for free: a lossless
    // round-trip must reproduce the source table exactly, so the oracle is
    // simply `SELECT … FROM nation` — DuckDB never sees the temp files, it
    // sees the content they must preserve. Self-equality unit tests in
    // GraftSpec remain as the fast local check. The path is
    // Materialize's (per application and dir) and rewritten on every
    // build: the write is the operator under test.
    Q("source_csv_roundtrip",
      (s, dir) => {
        val nation = Tables.table(s, dir, "nation")
        val path = graft.Materialize.path(s, "csv", dir)
        nation.write.mode("overwrite").option("header", "true").csv(path)
        s.read.schema(nation.schema).option("header", "true").csv(path)
          .orderBy(col("n_nationkey"))
      },
      Some(sql("""SELECT n_nationkey, n_name, n_regionkey
        |FROM nation ORDER BY n_nationkey"""))),

    Q("source_json_roundtrip",
      (s, dir) => {
        val nation = Tables.table(s, dir, "nation")
        val path = graft.Materialize.path(s, "json", dir)
        nation.write.mode("overwrite").json(path)
        s.read.schema(nation.schema).json(path)
          .orderBy(col("n_nationkey"))
      },
      Some(sql("""SELECT n_nationkey, n_name, n_regionkey
        |FROM nation ORDER BY n_nationkey"""))),

    Q("source_orc_roundtrip",
      (s, dir) => {
        val nation = Tables.table(s, dir, "nation")
        val path = graft.Materialize.path(s, "orc", dir)
        nation.write.mode("overwrite").orc(path)
        s.read.schema(nation.schema).orc(path)
          .orderBy(col("n_nationkey"))
      },
      Some(sql("""SELECT n_nationkey, n_name, n_regionkey
        |FROM nation ORDER BY n_nationkey"""))),
  )
}
