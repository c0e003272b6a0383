package graft.operators

import graft.{Det, Q, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** §2.1-C — joins (SURVEY.md:186-197).
  *
  * Scale strategy per key (the part the sf0.01 fixtures can't show):
  *  - dimension joins (`part`, `nation`, `region`, `supplier`) use an
  *    explicit `broadcast()` hint — at 100 TB the fact side never shuffles;
  *  - fact-fact joins (`lineitem ⋈ orders`) are hinted sort-merge — both
  *    sides shuffle-partition on the key, which AQE can re-plan to
  *    broadcast if a filter collapses one side;
  *  - the range join equi-joins on `user_id` first so the quadratic blowup
  *    is bounded per user; at larger scale bucket `ts` into coarse epochs
  *    and equi-join on (user_id, epoch ± 1) before the range residual;
  *  - the asof join is equi-join + per-left-row `row_number = 1`, the
  *    shuffle-friendly formulation of "latest at-or-before".
  */
object Joins {
  import Det._

  val qs: Seq[Q] = Seq(
    Q("join_broadcast_hash",
      (s, dir) => Tables.table(s, dir, "lineitem")
        .join(broadcast(Tables.table(s, dir, "part")),
          col("l_partkey") === col("p_partkey"))
        .select(col("l_orderkey"), col("l_linenumber"), col("p_partkey"),
          col("p_name"), col("p_brand"))
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("p_partkey"),
          col("p_name"), col("p_brand")),
      Some(sql("""SELECT l_orderkey, l_linenumber, p_partkey, p_name,
        |p_brand FROM lineitem JOIN part ON l_partkey = p_partkey
        |ORDER BY l_orderkey, l_linenumber, p_partkey, p_name, p_brand"""))),

    Q("join_sort_merge",
      (s, dir) => Tables.table(s, dir, "lineitem").hint("merge")
        .join(Tables.table(s, dir, "orders"),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_orderkey"), col("l_linenumber"),
          col("o_orderstatus"), col("l_quantity"))
        .orderBy(col("o_orderkey"), col("l_linenumber"),
          col("o_orderstatus"), col("l_quantity")),
      Some(sql("""SELECT o_orderkey, l_linenumber, o_orderstatus,
        |l_quantity FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |ORDER BY o_orderkey, l_linenumber, o_orderstatus, l_quantity"""))),

    // Shuffled hash join (third equi-join physical strategy): build a hash
    // table per partition instead of sorting — wins when one side is much
    // smaller per partition but too big to broadcast whole.
    Q("join_shuffle_hash",
      (s, dir) => Tables.table(s, dir, "supplier").hint("shuffle_hash")
        .join(Tables.table(s, dir, "lineitem"),
          col("s_suppkey") === col("l_suppkey"))
        .groupBy(col("s_suppkey"), col("s_name"))
        .agg(count(lit(1)).as("line_cnt"),
          dsum(col("l_extendedprice"), 2).as("total_price"))
        .orderBy(col("s_suppkey")),
      Some(sql(s"""SELECT s_suppkey, s_name, count(*)::BIGINT AS line_cnt,
        |${sqlDsum("l_extendedprice", 2)} AS total_price
        |FROM supplier JOIN lineitem ON s_suppkey = l_suppkey
        |GROUP BY s_suppkey, s_name ORDER BY s_suppkey"""))),

    // TPC-H Q3 shape: revenue of BUILDING-segment orders taken before a
    // date with lines shipped after it, top 10.
    Q("join_multiway_star",
      (s, dir) => Tables.table(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING")
        .join(Tables.table(s, dir, "orders"),
          col("c_custkey") === col("o_custkey"))
        .filter(col("o_orderdate") < to_timestamp(lit("1997-01-01")))
        .join(Tables.table(s, dir, "lineitem"),
          col("o_orderkey") === col("l_orderkey"))
        .filter(col("l_shipdate") > to_timestamp(lit("1997-01-01")))
        .groupBy(col("o_orderkey"), col("o_orderdate"))
        .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4)
          .as("revenue"))
        .select(col("o_orderkey"), day(col("o_orderdate")).as("order_day"),
          col("revenue"))
        .orderBy(col("revenue").desc, col("o_orderkey"))
        .limit(10),
      Some(sql(s"""SELECT o_orderkey, ${sqlDay("o_orderdate")} AS order_day,
        |${sqlDsum("l_extendedprice * (1 - l_discount)", 4)} AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |  AND l_shipdate > TIMESTAMP '1997-01-01'
        |GROUP BY o_orderkey, o_orderdate
        |ORDER BY revenue DESC, o_orderkey LIMIT 10"""))),

    Q("join_left_outer",
      (s, dir) => Tables.table(s, dir, "customer")
        .join(Tables.table(s, dir, "orders"),
          col("c_custkey") === col("o_custkey")
            && col("o_orderpriority") === "1-URGENT",
          "left_outer")
        .groupBy(col("c_custkey"), col("c_name"))
        .agg(count(col("o_orderkey")).as("urgent_cnt"))
        .orderBy(col("c_custkey")),
      Some(sql("""SELECT c_custkey, c_name,
        |count(o_orderkey)::BIGINT AS urgent_cnt
        |FROM customer LEFT JOIN orders
        |  ON c_custkey = o_custkey AND o_orderpriority = '1-URGENT'
        |GROUP BY c_custkey, c_name ORDER BY c_custkey"""))),

    // Asymmetric inputs (region-0 nations vs negative-balance suppliers) so
    // both null sides of the full outer join are actually exercised; keys
    // coalesced to sentinels to keep the total order null-free (D1).
    Q("join_full_outer",
      (s, dir) => Tables.table(s, dir, "nation")
        .filter(col("n_regionkey") === 0)
        .join(Tables.table(s, dir, "supplier")
            .filter(col("s_acctbal") < 0),
          col("n_nationkey") === col("s_nationkey"), "full_outer")
        .select(
          coalesce(col("n_nationkey"), col("s_nationkey")).as("nationkey"),
          coalesce(col("n_name"), lit("(none)")).as("nation_name"),
          coalesce(col("s_suppkey"), lit(-1L)).as("suppkey"),
          coalesce(col("s_name"), lit("(none)")).as("supplier_name"))
        .orderBy(col("nationkey"), col("suppkey")),
      Some(sql("""SELECT
        |coalesce(n_nationkey, s_nationkey) AS nationkey,
        |coalesce(n_name, '(none)') AS nation_name,
        |coalesce(s_suppkey, CAST(-1 AS BIGINT)) AS suppkey,
        |coalesce(s_name, '(none)') AS supplier_name
        |FROM (SELECT * FROM nation WHERE n_regionkey = 0) n
        |FULL OUTER JOIN (SELECT * FROM supplier WHERE s_acctbal < 0) s
        |  ON n_nationkey = s_nationkey
        |ORDER BY nationkey, suppkey"""))),

    Q("join_left_semi",
      (s, dir) => Tables.table(s, dir, "customer")
        .join(Tables.table(s, dir, "orders")
            .filter(col("o_orderpriority") === "1-URGENT"),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey")),
      Some(sql("""SELECT c_custkey, c_name FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |  WHERE o.o_custkey = c.c_custkey
        |    AND o.o_orderpriority = '1-URGENT')
        |ORDER BY c_custkey"""))),

    Q("join_left_anti",
      (s, dir) => Tables.table(s, dir, "customer")
        .join(Tables.table(s, dir, "orders")
            .filter(col("o_totalprice") > 400000),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey")),
      Some(sql("""SELECT c_custkey, c_name FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o
        |  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
        |ORDER BY c_custkey"""))),

    Q("join_cross_theta",
      (s, dir) => Tables.table(s, dir, "region")
        .crossJoin(Tables.table(s, dir, "nation"))
        .filter(col("r_regionkey") < col("n_regionkey"))
        .select(col("r_regionkey"), col("r_name"), col("n_nationkey"),
          col("n_name"))
        .orderBy(col("r_regionkey"), col("n_nationkey")),
      Some(sql("""SELECT r_regionkey, r_name, n_nationkey, n_name
        |FROM region, nation WHERE r_regionkey < n_regionkey
        |ORDER BY r_regionkey, n_nationkey"""))),

    // Pairs of events by the same user within 24 hours — equi on user_id,
    // range residual on the exact integer-µs event time.
    Q("join_range_interval",
      (s, dir) => {
        val e = Tables.table(s, dir, "events")
          .select(col("event_id"), col("user_id"), col("ts_us"))
        val a = e.select(col("event_id").as("a_event_id"),
          col("user_id").as("user_id"), col("ts_us").as("a_us"))
        val b = e.select(col("event_id").as("b_event_id"),
          col("user_id").as("b_user_id"), col("ts_us").as("b_us"))
        // merge hint (r16): below the broadcast threshold the planner put
        // the whole pair fan-out + filter on the probe side of a
        // BroadcastHashJoin — i.e. inside the single-split scan stage,
        // one task at fixture SF — while every grown SF flips to SMJ
        // anyway (events outgrows the threshold). Pinning SMJ makes the
        // fixture run the SAME plan the scale runs, and the fan-out
        // parallelizes across the user_id exchange; both sides are one
        // canonical projection of events, so exchange reuse ships the
        // table once.
        a.hint("merge").join(b, col("user_id") === col("b_user_id")
            && col("a_us") < col("b_us")
            && col("b_us") <= col("a_us") + lit(86400000000L))
          .select(col("user_id"), col("a_event_id"), col("b_event_id"),
            (col("b_us") - col("a_us")).as("gap_us"))
          .orderBy(col("user_id"), col("a_event_id"), col("b_event_id"))
      },
      Some(sql(s"""SELECT a.user_id, a.event_id AS a_event_id,
        |b.event_id AS b_event_id,
        |${sqlMicros("b.ts")} - ${sqlMicros("a.ts")} AS gap_us
        |FROM events a JOIN events b
        |  ON a.user_id = b.user_id
        |  AND ${sqlMicros("a.ts")} < ${sqlMicros("b.ts")}
        |  AND ${sqlMicros("b.ts")} <= ${sqlMicros("a.ts")} + 86400000000
        |ORDER BY a.user_id, a_event_id, b_event_id"""))),

    // As-of: for each event, the user's latest order at-or-before the event
    // time. "Latest" = the lexicographic max of (o_orderdate, o_orderkey).
    // Orders are first reduced to one row per (o_custkey, d_us) keeping
    // max(o_orderkey), so d_us is unique per customer and
    // max_by(o_orderkey, d_us) per event sees no ties: it returns exactly
    // that lexicographic max. Both of max_by's buffers and max(d_us)'s are
    // longs, so the per-event reduction plans as a HASH aggregate whose
    // partial side collapses each event's qualifying orders map-side (a
    // max over a struct has no fixed-width buffer and planned a
    // SortAggregate that sorted the whole event x order fan-out).
    // DuckDB's native ASOF JOIN breaks o_orderdate ties arbitrarily, so
    // the oracle keeps the deterministic window formulation.
    Q("join_asof",
      (s, dir) => {
        val e = Tables.table(s, dir, "events")
          .select(col("event_id"), col("user_id"), col("ts_us"))
        // o_orderdate is TIMESTAMP_NTZ; session tz is UTC, so this cast is
        // the identity mapping to the instant DuckDB's epoch_us sees.
        val o = Tables.table(s, dir, "orders")
          .groupBy(col("o_custkey"),
            unix_micros(col("o_orderdate").cast("timestamp")).as("d_us"))
          .agg(max(col("o_orderkey")).as("o_orderkey"))
        // merge hint (r16): same rationale as join_range_interval — the
        // broadcast plan ran the event×order fan-out + partial agg
        // single-task inside the one-split events scan at fixture SF,
        // while grown SFs flip to SMJ regardless (orders outgrows the
        // threshold; the 300× gate ran this key as SMJ). The hint aligns
        // the fixture plan with the scale plan and parallelizes the
        // fan-out across the custkey exchange.
        e.hint("merge").join(o, col("user_id") === col("o_custkey")
            && col("d_us") <= col("ts_us"))
          .groupBy(col("event_id"), col("user_id"))
          .agg(max_by(col("o_orderkey"), col("d_us")).as("o_orderkey"),
            max(col("d_us")).as("d_us"))
          .select(col("event_id"), col("user_id"), col("o_orderkey"),
            day(timestamp_micros(col("d_us"))).as("order_day"))
          .orderBy(col("event_id"))
      },
      Some(sql(s"""SELECT event_id, user_id, o_orderkey, order_day FROM (
        |  SELECT e.event_id, e.user_id, o.o_orderkey,
        |    ${sqlDay("o.o_orderdate")} AS order_day,
        |    row_number() OVER (PARTITION BY e.event_id
        |      ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
        |  FROM events e JOIN orders o
        |    ON e.user_id = o.o_custkey
        |    AND epoch_us(o.o_orderdate) <= ${sqlMicros("e.ts")})
        |WHERE rn = 1 ORDER BY event_id"""))),

    // As-of join with a staleness tolerance — the repeat-purchase shape:
    // each order joined to the SAME customer's latest strictly-earlier
    // order at most 90 days old; orders with no prior purchase in the
    // window drop out (inner semantics). Same max-struct aggregation as
    // join_asof, but the tolerance tightens the interval predicate, which
    // SHRINKS the join intermediate (per probe row only a 90-day band of
    // the build side qualifies) — at 100 TB strictly cheaper than
    // unbounded as-of. Strict `<` on the date excludes same-day pairs, so
    // the latest-prior choice is deterministic without an intra-day
    // ordering assumption.
    // Both self-join sides are ONE canonical projection of orders
    // (aliased, not re-projected): above the broadcast threshold the
    // join becomes an SMJ whose two custkey exchanges then canonicalize
    // identically, so Spark's exchange reuse ships the table ONCE — the
    // 10× grown sweep measured the two-projection shape at 2× the fact
    // bytes (28.9× per-row vs the sf0.1 broadcast-plan base; one shared
    // exchange brings the post-flip growth back inside the linear gate).
    Q("join_asof_tolerance",
      (s, dir) => {
        val tolUs = 90L * 86400L * 1000000L
        // exactly the 3 columns BOTH sides consume: column pruning must
        // not diverge the sides or their exchanges stop canonicalizing
        // equal (prev_day therefore derives from d_us, not o_orderdate —
        // the same instant under the pinned UTC session)
        val o2 = Tables.table(s, dir, "orders")
          .select(col("o_orderkey").as("orderkey"),
            col("o_custkey").as("custkey"),
            unix_micros(col("o_orderdate").cast("timestamp")).as("d_us"))
        val a = o2.alias("a")
        val b = o2.alias("b")
        a.join(b, col("a.custkey") === col("b.custkey")
            && col("b.d_us") < col("a.d_us")
            && col("b.d_us") >= col("a.d_us") - tolUs)
          .groupBy(col("a.orderkey").as("orderkey"),
            col("a.custkey").as("custkey"))
          .agg(max(struct(col("b.d_us").as("d_us"),
            col("b.orderkey").as("prev_orderkey"))).as("m"))
          .select(col("orderkey"), col("custkey"),
            col("m.prev_orderkey").as("prev_orderkey"),
            day(timestamp_micros(col("m.d_us"))).as("prev_day"))
          .orderBy(col("orderkey"))
      },
      Some(sql(s"""SELECT orderkey, custkey, prev_orderkey, prev_day FROM (
        |  SELECT a.o_orderkey AS orderkey, a.o_custkey AS custkey,
        |    b.o_orderkey AS prev_orderkey,
        |    ${sqlDay("b.o_orderdate")} AS prev_day,
        |    row_number() OVER (PARTITION BY a.o_orderkey
        |      ORDER BY b.o_orderdate DESC, b.o_orderkey DESC) AS rn
        |  FROM orders a JOIN orders b
        |    ON a.o_custkey = b.o_custkey
        |    AND epoch_us(b.o_orderdate) < epoch_us(a.o_orderdate)
        |    AND epoch_us(b.o_orderdate) >= epoch_us(a.o_orderdate)
        |      - ${90L * 86400L * 1000000L})
        |WHERE rn = 1 ORDER BY orderkey"""))),

    // Salted skew join: the 100-TB pattern for a hot key in a SHUFFLE
    // join. The fact side gets a row-derived salt in 0..7; the dimension
    // is replicated 8× (one copy per salt); the join is hinted
    // shuffle_hash so both sides hash-partition on (key, salt) — one hot
    // supplier's rows land on 8 different reducers instead of melting
    // one. (With a broadcast join salting would be inert: there is no
    // key-shuffle to spread.) Semantically identical to the plain join —
    // the oracle IS the plain join — while the Spark plan carries the
    // salted shape (PlanSpec pins the salted partitioning keys).
    Q("join_skew_salted",
      (s, dir) => {
        val salts = 8
        val li = Tables.table(s, dir, "lineitem")
          .withColumn("salt", pmod(col("l_orderkey"), lit(salts.toLong)))
        val sup = Tables.table(s, dir, "supplier")
          .crossJoin(broadcast(
            s.range(salts).select(col("id").as("salt_rep"))))
        li.join(sup.hint("shuffle_hash"),
            col("l_suppkey") === col("s_suppkey")
            && col("salt") === col("salt_rep"))
          .groupBy(col("s_suppkey"), col("s_name"))
          .agg(dsum(col("l_extendedprice"), 2).as("revenue"),
            count(lit(1)).as("line_cnt"))
          .orderBy(col("s_suppkey"))
      },
      Some(sql(s"""SELECT s_suppkey, s_name,
        |${sqlDsum("l_extendedprice", 2)} AS revenue,
        |count(*)::BIGINT AS line_cnt
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY s_suppkey, s_name ORDER BY s_suppkey"""))),

    // Null-safe equality join (`<=>` ↔ IS NOT DISTINCT FROM): NULL keys
    // match each OTHER instead of matching nothing — the semantics a
    // late-arriving-dimension or sentinel-key pipeline needs. The fixtures
    // have no NULL keys, so both sides null out nationkeys {3,4}: each
    // null-keyed supplier then matches BOTH null-keyed nations (4 nations
    // at sf0.01), a result a plain equi-join cannot produce. EqualNullSafe
    // is still an equi-join condition for Catalyst — this plans as a
    // broadcast/sort-merge HASH join (NULL hashes like any value), never a
    // nested loop; at 100 TB the null group is a deliberate hot key and
    // would be bounded or salted like any other.
    Q("join_null_safe",
      (s, dir) => {
        val nat = Tables.table(s, dir, "nation")
          .select(when(col("n_nationkey").isin(3, 4), lit(null))
            .otherwise(col("n_nationkey")).as("nk"), col("n_name"))
        val sup = Tables.table(s, dir, "supplier")
          .select(when(col("s_nationkey").isin(3, 4), lit(null))
            .otherwise(col("s_nationkey")).as("sk"),
            col("s_suppkey"), col("s_name"))
        sup.join(broadcast(nat), col("sk") <=> col("nk"))
          .select(col("s_suppkey"), col("s_name"), col("n_name"),
            coalesce(col("sk"), lit(-1)).as("nk0"))
          .orderBy(col("s_suppkey"), col("n_name"))
      },
      Some(sql("""SELECT s_suppkey, s_name, n_name,
        |coalesce(sk, -1) AS nk0 FROM
        |(SELECT s_suppkey, s_name,
        |   CASE WHEN s_nationkey IN (3, 4) THEN NULL
        |        ELSE s_nationkey END AS sk FROM supplier) s
        |JOIN
        |(SELECT CASE WHEN n_nationkey IN (3, 4) THEN NULL
        |        ELSE n_nationkey END AS nk, n_name FROM nation) n
        |ON s.sk IS NOT DISTINCT FROM n.nk
        |ORDER BY s_suppkey, n_name"""))),
  )
}
