package graft.operators

import graft.{Det, Q, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** §2.1-E — window functions (SURVEY.md:216-223).
  *
  * Every window ORDER BY carries a unique tie-break (D7) — `rank` /
  * `dense_rank` are the deliberate exceptions (tie-stable by definition, so
  * they order by the value alone to actually exercise tie semantics).
  * Frames are always spelled out as ROWS BETWEEN on both engines: DuckDB's
  * default frame with ORDER BY is RANGE, Spark's is ROWS — relying on
  * defaults would silently diverge. At scale a window is one shuffle on the
  * partition key; the global-order windows (moving avg over a daily series)
  * run on the already-aggregated small side.
  */
object Windows {
  import Det._

  val qs: Seq[Q] = Seq(
    Q("window_ranking",
      (s, dir) => {
        val byPrice = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_totalprice").desc)
        val byPriceUnique = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        Tables.table(s, dir, "orders")
          .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
            row_number().over(byPriceUnique).cast("long").as("rn"),
            rank().over(byPrice).cast("long").as("rnk"),
            dense_rank().over(byPrice).cast("long").as("drnk"),
            ntile(4).over(byPriceUnique).cast("long").as("quartile"))
          .orderBy(col("o_custkey"), col("rn"))
      },
      Some(sql("""SELECT o_custkey, o_orderkey, o_totalprice,
        |row_number() OVER (PARTITION BY o_custkey
        |  ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn,
        |rank() OVER (PARTITION BY o_custkey
        |  ORDER BY o_totalprice DESC) AS rnk,
        |dense_rank() OVER (PARTITION BY o_custkey
        |  ORDER BY o_totalprice DESC) AS drnk,
        |ntile(4) OVER (PARTITION BY o_custkey
        |  ORDER BY o_totalprice DESC, o_orderkey ASC) AS quartile
        |FROM orders ORDER BY o_custkey, rn"""))),

    Q("window_lag_lead",
      (s, dir) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts_us").asc, col("event_id").asc)
        Tables.table(s, dir, "events")
          .select(col("event_id"), col("user_id"),
            lag(col("event_id"), 1).over(w).as("prev_event_id"),
            lead(col("event_id"), 1).over(w).as("next_event_id"),
            (col("ts_us") - lag(col("ts_us"), 1).over(w)).as("gap_us"))
          .orderBy(col("event_id"))
      },
      Some(sql(s"""SELECT event_id, user_id,
        |lag(event_id, 1) OVER w AS prev_event_id,
        |lead(event_id, 1) OVER w AS next_event_id,
        |${sqlMicros("ts")} - lag(${sqlMicros("ts")}, 1) OVER w AS gap_us
        |FROM events
        |WINDOW w AS (PARTITION BY user_id
        |  ORDER BY ${sqlMicros("ts")} ASC, event_id ASC)
        |ORDER BY event_id"""))),

    Q("window_running_sum",
      (s, dir) => {
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        Tables.table(s, dir, "orders")
          .select(col("o_custkey"), col("o_orderkey"),
            day(col("o_orderdate")).as("order_day"),
            sum(col("o_totalprice")
              .cast(org.apache.spark.sql.types.DecimalType(18, 2))).over(w)
              .cast("double").as("running_total"))
          .orderBy(col("o_custkey"), col("o_orderkey"))
      },
      Some(sql(s"""SELECT o_custkey, o_orderkey,
        |${sqlDay("o_orderdate")} AS order_day,
        |CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
        |  PARTITION BY o_custkey
        |  ORDER BY o_orderdate ASC, o_orderkey ASC
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |  AS running_total
        |FROM orders ORDER BY o_custkey, o_orderkey"""))),

    // 7-day moving average over the pre-aggregated daily revenue series:
    // sum/count spelled out so both engines fold the same 7 doubles.
    Q("window_moving_avg",
      (s, dir) => {
        val daily = Tables.table(s, dir, "orders")
          .groupBy(day(col("o_orderdate")).as("order_day"))
          .agg(dsum(col("o_totalprice"), 2).as("day_rev"))
        val w = Window.orderBy(col("order_day").asc).rowsBetween(-6, 0)
        daily
          .select(col("order_day"), col("day_rev"),
            (sum(col("day_rev")
              .cast(org.apache.spark.sql.types.DecimalType(18, 2))).over(w)
              .cast("double") / count(lit(1)).over(w)).as("mov_avg_7d"))
          .orderBy(col("order_day"))
      },
      Some(sql(s"""WITH daily AS (
        |  SELECT ${sqlDay("o_orderdate")} AS order_day,
        |    ${sqlDsum("o_totalprice", 2)} AS day_rev
        |  FROM orders GROUP BY ${sqlDay("o_orderdate")})
        |SELECT order_day, day_rev,
        |  (CAST(sum(CAST(day_rev AS DECIMAL(18,2))) OVER w AS DOUBLE)
        |   / count(*) OVER w) AS mov_avg_7d
        |FROM daily
        |WINDOW w AS (ORDER BY order_day ASC
        |  ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
        |ORDER BY order_day"""))),

    // Cheapest / priciest supplier line per part via first/last over the
    // full frame; window order includes l_suppkey because tied
    // (price, orderkey, linenumber) rows can carry different suppliers.
    Q("window_first_last",
      (s, dir) => {
        val w = Window.partitionBy(col("l_partkey"))
          .orderBy(col("l_extendedprice").asc, col("l_orderkey").asc,
            col("l_linenumber").asc, col("l_suppkey").asc)
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        Tables.table(s, dir, "lineitem")
          .select(col("l_partkey"),
            first(col("l_suppkey")).over(w).as("cheapest_supp"),
            first(col("l_extendedprice")).over(w).as("cheapest_price"),
            last(col("l_suppkey")).over(w).as("priciest_supp"),
            last(col("l_extendedprice")).over(w).as("priciest_price"))
          .distinct()
          .orderBy(col("l_partkey"))
      },
      Some(sql("""SELECT DISTINCT l_partkey,
        |first_value(l_suppkey) OVER w AS cheapest_supp,
        |first_value(l_extendedprice) OVER w AS cheapest_price,
        |last_value(l_suppkey) OVER w AS priciest_supp,
        |last_value(l_extendedprice) OVER w AS priciest_price
        |FROM lineitem
        |WINDOW w AS (PARTITION BY l_partkey
        |  ORDER BY l_extendedprice ASC, l_orderkey ASC, l_linenumber ASC,
        |    l_suppkey ASC
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY l_partkey"""))),

    // Distribution functions: tie-stable by definition (like rank), and
    // their doubles derive from identical integer rank/count arithmetic.
    Q("window_distribution",
      (s, dir) => {
        val byPrice = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_totalprice").asc)
        Tables.table(s, dir, "orders")
          .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
            percent_rank().over(byPrice).as("pct_rank"),
            cume_dist().over(byPrice).as("cume"))
          .orderBy(col("o_custkey"), col("o_orderkey"))
      },
      Some(sql("""SELECT o_custkey, o_orderkey, o_totalprice,
        |percent_rank() OVER w AS pct_rank,
        |cume_dist() OVER w AS cume
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice ASC)
        |ORDER BY o_custkey, o_orderkey"""))),

    // Value-based RANGE frame (vs the ROWS frames above): orders within
    // 5000 of the current price. Range frames are tie-order-insensitive by
    // construction, so no tie-break is needed inside the frame.
    Q("window_range_frame",
      (s, dir) => Tables.table(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
          expr("""count(*) OVER (PARTITION BY o_custkey
            |  ORDER BY o_totalprice
            |  RANGE BETWEEN 5000 PRECEDING AND CURRENT ROW)"""
            .stripMargin).cast("long").as("cnt_in_band"))
        .orderBy(col("o_custkey"), col("o_orderkey")),
      Some(sql("""SELECT o_custkey, o_orderkey, o_totalprice,
        |count(*) OVER (PARTITION BY o_custkey ORDER BY o_totalprice
        |  RANGE BETWEEN 5000 PRECEDING AND CURRENT ROW)::BIGINT
        |  AS cnt_in_band
        |FROM orders ORDER BY o_custkey, o_orderkey"""))),

    // nth_value over a fully tie-broken frame: the 2nd-cheapest line's
    // supplier per part (NULL where a part has a single line).
    Q("window_nth_value",
      (s, dir) => {
        val w = Window.partitionBy(col("l_partkey"))
          .orderBy(col("l_extendedprice").asc, col("l_orderkey").asc,
            col("l_linenumber").asc, col("l_suppkey").asc)
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        Tables.table(s, dir, "lineitem")
          .select(col("l_partkey"),
            nth_value(col("l_suppkey"), 2).over(w).as("second_supp"),
            nth_value(col("l_extendedprice"), 2).over(w)
              .as("second_price"))
          .distinct()
          .orderBy(col("l_partkey"))
      },
      Some(sql("""SELECT DISTINCT l_partkey,
        |nth_value(l_suppkey, 2) OVER w AS second_supp,
        |nth_value(l_extendedprice, 2) OVER w AS second_price
        |FROM lineitem
        |WINDOW w AS (PARTITION BY l_partkey
        |  ORDER BY l_extendedprice ASC, l_orderkey ASC, l_linenumber ASC,
        |    l_suppkey ASC
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY l_partkey"""))),

    // Share-of-total: per-nation revenue as a fraction of the global sum
    // via an unpartitioned window over the pre-aggregated (tiny) series —
    // exact decimal sums on both levels, division on identical doubles.
    //
    // Shape (round 10): lineitem is pre-aggregated by l_suppkey BEFORE the
    // dimension join. The 10× scale sweep caught the join-first
    // formulation shuffling all of lineitem (63 MB at 10×, linear in the
    // fact table forever): Catalyst's size estimate for supplier⋈nation
    // crossed the broadcast threshold at 10× and the fact join flipped to
    // SMJ. Aggregating first makes the plan robust to that estimate —
    // the shuffle carries one (suppkey, decimal partial) row per supplier
    // regardless of fact rows, and the dim join input is supplier-bounded
    // at any SF. Decimal partials keep the two-level sum exact: per-supp
    // sums accumulate at DECIMAL(38,2) (dsumx) and the per-nation re-sum
    // of those partials is the same exact decimal arithmetic as a direct
    // one-level dsum.
    Q("window_share_of_total",
      (s, dir) => {
        val perSupp = Tables.table(s, dir, "lineitem")
          .groupBy(col("l_suppkey"))
          .agg(dsumx(col("l_extendedprice"), 2).as("rev_supp"))
        val suppDim = Tables.table(s, dir, "supplier")
          .join(broadcast(Tables.table(s, dir, "nation")),
            col("s_nationkey") === col("n_nationkey"))
          .select(col("s_suppkey"), col("n_name"))
        val perNation = perSupp
          .join(broadcast(suppDim), col("l_suppkey") === col("s_suppkey"))
          .groupBy(col("n_name"))
          .agg(sum(col("rev_supp")).cast("double").as("revenue"))
        val all = Window.rowsBetween(
          Window.unboundedPreceding, Window.unboundedFollowing)
        perNation
          .select(col("n_name"), col("revenue"),
            (col("revenue") / sum(col("revenue")
              .cast(org.apache.spark.sql.types.DecimalType(18, 2))).over(all)
              .cast("double")).as("revenue_share"))
          .orderBy(col("n_name"))
      },
      Some(sql(s"""WITH per_nation AS (
        |  SELECT n_name, ${sqlDsum("l_extendedprice", 2)} AS revenue
        |  FROM supplier
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN lineitem ON s_suppkey = l_suppkey
        |  GROUP BY n_name)
        |SELECT n_name, revenue,
        |  (revenue / CAST(sum(CAST(revenue AS DECIMAL(18,2))) OVER (
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |   AS DOUBLE)) AS revenue_share
        |FROM per_nation ORDER BY n_name"""))),

    // Planned natively: RewriteTopKPerGroup + TopKStrategy turn this
    // Window(row_number)+WindowGroupLimit shape into the two-phase heap
    // operator (graft/plans/TopKPerGroup.scala) — formulation stays
    // declarative, results bit-identical (PlanSpec proves both).
    Q("topk_per_group",
      (s, dir) => {
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        Tables.table(s, dir, "orders")
          .withColumn("rn", row_number().over(w).cast("long"))
          .filter(col("rn") <= 3)
          .select(col("o_custkey"), col("rn"), col("o_orderkey"),
            col("o_totalprice"))
          .orderBy(col("o_custkey"), col("rn"))
      },
      Some(sql("""SELECT o_custkey, rn, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
        |  FROM orders)
        |WHERE rn <= 3 ORDER BY o_custkey, rn"""))),

    // TIME-based trailing window (vs window_range_frame's value-range and
    // the ROWS frames above): trailing 7-day count/sum per event_type on
    // integer event-time µs. NOT written as
    // `rangeBetween(-7d, 0)`: Spark executes bounded sliding frames by
    // RE-AGGREGATING the whole frame for every row (SlidingWindowFunction-
    // Frame has no retract path), i.e. O(rows × frame) — measured 143 s vs
    // ~1 s at sf0.1, and unbounded-growth at 100 TB. UnboundedPreceding
    // frames ARE incremental (O(1)/row), so the trailing agg is decomposed
    // into two cumulatives: each event emits a real probe at ts and a
    // boundary probe at ts - 7d - 1µs (integer µs make "< ts-7d" exactly
    // "≤ ts-7d-1µs"); ONE tie-inclusive RANGE-cumulative window per
    // event_type prefixes count/sum at both coordinates (probes add 0);
    // a per-event_id aggregate takes the difference. Exact: decimal
    // add/subtract is lossless, and RANGE cumulatives are tie-insensitive,
    // so no tie-break column is needed.
    //
    // SCALE SHAPE (r14, VERDICT r13 task 1): the cumulative was a window
    // `partitionBy(event_type)` over 2×fact probe rows — 5 reducers each
    // sorting ~40 TB at target scale (34.6 s at 100× grown, the slowest
    // non-diagnostic key). Now a BUCKETED PREFIX SUM — the classic
    // cumulative-at-scale decomposition: partition the probe rows by
    // (event_type, day-bucket(t)) — ONE fact exchange, parallelism =
    // types × days, a domain that grows with CALENDAR TIME (a longer
    // history) rather than corpus volume — run the tie-inclusive RANGE
    // cumulative WITHIN each bucket (Spark's native frame, bucket-local
    // sort), and add each bucket's prefix offset = the running total of
    // all earlier buckets of its type, computed by a window over the
    // (type × #buckets)-sized bucket-totals aggregate (which reuses the
    // bucketed exchange — no second fact pass) and broadcast back. Ties
    // cannot span buckets (equal t ⇒ equal bucket), so the composition
    // is exactly the old per-type RANGE cumulative, bit-for-bit. A
    // first-DistRank-rewrite of this key (r14 interim) was P-way
    // parallel but moved 3.4 GB at 100× grown (distinct-coordinate
    // pre-agg + join-back = 4 fact-sized exchanges); this shape moves
    // the old plan's bytes (~0.6 GB at 100×) with bucket-domain
    // parallelism. Value arithmetic rides EXACT LONG CENTS:
    // floor(value·100 + 0.5) recovers the exact cents (value is exact at
    // 2dp — r17, the Det.units idiom; previously a decimal(28,2) snap
    // ·100 → long, same integer), and cents stay under 2⁵³ through
    // ~9e13 currency units of corpus total — the
    // final /100.0 double division is then correctly-rounded from the
    // same rational in both engines (bit-identical; oracle unchanged).
    // For a stream hot enough that one (type, day) outgrows a task,
    // tighten BUCKET_US to an hour — same algebra, 24× the parallelism.
    Q("window_time_range",
      (s, dir) => {
        val horizon = 7L * 86400L * 1000000L
        val bucketUs = 86400000000L // 1 day
        val pairs = Tables.table(s, dir, "events")
          .select(col("event_id"), col("event_type"), col("ts_us"),
            col("value"),
            explode(array(
              struct(lit(0).as("is_probe"), col("ts_us").as("t")),
              struct(lit(1).as("is_probe"),
                (col("ts_us") - horizon - 1L).as("t")))).as("e"))
          .select(col("event_id"), col("event_type"), col("ts_us"),
            col("e.is_probe").as("is_probe"), col("e.t").as("t"),
            expr(s"e.t DIV ${bucketUs}L").as("bkt"),
            // exact long cents via one double multiply + floor (r17 — the
            // Det.units idiom): value is exact at 2dp, so floor(v·100+0.5)
            // is the same integer the decimal snap produced, without the
            // per-row Double.toString→BigDecimal route
            when(col("e.is_probe") === 0,
              floor(col("value") * 100 + lit(0.5)))
              .otherwise(0L).as("vc"),
            when(col("e.is_probe") === 0, 1L).otherwise(0L).as("one"))
        val inBkt = Window.partitionBy(col("event_type"), col("bkt"))
          .orderBy(col("t"))
          .rangeBetween(Window.unboundedPreceding, Window.currentRow)
        val local = pairs.select(col("event_id"), col("event_type"),
          col("ts_us"), col("is_probe"), col("bkt"),
          sum(col("one")).over(inBkt).as("lcnt"),
          sum(col("vc")).over(inBkt).as("lsum"))
        // Bucket totals take a SECOND events scan — deliberately. Column
        // pruning makes the two consumers' subtrees unequal, so exchange
        // reuse can never fire here (the gap_fill lesson), and the two
        // single-pass alternatives are both worse at scale: aggregating
        // the window output re-runs the bucket sort as a second fact
        // exchange, and checkpointing the windowed frame materializes
        // 2×fact rows in row format. Scan #2 reads three columns and
        // map-side-combines to (type × #buckets) rows before its only
        // (tiny) exchange — at 100 TB that is a cheap columnar re-read,
        // not a shuffle. The prefix window then runs over the bucket
        // DOMAIN (grows with calendar time), never the fact.
        val offW = Window.partitionBy(col("event_type")).orderBy(col("bkt"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val offs = pairs.groupBy(col("event_type"), col("bkt"))
          .agg(sum(col("one")).as("tn"), sum(col("vc")).as("tv"))
          .select(col("event_type").as("ot"), col("bkt").as("ob"),
            coalesce(sum(col("tn")).over(offW), lit(0L)).as("ocnt"),
            coalesce(sum(col("tv")).over(offW), lit(0L)).as("osum"))
        local
          .join(broadcast(offs), col("event_type") === col("ot") &&
            col("bkt") === col("ob"))
          .select(col("event_id"), col("event_type"), col("ts_us"),
            col("is_probe"),
            (col("lcnt") + col("ocnt")).as("ccnt"),
            // 2^53 guard (ADVICE r14): the correctly-rounded /100.0 double
            // emission holds only while every cumulative stays an exact
            // double, i.e. |cents| < 2^53 (~9e13 currency units of per-type
            // corpus total). Rather than silently losing the bit-identical
            // property on a far-larger corpus, trip loudly on the exact
            // cumulative each probe row actually uses — one abs+compare
            // per row inside codegen, no extra exchange or action.
            when(abs(col("lsum") + col("osum")) >= lit(9007199254740992L),
              raise_error(lit("window_time_range: cumulative cents " +
                "reached 2^53 — the exact-double emission contract is " +
                "void at this corpus total; rescale or emit STRING cents")))
              .otherwise(col("lsum") + col("osum")).as("ccents"))
          .groupBy(col("event_id"), col("event_type"), col("ts_us"))
          .agg(
            (max(when(col("is_probe") === 0, col("ccnt")))
              - max(when(col("is_probe") === 1, col("ccnt")))).as("cnt_7d"),
            // Exact long-cents difference, emitted as double (D9): cents
            // < 2⁵³ make the /100.0 division correctly rounded from the
            // exact rational — bit-equal to both engines' decimal→double.
            ((max(when(col("is_probe") === 0, col("ccents")))
              - max(when(col("is_probe") === 1, col("ccents"))))
              / lit(100.0)).as("sum_7d"))
          .orderBy(col("event_id"))
      },
      Some(sql(s"""SELECT event_id, event_type,
        |${sqlMicros("ts")} AS ts_us,
        |count(*) OVER w AS cnt_7d,
        |CAST(sum(CAST(value AS DECIMAL(28,2))) OVER w AS DOUBLE) AS sum_7d
        |FROM events
        |WINDOW w AS (PARTITION BY event_type ORDER BY ${sqlMicros("ts")}
        |  RANGE BETWEEN 604800000000 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id"""))),
  )
}
