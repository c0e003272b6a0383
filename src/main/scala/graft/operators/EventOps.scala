package graft.operators

import graft.{Det, Q, Tables}
import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** §2.1-H — event-stream / time-series operators, batch formulations
  * (SURVEY.md:254-261). Streaming twins live in
  * [[graft.streaming.StreamOps]] — Verify is batch-only, so only the batch
  * shapes are oracle-declared.
  *
  * Event time is the exact integer-µs `ts_us` derived in [[Tables.events]];
  * raw timestamps are never emitted (SURVEY §7.4 R1). Sessionization is the
  * classic gap-flag + running-sum-over-window shape — one shuffle on
  * user_id; at 100 TB this is the formulation that scales because state per
  * key is O(1), unlike collect-and-sort-per-user.
  */
object EventOps {
  import Det._

  val qs: Seq[Q] = Seq(
    Q("events_tumbling_window",
      (s, dir) => Tables.table(s, dir, "events")
        .groupBy(window(col("ts_t"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("cnt"), dsum(col("value"), 2).as("sum_value"))
        .select(second(col("w.start")).as("hour_start"), col("event_type"),
          col("cnt"), col("sum_value"))
        .transform(df => Det.orderedDomain(df,
          col("hour_start"), col("event_type"))),
      Some(sql(s"""SELECT
        |${sqlSecond("date_trunc('hour', ts::TIMESTAMP)")} AS hour_start,
        |event_type, count(*)::BIGINT AS cnt,
        |${sqlDsum("value", 2)} AS sum_value
        |FROM events
        |GROUP BY date_trunc('hour', ts::TIMESTAMP), event_type
        |ORDER BY hour_start, event_type"""))),

    // 1-hour windows sliding every 15 min: each event lands in exactly 4
    // windows; the oracle materializes the 4 bucket offsets explicitly
    // (DuckDB has no sliding window primitive).
    Q("events_sliding_window",
      (s, dir) => Tables.table(s, dir, "events")
        .groupBy(window(col("ts_t"), "1 hour", "15 minutes").as("w"))
        .agg(count(lit(1)).as("cnt"), dsum(col("value"), 2).as("sum_value"))
        .select(second(col("w.start")).as("window_start"), col("cnt"),
          col("sum_value"))
        .transform(df => Det.orderedDomain(df, col("window_start"))),
      Some(sql(s"""SELECT
        |${sqlSecond("time_bucket(INTERVAL 15 MINUTE, ts::TIMESTAMP) " +
          "- k * INTERVAL 15 MINUTE")} AS window_start,
        |count(*)::BIGINT AS cnt,
        |${sqlDsum("value", 2)} AS sum_value
        |FROM events, (SELECT unnest([0, 1, 2, 3]) AS k)
        |GROUP BY time_bucket(INTERVAL 15 MINUTE, ts::TIMESTAMP)
        |  - k * INTERVAL 15 MINUTE
        |ORDER BY window_start"""))),

    Q("events_sessionization",
      (s, dir) => {
        val byTime = Window.partitionBy(col("user_id"))
          .orderBy(col("ts_us").asc, col("event_id").asc)
        val gapUs = 30L * 60 * 1000000
        Tables.table(s, dir, "events")
          .withColumn("new_session",
            when(col("ts_us") - lag(col("ts_us"), 1).over(byTime) > gapUs
              || lag(col("ts_us"), 1).over(byTime).isNull, 1L).otherwise(0L))
          .withColumn("session_id", sum(col("new_session")).over(
            byTime.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .groupBy(col("user_id"), col("session_id"))
          .agg(count(lit(1)).as("ev_cnt"),
            (max(col("ts_us")) - min(col("ts_us"))).as("span_us"),
            dsum(col("value"), 2).as("sum_value"))
          .orderBy(col("user_id"), col("session_id"))
      },
      Some(sql(s"""WITH flagged AS (
        |  SELECT user_id, event_id, value, ${sqlMicros("ts")} AS us,
        |    CASE WHEN ${sqlMicros("ts")}
        |           - lag(${sqlMicros("ts")}, 1) OVER w > ${30L * 60 * 1000000}
        |         OR lag(${sqlMicros("ts")}, 1) OVER w IS NULL
        |      THEN 1 ELSE 0 END AS new_session
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id
        |    ORDER BY ${sqlMicros("ts")} ASC, event_id ASC)),
        |sessions AS (
        |  SELECT user_id, value, us,
        |    CAST(sum(new_session) OVER (PARTITION BY user_id
        |      ORDER BY us ASC, event_id ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS session_id
        |  FROM flagged)
        |SELECT user_id, session_id, count(*)::BIGINT AS ev_cnt,
        |  (max(us) - min(us))::BIGINT AS span_us,
        |  ${sqlDsum("value", 2)} AS sum_value
        |FROM sessions GROUP BY user_id, session_id
        |ORDER BY user_id, session_id"""))),

    Q("events_dedup_latest",
      (s, dir) => {
        val w = Window.partitionBy(col("user_id"), col("event_type"))
          .orderBy(col("ts_us").desc, col("event_id").desc)
        Tables.table(s, dir, "events")
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("user_id"), col("event_type"), col("event_id"),
            col("ts_us").as("latest_us"), col("value"))
          .orderBy(col("user_id"), col("event_type"))
      },
      Some(sql(s"""SELECT user_id, event_type, event_id, latest_us, value
        |FROM (
        |  SELECT user_id, event_type, event_id,
        |    ${sqlMicros("ts")} AS latest_us, value,
        |    row_number() OVER (PARTITION BY user_id, event_type
        |      ORDER BY ${sqlMicros("ts")} DESC, event_id DESC) AS rn
        |  FROM events)
        |WHERE rn = 1 ORDER BY user_id, event_type"""))),

    // Sequence detection: users whose first view < first click < first
    // purchase — conditional min-aggregation, one shuffle on user_id.
    Q("events_funnel",
      (s, dir) => Tables.table(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(
          min(when(col("event_type") === "view", col("ts_us"))).as("v_us"),
          min(when(col("event_type") === "click", col("ts_us"))).as("c_us"),
          min(when(col("event_type") === "purchase", col("ts_us")))
            .as("p_us"))
        .filter(col("v_us") < col("c_us") && col("c_us") < col("p_us"))
        .orderBy(col("user_id")),
      Some(sql(s"""SELECT user_id,
        |min(CASE WHEN event_type = 'view' THEN ${sqlMicros("ts")} END)
        |  AS v_us,
        |min(CASE WHEN event_type = 'click' THEN ${sqlMicros("ts")} END)
        |  AS c_us,
        |min(CASE WHEN event_type = 'purchase' THEN ${sqlMicros("ts")} END)
        |  AS p_us
        |FROM events GROUP BY user_id
        |HAVING v_us < c_us AND c_us < p_us
        |ORDER BY user_id"""))),

    // Per-user z-score of event values (feature standardization): mean
    // and population variance from exact decimal window sums over the
    // user's full frame — identical doubles feed the same (v-mu)/sigma.
    Q("events_zscore",
      (s, dir) => {
        val u = Window.partitionBy(col("user_id"))
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        Tables.table(s, dir, "events")
          .withColumn("n", count(lit(1)).over(u))
          .withColumn("s1", sum(col("value")
            .cast(org.apache.spark.sql.types.DecimalType(18, 2))).over(u)
            .cast("double"))
          .withColumn("s2", sum((col("value") * col("value"))
            .cast(org.apache.spark.sql.types.DecimalType(18, 4))).over(u)
            .cast("double"))
          .withColumn("mu", col("s1") / col("n"))
          .withColumn("sigma",
            sqrt((col("s2") - col("s1") * col("s1") / col("n")) / col("n")))
          .filter(col("n") >= 2 && col("sigma") > 0)
          .select(col("event_id"), col("user_id"), col("value"),
            ((col("value") - col("mu")) / col("sigma")).as("zscore"))
          .orderBy(col("event_id"))
      },
      Some(sql("""SELECT event_id, user_id, value,
        |((value - s1 / n) /
        | sqrt((s2 - s1 * s1 / n) / n)) AS zscore
        |FROM (
        |  SELECT event_id, user_id, value,
        |    count(*) OVER u AS n,
        |    CAST(CAST(sum(CAST(value AS DECIMAL(18,2))) OVER u AS VARCHAR)
        |      AS DOUBLE) AS s1,
        |    CAST(CAST(sum(CAST(value * value AS DECIMAL(18,4))) OVER u
        |      AS VARCHAR) AS DOUBLE) AS s2
        |  FROM events
        |  WINDOW u AS (PARTITION BY user_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING))
        |WHERE n >= 2 AND sqrt((s2 - s1 * s1 / n) / n) > 0
        |ORDER BY event_id"""))),

    // Daily active users + event volume — the dashboard staple.
    Q("events_daily_active",
      (s, dir) => Tables.table(s, dir, "events")
        .groupBy(day(col("ts_t")).as("day"))
        .agg(countDistinct(col("user_id")).as("dau"),
          count(lit(1)).as("events"),
          dsum(col("value"), 2).as("day_value"))
        .transform(df => Det.orderedDomain(df, col("day"))),
      Some(sql(s"""SELECT ${sqlDay("ts::TIMESTAMP")} AS day,
        |count(DISTINCT user_id)::BIGINT AS dau,
        |count(*)::BIGINT AS events,
        |${sqlDsum("value", 2)} AS day_value
        |FROM events GROUP BY ${sqlDay("ts::TIMESTAMP")}
        |ORDER BY day"""))),

    // Last-touch attribution: each purchase attributed to the user's most
    // recent STRICTLY-PRIOR view (frame ends 1 row before current) —
    // conditional max over a trailing frame, one shuffle on user_id.
    Q("events_attribution",
      (s, dir) => {
        val trail = Window.partitionBy(col("user_id"))
          .orderBy(col("ts_us").asc, col("event_id").asc)
          .rowsBetween(Window.unboundedPreceding, -1)
        Tables.table(s, dir, "events")
          .withColumn("last_view_us",
            max(when(col("event_type") === "view", col("ts_us"))).over(trail))
          .filter(col("event_type") === "purchase"
            && col("last_view_us").isNotNull)
          .select(col("user_id"), col("event_id"),
            col("ts_us").as("purchase_us"), col("last_view_us"),
            (col("ts_us") - col("last_view_us")).as("view_to_buy_us"))
          .orderBy(col("user_id"), col("event_id"))
      },
      Some(sql(s"""SELECT user_id, event_id, purchase_us, last_view_us,
        |(purchase_us - last_view_us) AS view_to_buy_us FROM (
        |  SELECT user_id, event_id, event_type,
        |    ${sqlMicros("ts")} AS purchase_us,
        |    max(CASE WHEN event_type = 'view' THEN ${sqlMicros("ts")} END)
        |      OVER (PARTITION BY user_id
        |        ORDER BY ${sqlMicros("ts")} ASC, event_id ASC
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS last_view_us
        |  FROM events)
        |WHERE event_type = 'purchase' AND last_view_us IS NOT NULL
        |ORDER BY user_id, event_id"""))),

    // Weekly cohort retention: users active in ISO week w who are also
    // active in week w+1 (both engines truncate weeks to Monday).
    Q("events_retention",
      (s, dir) => {
        val uw = Tables.table(s, dir, "events")
          .select(col("user_id"),
            date_trunc("week", col("ts_t")).as("wk"))
          .distinct()
        // Week-over-week retention via ONE lead window instead of the
        // oracle's self-join (r17, guide §2.3/§2.4): uw is distinct per
        // (user, week), so the user's next active week is lead(wk) and
        // "has a wk+7 row" ⟺ lead(wk) = wk + 7d — the join evaluated
        // the whole distinct subtree twice and matched at most one row.
        // The aggregate then needs no count(DISTINCT …) (each user
        // appears once per week group by construction), which deletes
        // the Expand-based two-column multi-distinct: count(*) is
        // active_users and counting the retained flag is
        // retained_users; count skips the NULL lead of each user's
        // last week exactly like countDistinct skipped the unmatched
        // join's NULLs. Values identical; oracle keeps the self-join.
        uw.withColumn("retained",
            lead(col("wk"), 1).over(Window.partitionBy(col("user_id"))
              .orderBy(col("wk")))
              === col("wk") + expr("INTERVAL 7 DAYS"))
          .groupBy(day(col("wk")).as("week_start"))
          .agg(count(lit(1)).as("active_users"),
            count(when(col("retained"), lit(1))).as("retained_users"))
          .transform(df => Det.orderedDomain(df, col("week_start")))
      },
      Some(sql(s"""WITH uw AS (
        |  SELECT DISTINCT user_id,
        |    date_trunc('week', ts::TIMESTAMP) AS wk
        |  FROM events)
        |SELECT ${sqlDay("uw.wk")} AS week_start,
        |  count(DISTINCT uw.user_id)::BIGINT AS active_users,
        |  count(DISTINCT nxt.user_id)::BIGINT AS retained_users
        |FROM uw LEFT JOIN uw nxt
        |  ON uw.user_id = nxt.user_id
        |  AND nxt.wk = uw.wk + INTERVAL 7 DAY
        |GROUP BY uw.wk ORDER BY week_start"""))),

    Q("events_json_enrich",
      (s, dir) => Tables.table(s, dir, "events")
        .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
        .join(broadcast(Tables.table(s, dir, "customer")),
          col("user_id") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("cnt"), sum(col("k")).as("sum_k"),
          dsum(col("value"), 2).as("sum_value"))
        .transform(df => Det.orderedDomain(df, col("c_mktsegment"))),
      Some(sql(s"""SELECT c_mktsegment, count(*)::BIGINT AS cnt,
        |CAST(sum(CAST(json_extract(props, '$$.k') AS BIGINT)) AS BIGINT)
        |  AS sum_k,
        |${sqlDsum("value", 2)} AS sum_value
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment"""))),

    // Robust per-user outlier flagging: |value − median| > 3·MAD. Median
    // and MAD interpolate identically in both engines on identical 2dp
    // doubles ((a+b)/2 is a single add + exact halving — no libm, no fma
    // pattern — so the raw comparison is deterministic; same class as
    // events_zscore). Two grouped medians + two broadcast-size joins; at
    // 100 TB the per-user aggregates are tiny next to the event scan.
    Q("events_anomaly_mad",
      (s, dir) => {
        val e = Tables.table(s, dir, "events")
          .select(col("event_id"), col("user_id"), col("value"))
        val med = e.groupBy(col("user_id"))
          .agg(median(col("value")).as("med"), count(lit(1)).as("n"))
        // merge hints (r16): at fixture SF both joins went broadcast,
        // putting the whole enrich+filter on the single-split scan's one
        // task; at corpus scale the per-user frames outgrow the broadcast
        // threshold and the planner flips to SMJ anyway. Pinning SMJ runs
        // the same plan at every SF, and all three frames key on user_id,
        // so the exchanges canonicalize and reuse.
        val withMed = e.hint("merge").join(med, "user_id")
          .withColumn("absdev", abs(col("value") - col("med")))
        val mad = withMed.groupBy(col("user_id"))
          .agg(median(col("absdev")).as("mad"))
        withMed.hint("merge").join(mad, "user_id")
          .filter(col("n") >= 5 && col("absdev") > col("mad") * 3.0)
          // med interpolates 2dp values → exact 3dp multiple; absdev/mad
          // → exact 4dp multiple. Snap (dexact), don't round: the values
          // sit ~1e-12 from their decimal, never near a snap boundary.
          .select(col("event_id"), col("user_id"), col("value"),
            dexact(col("med"), 3).as("med_d3"),
            dexact(col("mad"), 4).as("mad_d4"))
          .orderBy(col("event_id"))
      },
      Some(sql(s"""WITH med AS (
        |  SELECT user_id, median(value) AS med, count(*)::BIGINT AS n
        |  FROM events GROUP BY user_id),
        |wm AS (
        |  SELECT e.event_id, e.user_id, e.value, m.med, m.n,
        |    abs(e.value - m.med) AS absdev
        |  FROM events e JOIN med m USING (user_id)),
        |mad AS (SELECT user_id, median(absdev) AS mad
        |        FROM wm GROUP BY user_id)
        |SELECT event_id, user_id, value,
        |  ${sqlDexact("med", 3)} AS med_d3, ${sqlDexact("mad", 4)} AS mad_d4
        |FROM wm JOIN mad USING (user_id)
        |WHERE n >= 5 AND absdev > 3 * mad
        |ORDER BY event_id"""))),

    // First-order Markov transition matrix over each user's event-type
    // sequence: P(to | from) estimated as exact counts + one double
    // division (deterministic on identical longs). lead() over the D7
    // total order; transition counting is one window pass + one groupBy.
    Q("events_markov_transitions",
      (s, dir) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts_us"), col("event_id"))
        val trans = Tables.table(s, dir, "events")
          .select(col("user_id"), col("event_type"), col("ts_us"),
            col("event_id"))
          .withColumn("to_type", lead(col("event_type"), 1).over(w))
          .filter(col("to_type").isNotNull)
          .groupBy(col("event_type").as("from_type"), col("to_type"))
          .agg(count(lit(1)).as("cnt"))
        // row-total via a window over the tiny transition relation — a
        // groupBy-then-self-join would recompute the events scan + lead
        // pass twice
        trans
          .withColumn("from_total", sum(col("cnt")).over(
            Window.partitionBy(col("from_type"))))
          .select(col("from_type"), col("to_type"), col("cnt"),
            (col("cnt").cast("double") / col("from_total")).as("prob"))
          .transform(df => Det.orderedDomain(df,
            col("from_type"), col("to_type")))
      },
      Some(sql(s"""WITH seq AS (
        |  SELECT user_id, event_type,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ${sqlMicros("ts")}, event_id) AS to_type
        |  FROM events),
        |trans AS (
        |  SELECT event_type AS from_type, to_type, count(*)::BIGINT AS cnt
        |  FROM seq WHERE to_type IS NOT NULL GROUP BY 1, 2),
        |totals AS (
        |  SELECT from_type, CAST(sum(cnt) AS BIGINT) AS from_total
        |  FROM trans GROUP BY from_type)
        |SELECT from_type, to_type, cnt,
        |  (CAST(cnt AS DOUBLE) / from_total) AS prob
        |FROM trans JOIN totals USING (from_type)
        |ORDER BY from_type, to_type"""))),

    // SCD type-2 from a change stream: collapse each user's event_type
    // history into validity intervals [valid_from_us, valid_to_us) — the
    // CDC→dimension materialization every warehouse pipeline runs. Two
    // windows: change-point detection via lag over the raw stream, then
    // lead over the surviving change points for interval ends. Total order
    // (ts_us, event_id) makes tie handling deterministic (D7); the open
    // interval's valid_to_us is NULL.
    Q("events_scd2",
      (s, dir) => {
        val e = Tables.table(s, dir, "events")
          .select(col("user_id"), col("event_type"), col("ts_us"),
            col("event_id"))
        val wAll = Window.partitionBy(col("user_id"))
          .orderBy(col("ts_us"), col("event_id"))
        val changes = e
          .withColumn("prev_type", lag(col("event_type"), 1).over(wAll))
          .filter(col("prev_type").isNull
            || col("prev_type") =!= col("event_type"))
        val wChg = Window.partitionBy(col("user_id"))
          .orderBy(col("ts_us"), col("event_id"))
        changes
          .withColumn("version", row_number().over(wChg).cast("long"))
          .withColumn("valid_to_us", lead(col("ts_us"), 1).over(wChg))
          .select(col("user_id"), col("version"), col("event_type"),
            col("ts_us").as("valid_from_us"), col("valid_to_us"))
          .orderBy(col("user_id"), col("version"))
      },
      Some(sql(s"""WITH e AS (
        |  SELECT user_id, event_type, ${sqlMicros("ts")} AS ts_us, event_id
        |  FROM events),
        |chg AS (
        |  SELECT * FROM (
        |    SELECT user_id, event_type, ts_us, event_id,
        |      lag(event_type) OVER (PARTITION BY user_id
        |        ORDER BY ts_us, event_id) AS prev_type
        |    FROM e)
        |  WHERE prev_type IS NULL OR prev_type <> event_type)
        |SELECT user_id,
        |  row_number() OVER (PARTITION BY user_id
        |    ORDER BY ts_us, event_id)::BIGINT AS version,
        |  event_type, ts_us AS valid_from_us,
        |  lead(ts_us) OVER (PARTITION BY user_id
        |    ORDER BY ts_us, event_id) AS valid_to_us
        |FROM chg ORDER BY user_id, version"""))),

    // User-journey path mining: each user's first 5 events (by time,
    // event_id tiebreak) joined into a '>'-path, then the 20 most common
    // paths. Deterministic end to end: the per-user prefix is windowed
    // with a total order, the path string is assembled from the
    // rank-sorted collect (agg_collect_sorted's D4 discipline), and the
    // top-20 cut orders by (n_users DESC, path ASC) so ties cannot
    // reorder across engines. Scale shape: one user-partitioned window +
    // one path groupBy; the final top-20 is TakeOrderedAndProject
    // (per-task heaps, no global sort).
    Q("events_top_paths",
      (s, dir) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts_us").asc, col("event_id").asc)
        Tables.table(s, dir, "events")
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 5)
          .groupBy(col("user_id"))
          .agg(concat_ws(">", transform(
            sort_array(collect_list(struct(col("rn"), col("event_type")))),
            x => x.getField("event_type"))).as("path"))
          .groupBy(col("path"))
          .agg(count(lit(1)).as("n_users"))
          .orderBy(col("n_users").desc, col("path").asc)
          .limit(20)
      },
      Some(sql(s"""WITH r AS (
        |  SELECT user_id, event_type,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY ${sqlMicros("ts")} ASC, event_id ASC) AS rn
        |  FROM events),
        |paths AS (
        |  SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS path
        |  FROM r WHERE rn <= 5 GROUP BY user_id)
        |SELECT path, count(*)::BIGINT AS n_users
        |FROM paths GROUP BY path
        |ORDER BY n_users DESC, path ASC LIMIT 20"""))),

    // Per-type inter-arrival statistics — the stream-rate profile a
    // capacity planner reads. Percentiles are DISCRETE (the value at rank
    // ceil(q·n), pure integer positions: (n+1) DIV 2, (9n+9) DIV 10)
    // rather than interpolated: Spark's `percentile` and DuckDB's
    // `quantile_cont` interpolate with algebraically different double
    // formulas (x+f·(y-x) vs x·(1-f)+y·f), a last-ulp hazard on 1e9-µs
    // integer gaps that discrete selection removes entirely — ties among
    // equal gap VALUES make the rank choice value-deterministic without
    // a tiebreak column.
    //
    // SCALE SHAPE (r14, VERDICT r13 task 1): event_type has FIVE values,
    // so `Window.partitionBy(event_type)` over the fact hashes every row
    // into 5 reducers — correct, but parallelism is capped at the key
    // domain (5 tasks each sorting ~20 TB at target scale; 19.0 s at 100×
    // grown vs 1.01 s at sf0.1). Both passes now ride DistRank's
    // range-partitioned global sort on (event_type, …) instead: the lag
    // via [[DistRank.withGroupLag]] (the previous row in the sorted
    // partition, or the previous partition's last row), the discrete
    // percentiles via [[DistRank.withGroupRank]] (per-type rank from the
    // per-partition group counts of the stats pass; the per-type count
    // comes from the same counts, replacing the unbounded count()
    // window). Bit-identical:
    // ranks over the strict (gap_us, event_id) order select the same value
    // at each percentile position as the old orderBy(gap_us) window did
    // (ties among equal gap VALUES are value-deterministic). The output is
    // one row per event_type, so it is ordered with orderedDomain.
    Q("events_inter_arrival",
      (s, dir) => {
        val gaps = DistRank.withGroupLag(
            Tables.table(s, dir, "events")
              .select(col("event_type"), col("ts_us"), col("event_id")),
            col("event_type"),
            Seq(col("ts_us").asc, col("event_id").asc), "ts_us", "prev")
          .filter(col("prev").isNotNull)
          .withColumn("gap_us", col("ts_us") - col("prev"))
        DistRank.withGroupRank(
            gaps.select(col("event_type"), col("gap_us"), col("event_id")),
            col("event_type"),
            Seq(col("gap_us").asc, col("event_id").asc), "rn", Some("n"))
          .groupBy(col("event_type"))
          .agg(
            max(when(col("rn") === expr("(n + 1) DIV 2"), col("gap_us")))
              .as("p50_us"),
            max(when(col("rn") === expr("(9 * n + 9) DIV 10"),
              col("gap_us"))).as("p90_us"),
            min(col("gap_us")).as("min_us"),
            max(col("gap_us")).as("max_us"),
            count(lit(1)).as("n_gaps"))
          .transform(df => Det.orderedDomain(df, col("event_type")))
      },
      Some(sql(s"""WITH e AS (
        |  SELECT event_type, ${sqlMicros("ts")} AS ts_us, event_id
        |  FROM events),
        |g AS (SELECT event_type, ts_us - lag(ts_us) OVER (
        |        PARTITION BY event_type ORDER BY ts_us, event_id)
        |        AS gap_us FROM e),
        |g2 AS (SELECT event_type, gap_us FROM g
        |       WHERE gap_us IS NOT NULL),
        |r AS (SELECT event_type, gap_us,
        |  row_number() OVER (PARTITION BY event_type ORDER BY gap_us)
        |    AS rn,
        |  count(*) OVER (PARTITION BY event_type) AS n FROM g2)
        |SELECT event_type,
        |  max(CASE WHEN rn = (n + 1) // 2 THEN gap_us END)::BIGINT
        |    AS p50_us,
        |  max(CASE WHEN rn = (9 * n + 9) // 10 THEN gap_us END)::BIGINT
        |    AS p90_us,
        |  min(gap_us)::BIGINT AS min_us, max(gap_us)::BIGINT AS max_us,
        |  count(*)::BIGINT AS n_gaps
        |FROM r GROUP BY event_type ORDER BY event_type"""))),

    // Calendar gap-fill / daily resample: per event_type, one row per day
    // of the corpus span INCLUDING zero-activity days (the standard
    // time-series densification before any rolling statistic). The counted
    // series is the value>250 tail so the fill path is LIVE at every
    // shipped SF (143/150 zero cells at sf0.001, 3 even at sf0.1) — an
    // unfiltered daily count occupies every cell and would leave the fill
    // dormant on fixtures, the exact guard-never-fires trap VERDICT r9
    // called out. Span and type list come from the UNFILTERED corpus, so
    // the dense frame is stable regardless of tail sparsity. Shape: one
    // fact scan → ONE conditional aggregation yields the tail counts AND
    // the unfiltered (type, day) domain in the same pass; everything after
    // it is a LINEAR chain over that domain-sized frame, so the plan has
    // exactly one events scan by construction (PlanSpec pins it). A
    // multi-consumer formulation (span agg + distinct type list + join
    // right side all reading the same td) does NOT deduplicate: Catalyst
    // prunes different columns into each consumer, the subtrees stop being
    // equal, and the fact is scanned three times — measured, not guessed.
    // Instead: an unpartitioned window attaches the global [d0,d1] span to
    // every (type, day) row (single-partition, but over domain-sized data
    // — types × days, never the fact), a per-type aggregate packs the
    // observed days into a day→cnt map, and `sequence`/`explode` +
    // `element_at` densify. At 100 TB the only fact-proportional cost is
    // the initial map-side partial aggregation.
    Q("events_gap_fill",
      (s, dir) => {
        val td = Tables.table(s, dir, "events")
          .groupBy(col("event_type"), to_date(col("ts_t")).as("d"))
          .agg(sum(when(col("value") > 250, 1L).otherwise(0L)).as("cnt"))
        val whole = Window.rowsBetween(
          Window.unboundedPreceding, Window.unboundedFollowing)
        td.withColumn("d0", min(col("d")).over(whole))
          .withColumn("d1", max(col("d")).over(whole))
          .groupBy(col("event_type"), col("d0"), col("d1"))
          .agg(map_from_entries(
            collect_list(struct(col("d"), col("cnt")))).as("m"))
          .select(col("event_type"),
            explode(expr("sequence(d0, d1, interval 1 day)")).as("d"),
            col("m"))
          .select(col("event_type"), day(col("d")).as("day"),
            coalesce(element_at(col("m"), col("d")), lit(0L)).as("cnt"))
          .transform(df => Det.orderedDomain(df,
            col("event_type"), col("day")))
      },
      Some(sql(s"""WITH span AS (
        |  SELECT min(ts::TIMESTAMP)::DATE AS d0,
        |         max(ts::TIMESTAMP)::DATE AS d1 FROM events),
        |cal AS (
        |  SELECT t.event_type,
        |         unnest(generate_series(span.d0, span.d1,
        |           INTERVAL 1 DAY))::DATE AS d
        |  FROM (SELECT DISTINCT event_type FROM events) t, span),
        |daily AS (
        |  SELECT event_type, (ts::TIMESTAMP)::DATE AS d,
        |         count(*)::BIGINT AS cnt
        |  FROM events WHERE value > 250 GROUP BY 1, 2)
        |SELECT cal.event_type, ${sqlDay("cal.d")} AS day,
        |  coalesce(daily.cnt, 0)::BIGINT AS cnt
        |FROM cal LEFT JOIN daily
        |  ON cal.event_type = daily.event_type AND cal.d = daily.d
        |ORDER BY cal.event_type, day"""))),

    // RFM segmentation — recency/frequency/monetary quartiles per user,
    // the classic user-base triage every growth team runs. Fact-
    // proportional work is ONE groupBy(user_id) with map-side partials;
    // everything after runs on the per-user aggregate. The USER domain
    // grows with the corpus, so quartiles are NOT ntile windows (r12,
    // VERDICT r11 task 2 — the old three unpartitioned ntile sorts were a
    // single-task ceiling at ~10^8 users): the three axes are ranked in
    // ONE fused DistRank pass (range-partitioned, no single-partition
    // exchange), n and the recency anchor come from a scalar subquery
    // over the per-user aggregate (it reuses that aggregate's exchange,
    // so events are scanned once, instead of an unpartitioned
    // whole-frame window), and the bucket is column arithmetic on the
    // rank and n:
    // SQL-standard ntile(4) over n rows puts boundary i at rank
    // i·(n DIV 4) + min(i, n MOD 4) — equal buckets, remainder to the
    // earlier ones — so bucket = 1 + Σᵢ [rank > boundary(i)], bit-equal
    // to the oracle's ntile at any n. All three metrics are exact:
    // recency is integer-µs floor-division into days, frequency is a long
    // count, monetary is the decimal-accumulated sum emitted as double
    // (Det.dsum — D9), and every rank ORDER BY tie-breaks on user_id:
    // bucket assignment is fully deterministic and identical
    // cross-engine. Quartile 1 is always "best".
    Q("events_rfm",
      (s, dir) => {
        // n and the recency anchor come from ONE scalar subquery over
        // perUser, which AQE answers from perUser's own exchange only if
        // both copies plan the same partial aggregate. So the anchor's max
        // runs over a struct of every per-user column (a column-pruned
        // copy would not match), and the aggregates are listed in the
        // order the ranks' projection reads them (freq, monetary, then
        // last_us inside rec_days; the optimizer folds that projection
        // into the aggregate). PlanSpec pins the reuse.
        val perUser = Tables.table(s, dir, "events")
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("freq"),
            dsum(col("value"), 2).as("monetary"),
            max(col("ts_us")).as("last_us"))
        val totals = perUser.select(struct(count(lit(1)).as("n"),
          max(struct(col("last_us"), col("freq"), col("monetary")))
            .getField("last_us").as("anchor"))).scalar()
        val (n, anchor) = (totals.getField("n"), totals.getField("anchor"))
        val scored = perUser.withColumn("rec_days", call_function("div",
          anchor - col("last_us"), lit(86400000000L)))
        // The three axes fuse into ONE tagged pass (one sort instead of
        // three). All normalize to ascending doubles: rec_days and freq
        // are small longs (exact under cast, freq negated for its
        // descending order) and monetary is a finite dsum double
        // (negation exact).
        // monetary is NULL for a user whose values are all NULL; both
        // `monetary.desc` (Spark) and the oracle's `ORDER BY monetary
        // DESC` (DuckDB default null order) put NULLs LAST, so the
        // negated-ascending encoding coalesces to -∞ — negation sends
        // such users to +∞ = worst rank, tie-broken by user_id, exactly
        // matching both window forms (r12 ADVICE; withRanksPivoted now
        // hard-rejects NULL axis keys).
        val ranked = DistRank.withRanksPivoted(scored, "user_id", Seq(
          (col("rec_days").cast("double"), "__r_rank"),
          ((-col("freq")).cast("double"), "__f_rank"),
          ((-coalesce(col("monetary"), lit(Double.NegativeInfinity)))
            .cast("double"), "__m_rank")))
        // n is read from one column: each use of the scalar itself would
        // be planned as its own subquery before reuse dedups them
        def boundary(i: Long): Column =
          lit(i) * call_function("div", col("__n"), lit(4L)) +
            least(lit(i), col("__n") % 4)
        def quart(rank: Column): Column =
          (lit(1L) + when(rank > boundary(1), 1L).otherwise(0L)
            + when(rank > boundary(2), 1L).otherwise(0L)
            + when(rank > boundary(3), 1L).otherwise(0L)).cast("long")
        ranked
          .withColumn("__n", n)
          .withColumn("r_q", quart(col("__r_rank")))
          .withColumn("f_q", quart(col("__f_rank")))
          .withColumn("m_q", quart(col("__m_rank")))
          .select(col("user_id"), col("rec_days"), col("freq"),
            col("monetary"), col("r_q"), col("f_q"), col("m_q"),
            when(col("r_q") === 1 && col("f_q") === 1 && col("m_q") === 1,
              "champion")
              .when(col("r_q") >= 3 && col("f_q") >= 3, "at_risk")
              .when(col("r_q") === 1, "recent")
              .otherwise("core").as("segment"))
          .orderBy(col("user_id"))
      },
      Some(sql(s"""WITH per_user AS (
        |  SELECT user_id, max(${sqlMicros("ts")}) AS last_us,
        |    count(*)::BIGINT AS freq,
        |    ${sqlDsum("value", 2)} AS monetary
        |  FROM events GROUP BY user_id),
        |scored AS (
        |  SELECT user_id, freq, monetary,
        |    (max(last_us) OVER () - last_us) // 86400000000 AS rec_days
        |  FROM per_user),
        |q AS (
        |  SELECT user_id, rec_days, freq, monetary,
        |    ntile(4) OVER (ORDER BY rec_days ASC, user_id ASC) AS r_q,
        |    ntile(4) OVER (ORDER BY freq DESC, user_id ASC) AS f_q,
        |    ntile(4) OVER (ORDER BY monetary DESC, user_id ASC) AS m_q
        |  FROM scored)
        |SELECT user_id, rec_days, freq, monetary, r_q, f_q, m_q,
        |  CASE WHEN r_q = 1 AND f_q = 1 AND m_q = 1 THEN 'champion'
        |       WHEN r_q >= 3 AND f_q >= 3 THEN 'at_risk'
        |       WHEN r_q = 1 THEN 'recent'
        |       ELSE 'core' END AS segment
        |FROM q ORDER BY user_id"""))),
  )
}
