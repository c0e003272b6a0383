package graft.functions

import graft.{Det, Q, Tables}
import org.apache.spark.sql.functions._

/** §2.1-G — scalar function families (SURVEY.md:238-250).
  *
  * All built-in `org.apache.spark.sql.functions` — codegen'd, no UDFs, so
  * every battery stays inside WholeStageCodegen on the scan. Cross-engine
  * gotchas handled here:
  *  - Spark `length`/`size`/`year`/... return int where DuckDB returns
  *    BIGINT → Spark side casts to long (D8);
  *  - DuckDB `regexp_replace` is first-match unless the 'g' flag is given;
  *  - DuckDB `dayofweek` is 0=Sunday, Spark is 1=Sunday → emit Spark-1;
  *  - `ln`/`exp` cross C-libm vs Java differ in the last ulp → round(·,6);
  *  - `pow` only on exactly-representable integer powers of 2.
  */
object Scalars {
  import Det._

  /** Spark's double `round(x, 6)` algorithm (Round expression: decimal of
    * the shortest repr via BigDecimal.valueOf, HALF_UP), kept as a plain
    * string so the identical literal can be embedded in both formulations. */
  private def plain6(x: Double): String =
    java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).toPlainString

  /** 360-entry lookup: deg → round-6 sin/cos/atan2(deg, 180), computed once
    * here from `java.lang.Math`. Both the Spark plan (broadcast local
    * relation) and the oracle SQL (VALUES list) embed THESE decimal
    * literals, so the hash comparison never depends on either engine's libm.
    * CORRECTNESS_r02 proved engine-computed trig is not hash-checkable: the
    * driver's oracle rounds trig materially differently (beyond ulp level)
    * from both local DuckDB 1.0 and the JVM, which local preflight
    * structurally cannot catch. Spark's own sin/cos/atan2/radians/degrees
    * expressions are exercised against this table in GraftSpec instead. */
  val trigTable: IndexedSeq[(Long, String, String, String)] =
    (0L until 360L).map { d =>
      (d,
        plain6(math.sin(math.toRadians(d.toDouble))),
        plain6(math.cos(math.toRadians(d.toDouble))),
        plain6(math.atan2(d.toDouble, 180.0)))
    }

  val qs: Seq[Q] = Seq(
    Q("scalar_string",
      (s, dir) => Tables.table(s, dir, "part")
        .select(col("p_partkey"),
          upper(col("p_name")).as("up_name"),
          lower(col("p_brand")).as("low_brand"),
          length(col("p_name")).cast("long").as("name_len"),
          substring(col("p_name"), 1, 5).as("name_pre"),
          concat_ws("-", col("p_brand"), col("p_type")).as("brand_type"),
          lpad(col("p_brand"), 10, "*").as("brand_pad"),
          trim(concat(lit("  "), col("p_name"), lit("  "))).as("trimmed"),
          regexp_replace(col("p_name"), " ", "_").as("name_und"),
          size(split(col("p_name"), " ")).cast("long").as("word_cnt"))
        .orderBy(col("p_partkey")),
      Some(sql("""SELECT p_partkey,
        |upper(p_name) AS up_name, lower(p_brand) AS low_brand,
        |length(p_name)::BIGINT AS name_len,
        |substring(p_name, 1, 5) AS name_pre,
        |concat_ws('-', p_brand, p_type) AS brand_type,
        |lpad(p_brand, 10, '*') AS brand_pad,
        |trim(concat('  ', p_name, '  ')) AS trimmed,
        |replace(p_name, ' ', '_') AS name_und,
        |len(string_split(p_name, ' '))::BIGINT AS word_cnt
        |FROM part ORDER BY p_partkey"""))),

    Q("scalar_regexp",
      (s, dir) => Tables.table(s, dir, "part")
        .select(col("p_partkey"), col("p_brand"),
          regexp_extract(col("p_brand"), "[0-9]+", 0).as("brand_num"),
          regexp_extract(col("p_brand"), "[0-9]+", 0).cast("long")
            .as("brand_num_i"),
          regexp_replace(col("p_name"), "[aeiou]", "").as("devoweled"),
          (length(col("p_name"))
            - length(regexp_replace(col("p_name"), "[aeiou]", "")))
            .cast("long").as("vowel_cnt"))
        .orderBy(col("p_partkey")),
      Some(sql("""SELECT p_partkey, p_brand,
        |regexp_extract(p_brand, '[0-9]+') AS brand_num,
        |CAST(regexp_extract(p_brand, '[0-9]+') AS BIGINT) AS brand_num_i,
        |regexp_replace(p_name, '[aeiou]', '', 'g') AS devoweled,
        |(length(p_name) -
        | length(regexp_replace(p_name, '[aeiou]', '', 'g')))::BIGINT
        |  AS vowel_cnt
        |FROM part ORDER BY p_partkey"""))),

    Q("scalar_date",
      (s, dir) => Tables.table(s, dir, "orders")
        .select(col("o_orderkey"),
          year(col("o_orderdate")).cast("long").as("yr"),
          quarter(col("o_orderdate")).cast("long").as("qtr"),
          month(col("o_orderdate")).cast("long").as("mo"),
          dayofmonth(col("o_orderdate")).cast("long").as("dom"),
          (dayofweek(col("o_orderdate")) - 1).cast("long").as("dow_sun0"),
          day(date_trunc("month", col("o_orderdate"))).as("month_start"),
          datediff(lit("2002-01-01").cast("date"),
            col("o_orderdate").cast("date")).cast("long").as("days_to_2002"),
          day(add_months(col("o_orderdate"), 3)).as("plus_3m"),
          day(last_day(col("o_orderdate"))).as("month_end"))
        .orderBy(col("o_orderkey")),
      Some(sql(s"""SELECT o_orderkey,
        |year(o_orderdate)::BIGINT AS yr,
        |quarter(o_orderdate)::BIGINT AS qtr,
        |month(o_orderdate)::BIGINT AS mo,
        |dayofmonth(o_orderdate)::BIGINT AS dom,
        |dayofweek(o_orderdate)::BIGINT AS dow_sun0,
        |${sqlDay("date_trunc('month', o_orderdate)")} AS month_start,
        |datediff('day', o_orderdate::DATE, DATE '2002-01-01')::BIGINT
        |  AS days_to_2002,
        |${sqlDay("o_orderdate + INTERVAL 3 MONTH")} AS plus_3m,
        |${sqlDay("last_day(o_orderdate)")} AS month_end
        |FROM orders ORDER BY o_orderkey"""))),

    Q("scalar_math",
      (s, dir) => Tables.table(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"),
          abs(col("o_totalprice") - 250000).as("abs_dev"),
          ceil(col("o_totalprice")).cast("long").as("price_ceil"),
          floor(col("o_totalprice")).cast("long").as("price_floor"),
          sqrt(col("o_totalprice")).as("price_sqrt"),
          round(log(col("o_totalprice")), 6).as("price_ln_r6"),
          round(exp(col("o_totalprice") / 500000.0), 6).as("price_exp_r6"),
          pow(lit(2.0), pmod(col("o_orderkey"), lit(10))).as("pow2_mod"),
          greatest(col("o_totalprice"), lit(100000.0)).as("hi"),
          least(col("o_totalprice"), lit(100000.0)).as("lo"),
          pmod(col("o_orderkey"), lit(7)).as("key_mod7"))
        .orderBy(col("o_orderkey")),
      Some(sql("""SELECT o_orderkey, o_totalprice,
        |abs(o_totalprice - 250000) AS abs_dev,
        |ceil(o_totalprice)::BIGINT AS price_ceil,
        |floor(o_totalprice)::BIGINT AS price_floor,
        |sqrt(o_totalprice) AS price_sqrt,
        |round(ln(o_totalprice), 6) AS price_ln_r6,
        |round(exp(o_totalprice / 500000.0), 6) AS price_exp_r6,
        |pow(2.0, o_orderkey % 10) AS pow2_mod,
        |greatest(o_totalprice, 100000.0) AS hi,
        |least(o_totalprice, 100000.0) AS lo,
        |o_orderkey % 7 AS key_mod7
        |FROM orders ORDER BY o_orderkey"""))),

    // Trig battery via the shared literal lookup ([[trigTable]]): the
    // oracle-checked output carries no engine-computed transcendental —
    // the r02 driver run proved those are not hash-checkable across an
    // unknown oracle build. The join itself is the 100-TB-relevant shape:
    // modular key against a broadcast generated dimension.
    Q("scalar_trig",
      (s, dir) => {
        import s.implicits._
        val t = trigTable
          .map { case (d, si, co, at) =>
            (d, si.toDouble, co.toDouble, at.toDouble) }
          .toDF("deg_i", "sin_r6", "cos_r6", "atan2_r6")
        Tables.table(s, dir, "orders")
          .withColumn("deg_i", pmod(col("o_orderkey"), lit(360L)))
          .join(broadcast(t), "deg_i")
          .select(col("o_orderkey"), col("deg_i").cast("double").as("deg"),
            col("sin_r6"), col("cos_r6"), col("atan2_r6"))
          .orderBy(col("o_orderkey"))
      },
      Some(sql(s"""WITH t(deg_i, sin_r6, cos_r6, atan2_r6) AS (VALUES
        |${trigTable.map { case (d, si, co, at) => s"($d, $si, $co, $at)" }
            .mkString(", ")})
        |SELECT o_orderkey, CAST(o_orderkey % 360 AS DOUBLE) AS deg,
        |CAST(sin_r6 AS DOUBLE) AS sin_r6,
        |CAST(cos_r6 AS DOUBLE) AS cos_r6,
        |CAST(atan2_r6 AS DOUBLE) AS atan2_r6
        |FROM orders JOIN t ON o_orderkey % 360 = deg_i
        |ORDER BY o_orderkey"""))),

    Q("scalar_bitwise",
      (s, dir) => Tables.table(s, dir, "orders")
        .select(col("o_orderkey"),
          col("o_orderkey").bitwiseAND(lit(255L)).as("low_byte"),
          col("o_orderkey").bitwiseOR(lit(4096L)).as("with_flag"),
          col("o_orderkey").bitwiseXOR(lit(255L)).as("xored"),
          shiftleft(col("o_orderkey"), 2).as("shl2"),
          shiftright(col("o_orderkey"), 3).as("shr3"),
          bit_count(col("o_orderkey")).cast("long").as("popcount"))
        .orderBy(col("o_orderkey")),
      Some(sql("""SELECT o_orderkey,
        |o_orderkey & 255 AS low_byte,
        |o_orderkey | 4096 AS with_flag,
        |xor(o_orderkey, 255) AS xored,
        |o_orderkey << 2 AS shl2,
        |o_orderkey >> 3 AS shr3,
        |bit_count(o_orderkey)::BIGINT AS popcount
        |FROM orders ORDER BY o_orderkey"""))),

    Q("scalar_conditional",
      (s, dir) => Tables.table(s, dir, "customer")
        .select(col("c_custkey"), col("c_acctbal"),
          nullif(col("c_acctbal"), lit(0.0)).as("nz_bal"),
          coalesce(nullif(col("c_acctbal"), lit(0.0)), lit(-1.0))
            .as("bal_or_neg1"),
          when(col("c_acctbal") > 0, "pos").otherwise("nonpos").as("sign"),
          least(greatest(col("c_acctbal"), lit(-500.0)), lit(5000.0))
            .as("clamped"))
        .orderBy(col("c_custkey")),
      Some(sql("""SELECT c_custkey, c_acctbal,
        |nullif(c_acctbal, 0.0) AS nz_bal,
        |coalesce(nullif(c_acctbal, 0.0), -1.0) AS bal_or_neg1,
        |CASE WHEN c_acctbal > 0 THEN 'pos' ELSE 'nonpos' END AS sign,
        |least(greatest(c_acctbal, -500.0), 5000.0) AS clamped
        |FROM customer ORDER BY c_custkey"""))),

    Q("scalar_hash",
      (s, dir) => Tables.table(s, dir, "documents")
        .select(col("doc_id"),
          md5(col("text")).as("text_md5"),
          sha2(col("text"), 256).as("text_sha256"))
        .orderBy(col("doc_id")),
      Some(sql("""SELECT doc_id, md5(text) AS text_md5,
        |sha256(text) AS text_sha256
        |FROM documents ORDER BY doc_id"""))),

    Q("scalar_array",
      (s, dir) => {
        val embD = Det.widen(col("embedding"))
        Tables.table(s, dir, "embeddings")
          .select(col("vec_id"),
            size(col("embedding")).cast("long").as("alen"),
            element_at(embD, 1).as("first_e"),
            element_at(embD, 8).as("eighth_e"),
            aggregate(slice(embD, 1, 8), lit(0.0), (a, x) => a + x)
              .as("slice8_sum"),
            array_max(embD).as("max_e"),
            array_min(embD).as("min_e"))
          .orderBy(col("vec_id"))
      },
      Some(sql("""SELECT vec_id,
        |len(embedding)::BIGINT AS alen,
        |(embedding::DOUBLE[])[1] AS first_e,
        |(embedding::DOUBLE[])[8] AS eighth_e,
        |list_reduce((embedding::DOUBLE[])[1:8], (a, b) -> a + b)
        |  AS slice8_sum,
        |list_aggregate(embedding::DOUBLE[], 'max') AS max_e,
        |list_aggregate(embedding::DOUBLE[], 'min') AS min_e
        |FROM embeddings ORDER BY vec_id"""))),

    Q("scalar_array_hof",
      (s, dir) => {
        val embD = Det.widen(col("embedding"))
        Tables.table(s, dir, "embeddings")
          .select(col("vec_id"),
            size(filter(embD, x => x > 0)).cast("long").as("n_pos"),
            aggregate(embD, lit(0.0), (a, x) => a + x).as("comp_sum"),
            aggregate(transform(embD, x => x * x), lit(0.0), (a, x) => a + x)
              .as("comp_sumsq"))
          .orderBy(col("vec_id"))
      },
      Some(sql("""SELECT vec_id,
        |len(list_filter(embedding::DOUBLE[], x -> x > 0))::BIGINT AS n_pos,
        |list_reduce(embedding::DOUBLE[], (a, b) -> a + b) AS comp_sum,
        |list_reduce(list_transform(embedding::DOUBLE[], x -> x * x),
        |  (a, b) -> a + b) AS comp_sumsq
        |FROM embeddings ORDER BY vec_id"""))),

    // The MAP physical type itself has parquet/DuckDB friction (SURVEY D3
    // permits rows-only), but every OUTPUT column here is scalar — the map
    // is built and consumed inside the plan — so the oracle re-derives each
    // scalar from the map's definition and the key is hash-checked after
    // all. Exercises create_map, map_keys/map_values, element_at,
    // map_filter and transform_values.
    Q("scalar_map",
      (s, dir) => {
        // r16 optimization (guide §4 "per-task work" / §2.3 "project
        // before the exchange"): the map is built from (event_type, one
        // json extraction). Inlining the extraction into every map
        // expression evaluated get_json_object FIVE times per row —
        // measured ~2.9 s single-task CPU at sf0.1 (the scan is one
        // parquet split). Extract once BELOW the sort exchange (the
        // exchange is a CollapseProject barrier, so the optimizer cannot
        // re-inline it), build the maps from the extracted column above
        // it: one parse per row, and the exchange carries the narrow
        // (event_id, event_type, jk) projection instead of raw props.
        // Output columns/values/order are unchanged; the map surface
        // (create_map, map_keys/values, element_at, map_filter,
        // transform_values) is exercised exactly as before.
        val base = Tables.table(s, dir, "events")
          .select(col("event_id"), col("event_type"),
            get_json_object(col("props"), "$.k").as("__jk"))
          .orderBy(col("event_id"))
        val m = map(lit("type"), col("event_type"), lit("k"), col("__jk"))
        base.select(col("event_id"),
          concat_ws(",", map_keys(m)).as("mkeys"),
          concat_ws(",", map_values(m)).as("mvals"),
          element_at(m, "type").as("m_type"),
          element_at(m, "k").cast("long").as("m_k"),
          size(map_filter(m, (_, v) => v.isNotNull))
            .cast("long").as("n_set"),
          element_at(transform_values(m, (_, v) => upper(v)), "type")
            .as("m_type_uc"))
      },
      Some(sql("""SELECT event_id,
        |'type,k' AS mkeys,
        |concat_ws(',', event_type, json_extract_string(props, '$.k'))
        |  AS mvals,
        |event_type AS m_type,
        |CAST(json_extract_string(props, '$.k') AS BIGINT) AS m_k,
        |((CASE WHEN event_type IS NULL THEN 0 ELSE 1 END)
        | + (CASE WHEN json_extract_string(props, '$.k') IS NULL
        |     THEN 0 ELSE 1 END))::BIGINT AS n_set,
        |upper(event_type) AS m_type_uc
        |FROM events ORDER BY event_id"""))),

    // Struct surface (create / nest / field-access), same design as
    // scalar_map: the struct lives inside the plan, every OUTPUT column is
    // scalar, so the oracle re-derives each field and the key is
    // hash-checked. Structs are Tungsten-native (no serialization
    // boundary) — building and consuming one inside a projection stays in
    // whole-stage codegen.
    Q("scalar_struct",
      (s, dir) => {
        val st = struct(col("o_orderstatus").as("status"),
          col("o_totalprice").as("price"))
        val nested = struct(st.as("inner"), col("o_custkey").as("cust"))
        Tables.table(s, dir, "orders")
          .select(col("o_orderkey"),
            st.getField("status").as("st_status"),
            dexact(st.getField("price"), 2).as("st_price"),
            nested.getField("inner").getField("status").as("st_status2"),
            nested.getField("cust").as("st_cust"))
          .orderBy(col("o_orderkey"))
      },
      Some(sql(s"""SELECT o_orderkey,
        |o_orderstatus AS st_status,
        |${sqlDexact("o_totalprice", 2)} AS st_price,
        |o_orderstatus AS st_status2,
        |o_custkey AS st_cust
        |FROM orders ORDER BY o_orderkey"""))),

    Q("scalar_json",
      (s, dir) => Tables.table(s, dir, "events")
        .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
        .filter(col("k") > 50)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("cnt"), sum(col("k")).as("sum_k"))
        .orderBy(col("event_type")),
      Some(sql("""SELECT event_type, count(*)::BIGINT AS cnt,
        |CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT)
        |  AS sum_k
        |FROM events WHERE CAST(json_extract(props, '$.k') AS BIGINT) > 50
        |GROUP BY event_type ORDER BY event_type"""))),

    Q("explode_generator",
      (s, dir) => Tables.table(s, dir, "documents")
        .select(col("doc_id"),
          posexplode(split(col("text"), " ")).as(Seq("pos", "word")))
        .select(col("doc_id"), col("pos").cast("long").as("pos"),
          col("word"))
        .orderBy(col("doc_id"), col("pos")),
      Some(sql("""SELECT doc_id,
        |unnest(generate_series(0, len(string_split(text, ' ')) - 1))
        |  AS pos,
        |unnest(string_split(text, ' ')) AS word
        |FROM documents ORDER BY doc_id, pos"""))),
  )
}
