package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[graft.operators.DistRank]] must be bit-identical to the unpartitioned
  * `row_number` window it replaces (VERDICT r11 tasks 1–2: the rewrite is
  * only hash-neutral if this equivalence holds for every order direction,
  * tie-break shape, and partition skew). */
class DistRankSpec extends AnyFunSuite {
  import TestSpark._
  import operators.DistRank

  /** Run `body` — builds AND actions — with AQE partition coalescing off
    * (and `conf` set), so every range partition of the exchange exists
    * when the plan runs. */
  private def withoutCoalescing[T](conf: (String, String)*)(body: => T): T = {
    val set = conf.toMap +
      ("spark.sql.adaptive.coalescePartitions.enabled" -> "false")
    val was = set.keys.map(k => k -> spark.conf.getOption(k)).toMap
    set.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally was.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  test("rank == unpartitioned row_number on a skewed synthetic frame") {
    import spark.implicits._
    // Zipf-ish duplicate-heavy keys (the vocabOf shape: huge tie classes
    // on the first sort column, broken by the unique second) spread over
    // enough rows that all 4 test partitions are populated.
    val rows = (1 to 5000).map { i =>
      (s"w${i % 7}_${i % 613}", (5000 / (1 + i % 613)).toLong)
    }
    val df = rows.toDF("word", "cnt")
      .groupBy($"word").agg(sum($"cnt").as("cnt"))
    val expected = df.withColumn("id", row_number().over(
        Window.orderBy($"cnt".desc, $"word".asc)).cast("long"))
      .select($"word", $"id").collect().map(r => r.getString(0) -> r.getLong(1))
    val got = DistRank.withRank(df, Seq($"cnt".desc, $"word".asc), "id")
      .select($"word", $"id").collect().map(r => r.getString(0) -> r.getLong(1))
    assert(got.toMap === expected.toMap)
  }

  test("running sum + totals == unpartitioned cumulative window") {
    import spark.implicits._
    val df = (1 to 997).map(i => (s"k$i", (i * 37 % 101 + 1).toLong))
      .toDF("word", "freq")
    val w = Window.orderBy($"freq".desc, $"word".asc)
    val expected = df.withColumn("rank", row_number().over(w).cast("long"))
      .withColumn("cum", sum($"freq").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select($"word", $"rank", $"cum").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val r = DistRank.withRankAndCum(df,
      Seq($"freq".desc, $"word".asc), "rank", Seq("freq" -> "cum"))
    val got = r.select($"word", $"rank", $"cum").collect()
      .map(x => x.getString(0) -> ((x.getLong(1), x.getLong(2)))).toMap
    assert(got === expected)
    assert(got.size === 997)
    assert(got.values.map(_._2).max ===
      (1 to 997).map(i => (i * 37 % 101 + 1).toLong).sum)
  }

  test("ranked plan has no single-partition exchange") {
    import spark.implicits._
    val df = (1 to 500).map(i => (s"k$i", i.toLong)).toDF("word", "freq")
    val ranked = DistRank.withRank(df, Seq($"freq".desc, $"word".asc), "id")
    ranked.collect()
    val p = ranked.queryExecution.executedPlan.toString
    assert(!p.contains("SinglePartition"), p.take(3000))
  }

  test("fused multi-axis rank == two separate row_number windows") {
    import spark.implicits._
    // The events_rfm fusion shape: one union-tagged two-phase pass must
    // reproduce BOTH unpartitioned windows bit-for-bit, including desc
    // order via negation and big tie classes broken by the unique key.
    val df = (1 to 997).map { i =>
      (s"u$i", (i % 13).toLong, (i * 37 % 101).toDouble / 4.0)
    }.toDF("u", "days", "money")
    val expected = df
      .withColumn("r1", row_number().over(
        Window.orderBy($"days".asc, $"u".asc)).cast("long"))
      .withColumn("r2", row_number().over(
        Window.orderBy($"money".desc, $"u".asc)).cast("long"))
      .select($"u", $"r1", $"r2").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val fused = DistRank.withRanksPivoted(df, "u", Seq(
      ($"days".cast("double"), "r1"), ((-$"money").cast("double"), "r2")))
    val got = fused.select($"u", $"r1", $"r2").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got === expected)
    // the carried non-key columns must survive the pivot unchanged
    val money = fused.select($"u", $"money").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(money("u5") === (5 * 37 % 101).toDouble / 4.0)
    val p = fused.queryExecution.executedPlan.toString
    assert(!p.contains("SinglePartition"), p.take(3000))
  }

  test("fused rank: single row, and null attributes survive the pivot") {
    import spark.implicits._
    // Edges the rfm caller can hit: n=1 (every rank is 1) and a NULL
    // non-key attribute (the pivot's max over identical copies must
    // return NULL, not drop the row or invent a value). The axis key uses
    // the documented coalesce encoding — raw NULL keys are rejected (next
    // test).
    val df = Seq(("only", Some(3L), None: Option[Double]))
      .toDF("u", "days", "money")
    val out = DistRank.withRanksPivoted(df, "u", Seq(
      ($"days".cast("double"), "r1"),
      ((-coalesce($"money", lit(Double.NegativeInfinity)))
        .cast("double"), "r2")))
      .collect()
    assert(out.length === 1)
    val r = out.head
    assert(r.getAs[Long]("r1") === 1L && r.getAs[Long]("r2") === 1L)
    assert(r.isNullAt(r.fieldIndex("money")))
    assert(r.getAs[Long]("days") === 3L)
  }

  test("fused rank: NULL sort keys — guard throws raw, coalesce matches " +
      "desc_nulls_last windows") {
    import spark.implicits._
    // r12 ADVICE: `(-c).asc` sorts NULLs FIRST while `c.desc` sorts them
    // LAST, so a raw nullable axis key would silently flip all-NULL rows
    // from worst rank to rank 1. The contract is now (a) raw NULL keys
    // fail loudly, (b) the documented -coalesce(c, -∞) encoding is
    // bit-identical to the c.desc (= desc_nulls_last) window — multiple
    // NULL rows tie and break on the unique key, exactly like the window.
    val df = Seq(
      ("u1", 5L, Some(10.0)), ("u2", 1L, None), ("u3", 3L, Some(2.5)),
      ("u4", 2L, None), ("u5", 4L, Some(10.0)), ("u6", 6L, None))
      .toDF("u", "days", "money")
    val ex = intercept[Exception] {
      DistRank.withRanksPivoted(df, "u", Seq(
        ($"days".cast("double"), "r1"), ((-$"money").cast("double"), "r2")))
        .collect()
    }
    assert(ex.getMessage.contains("NULL sort key") ||
      Option(ex.getCause).exists(_.getMessage.contains("NULL sort key")))
    val expected = df
      .withColumn("r1", row_number().over(
        Window.orderBy($"days".asc, $"u".asc)).cast("long"))
      .withColumn("r2", row_number().over(
        Window.orderBy($"money".desc, $"u".asc)).cast("long"))
      .select($"u", $"r1", $"r2").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // sanity: Spark's desc really does put the NULL class last here
    assert(Set(expected("u2")._2, expected("u4")._2,
      expected("u6")._2) === Set(4L, 5L, 6L))
    val got = DistRank.withRanksPivoted(df, "u", Seq(
      ($"days".cast("double"), "r1"),
      ((-coalesce($"money", lit(Double.NegativeInfinity)))
        .cast("double"), "r2")))
      .select($"u", $"r1", $"r2").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got === expected)
  }

  test("fused rank: reserved-name and duplicate-output guardrails") {
    import spark.implicits._
    val clash = Seq(("a", 1L)).toDF("u", "__skey")
    intercept[IllegalArgumentException] {
      DistRank.withRanksPivoted(clash, "u", Seq(($"__skey".cast("double"), "r")))
    }
    val df = Seq(("a", 1L)).toDF("u", "v")
    intercept[IllegalArgumentException] {
      DistRank.withRanksPivoted(df, "u", Seq(
        ($"v".cast("double"), "r"), ((-$"v").cast("double"), "r")))
    }
    intercept[IllegalArgumentException] {
      DistRank.withRanksPivoted(df, "u", Seq(($"v".cast("double"), "v")))
    }
  }

  test("fused rank: a duplicated key raises instead of max-merging ranks") {
    import spark.implicits._
    // u2 appears twice: its pivot group holds 4 rows for 2 axes, and the
    // max over them would silently merge two rows' ranks into one.
    val df = Seq(("u1", 1L), ("u2", 2L), ("u2", 3L), ("u3", 4L))
      .toDF("u", "v")
    val ex = intercept[Exception] {
      DistRank.withRanksPivoted(df, "u", Seq(
        ($"v".cast("double"), "r1"), ((-$"v").cast("double"), "r2")))
        .collect()
    }
    assert(ex.getMessage.contains("not unique") ||
      Option(ex.getCause).exists(_.getMessage.contains("not unique")))
  }

  test("group rank + count == partitioned row_number / count windows") {
    import spark.implicits._
    // The r13-VERDICT weak family's shape: a LOW-CARDINALITY group key
    // (5 values — event_type/lang) over a fact-sized frame, with huge tie
    // classes on the first sort column broken by a unique id. The
    // range-sort + anchor-join form must be bit-identical to
    // row_number().over(partitionBy(g).orderBy(...)) and
    // count().over(partitionBy(g)).
    val df = (1 to 4001).map { i =>
      (s"t${i % 5}", (i * 37 % 89).toLong, i.toLong)
    }.toDF("g", "v", "id")
    val w = Window.partitionBy($"g").orderBy($"v".asc, $"id".asc)
    val expected = df
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy($"g")))
      .select($"id", $"rn", $"n").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val ranked = DistRank.withGroupRank(df, $"g",
      Seq($"v".asc, $"id".asc), "rn", Some("n"))
    val got = ranked.select($"id", $"rn", $"n").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got === expected)
    val p = ranked.queryExecution.executedPlan.toString
    assert(!p.contains("SinglePartition"), p.take(3000))
    // single-group and single-row edges
    val one = Seq(("only", 1L, 1L)).toDF("g", "v", "id")
    val oneGot = DistRank.withGroupRank(one, $"g",
      Seq($"v".asc, $"id".asc), "rn", Some("n")).collect().head
    assert(oneGot.getAs[Long]("rn") === 1L && oneGot.getAs[Long]("n") === 1L)
  }

  test("group rank: NULL group key fails loudly") {
    import spark.implicits._
    // A NULL group would be silently DROPPED by the anchor equi-join
    // (NULL never equals NULL) — the guard must surface it instead.
    val df = Seq((Some("a"), 1L, 1L), (None: Option[String], 2L, 2L))
      .toDF("g", "v", "id")
    val ex = intercept[Exception] {
      DistRank.withGroupRank(df, $"g", Seq($"v".asc, $"id".asc), "rn")
        .collect()
    }
    assert(ex.getMessage.contains("NULL group key") ||
      Option(ex.getCause).exists(_.getMessage.contains("NULL group key")))
  }

  test("group lag == partitioned lag window incl. boundaries and nulls") {
    import spark.implicits._
    // Boundary coverage: 4 test shuffle partitions over 3001 rows means
    // every partition boundary exercises the pid→(last group, last value)
    // literal-map patch; group changes land both inside partitions and
    // (with 3 groups range-sorted ahead of the sort key) exactly at
    // partition boundaries. NULL lagSrc values must propagate as NULL
    // lags, not 0 (the prevVal map skips null entries).
    val df = (1 to 3001).map { i =>
      (s"t${i % 3}", i.toLong * 7,
        if (i % 97 == 0) None else Some(i.toLong * 13))
    }.toDF("g", "ord", "x")
    val w = Window.partitionBy($"g").orderBy($"ord".asc)
    val expected = df.withColumn("px", lag($"x", 1).over(w))
      .select($"g", $"ord", $"px").collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
    val got = DistRank.withGroupLag(df, $"g", Seq($"ord".asc), "x", "px")
      .select($"g", $"ord", $"px").collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
    assert(got === expected)
    // tiny-frame edge: one row per group — every lag is NULL
    val tiny = Seq(("a", 1L, 2L), ("b", 1L, 3L)).toDF("g", "ord", "x")
    val tinyGot = DistRank.withGroupLag(tiny, $"g",
      Seq($"ord".asc), "x", "px").collect()
    assert(tinyGot.forall(_.isNullAt(tinyGot.head.fieldIndex("px"))))
  }

  test("group lag and running sums plan no window and one range exchange") {
    import spark.implicits._
    // Both partition-local columns come out of the GlobalRank operator's
    // one sort, over the one range exchange the planner inserts.
    val df = (1 to 2001).map(i => (s"t${i % 3}", i.toLong, (i % 11).toLong))
      .toDF("g", "ord", "x")
    val lagged = DistRank.withGroupLag(df, $"g", Seq($"ord".asc), "x", "px")
    val summed = DistRank.withRankAndCum(df, Seq($"x".desc, $"ord".asc),
      "rank", Seq("x" -> "cx"))
    Seq(lagged, summed).foreach { f =>
      f.collect()
      val p = f.queryExecution.executedPlan.toString
      val fin = p.substring(0, math.max(0, p.indexOf("== Initial Plan ==")))
      assert(!p.contains("Window") &&
        "Exchange".r.findAllMatchIn(fin).size === 1 &&
        fin.contains("Exchange rangepartitioning"), p.take(3000))
    }
  }

  test("running sum with NULL src at partition starts == per-partition " +
      "window form") {
    import spark.implicits._
    // Only every 400th row has a value, so nearly every partition starts
    // with a NULL run. The per-partition window the stamped sum replaces
    // is NULL until the partition's first value and adds the earlier
    // partitions' sums; the window form is rebuilt over the range
    // partitions (spark_partition_id of the ranked frame).
    val df = (1 to 2000).map { i =>
      (i.toLong, if (i % 400 == 0) Some(i.toLong) else None)
    }.toDF("id", "x")
    // keep all 4 range partitions
    withoutCoalescing() {
      val r = DistRank.withRankAndCum(df, Seq($"id".asc), "rank",
        Seq("x" -> "cx"))
      val got = r.withColumn("pid", spark_partition_id())
      val inPart = Window.partitionBy($"pid").orderBy($"rank")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val upTo = Window.orderBy($"rank")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val x0 = coalesce($"x", lit(0L))
      val rows = got.withColumn("want",
          sum(x0).over(upTo) - sum(x0).over(inPart) + sum($"x").over(inPart))
        .select($"pid", $"rank", $"x", $"cx", $"want").collect()
        .sortBy(_.getLong(1))
      assert(rows.length === 2000)
      rows.foreach { w =>
        assert(Option(w.get(3)) === Option(w.get(4)), w.toString)
      }
      // the case is really exercised: a later partition starts with NULLs
      // while the rows before it have a sum
      val starts = rows.indices.filter(i => i > 0 &&
        rows(i).getInt(0) != rows(i - 1).getInt(0)).map(rows(_))
      assert(starts.exists(w => w.isNullAt(2) && w.isNullAt(3)),
        rows.map(_.getInt(0)).distinct.mkString(","))
      assert(rows.last.getLong(3) === (1 to 5).map(_ * 400L).sum)
    }
    // an overflowing running sum raises, as ANSI sum does
    val big = Seq((1L, Long.MaxValue), (2L, 1L)).toDF("id", "x")
    intercept[Exception] {
      DistRank.withRankAndCum(big, Seq($"id".asc), "rank",
        Seq("x" -> "cx")).collect()
    }
  }

  test("group lag across 4 pinned range partitions == partitioned lag " +
      "window") {
    import spark.implicits._
    // At test sizes AQE coalesces the range exchange to ONE partition, so
    // the lag test above never reaches the previous partition's last row.
    // With coalescing off, 4 partitions meet it, with group changes inside
    // and at partition starts.
    val df = (1 to 3001).map { i =>
      (s"t${i % 3}", i.toLong * 7,
        if (i % 97 == 0) None else Some(i.toLong * 13))
    }.toDF("g", "ord", "x")
    withoutCoalescing() {
      val lagged = DistRank.withGroupLag(df, $"g", Seq($"ord".asc), "x", "px")
      val parts = lagged.select(spark_partition_id()).distinct().count()
      assert(parts > 1, s"$parts partition(s)")
      val w = Window.partitionBy($"g").orderBy($"ord".asc)
      def byKey(f: org.apache.spark.sql.DataFrame) = f
        .select($"g", $"ord", $"px").collect()
        .map(r => (r.getString(0), r.getLong(1)) ->
          (if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
      assert(byKey(lagged) === byKey(df.withColumn("px", lag($"x", 1).over(w))))
    }
  }

  test("quartile-from-rank matches ntile(4) at awkward row counts") {
    import spark.implicits._
    // The events_rfm bucket formula: boundary(i) = i*(n/4) + min(i, n%4),
    // bucket = 1 + Σ [rank > boundary(i)] — must equal SQL ntile for every
    // remainder class, including n < 4.
    for (n <- Seq(1, 2, 3, 4, 5, 7, 8, 100, 101, 102, 103)) {
      val df = (1 to n).map(i => (i.toLong, s"u$i")).toDF("v", "u")
      val expected = df.withColumn("q",
          ntile(4).over(Window.orderBy($"v".asc, $"u".asc)).cast("long"))
        .select($"u", $"q").collect().map(r => r.getString(0) -> r.getLong(1))
      val ranked = DistRank.withRank(df, Seq($"v".asc, $"u".asc), "r")
      def boundary(i: Long): Long = i * (n / 4) + math.min(i, n % 4)
      val got = ranked.withColumn("q",
          (lit(1L) + when($"r" > boundary(1), 1L).otherwise(0L)
            + when($"r" > boundary(2), 1L).otherwise(0L)
            + when($"r" > boundary(3), 1L).otherwise(0L)).cast("long"))
        .select($"u", $"q").collect().map(r => r.getString(0) -> r.getLong(1))
      assert(got.toMap === expected.toMap, s"n=$n")
    }
  }

  test("building every entry point's frame starts no Spark job") {
    import spark.implicits._
    val df = (1 to 200)
      .map(i => (s"u$i", s"t${i % 3}", i.toLong, (i % 7).toLong))
      .toDF("u", "g", "ord", "x")
    val log = new StageLog
    spark.sparkContext.addSparkListener(log)
    try {
      Sessions.drainListeners(spark)
      val j0 = log.jobs.get
      DistRank.withRank(df, Seq($"ord".asc), "r")
      DistRank.withRankAndCum(df, Seq($"ord".asc), "r", Seq("x" -> "cx"))
      DistRank.withGroupRank(df, $"g", Seq($"ord".asc), "r", Some("n"))
      DistRank.withGroupLag(df, $"g", Seq($"ord".asc), "x", "px")
      DistRank.withRanksPivoted(df, "u", Seq(
        ($"ord".cast("double"), "r1"), ((-$"x").cast("double"), "r2")))
      Sessions.drainListeners(spark)
      assert(log.jobs.get === j0)
    } finally spark.sparkContext.removeSparkListener(log)
  }

  /** Each entry point on `df` (columns u, g, ord, x) against its window
    * form, as sorted row strings. */
  private def againstWindows(df: org.apache.spark.sql.DataFrame): Unit = {
    import spark.implicits._
    val all = Window.orderBy($"ord".asc, $"u".asc)
    val inG = Window.partitionBy($"g").orderBy($"ord".asc, $"u".asc)
    def rows(f: org.apache.spark.sql.DataFrame, cols: String*) =
      f.select(cols.map(col): _*).collect().map(_.toString).sorted.toSeq
    assert(rows(DistRank.withRankAndCum(df, Seq($"ord".asc, $"u".asc), "r",
        Seq("x" -> "cx")), "u", "r", "cx") ===
      rows(df.withColumn("r", row_number().over(all).cast("long"))
        .withColumn("cx", sum($"x").over(all.rowsBetween(
          Window.unboundedPreceding, Window.currentRow))), "u", "r", "cx"))
    assert(rows(DistRank.withGroupRank(df, $"g", Seq($"ord".asc, $"u".asc),
        "r", Some("n")), "u", "r", "n") ===
      rows(df.withColumn("r", row_number().over(inG).cast("long"))
        .withColumn("n", count(lit(1)).over(Window.partitionBy($"g"))),
        "u", "r", "n"))
    assert(rows(DistRank.withGroupLag(df, $"g", Seq($"ord".asc, $"u".asc),
        "x", "px"), "u", "px") ===
      rows(df.withColumn("px", lag($"x", 1).over(inG)), "u", "px"))
    assert(rows(DistRank.withRanksPivoted(df, "u", Seq(
        ($"ord".cast("double"), "r1"), ((-$"x").cast("double"), "r2"))),
        "u", "r1", "r2") ===
      rows(df.withColumn("r1", row_number().over(all).cast("long"))
        .withColumn("r2", row_number().over(
          Window.orderBy($"x".desc, $"u".asc)).cast("long")), "u", "r1", "r2"))
  }

  test("empty input == window forms") {
    import spark.implicits._
    againstWindows(Seq.empty[(String, String, Long, Long)]
      .toDF("u", "g", "ord", "x"))
  }

  test("fewer rows than requested range partitions == window forms") {
    import spark.implicits._
    // 3 rows over 8 requested range partitions. The range partitioner
    // never makes more partitions than it sampled distinct keys, so this
    // is one row per partition: every row is its partition's first and
    // last, and every rank, sum and lag crosses a partition boundary.
    val df = Seq(("u1", "a", 3L, 5L), ("u2", "a", 1L, 7L), ("u3", "b", 2L, 9L))
      .toDF("u", "g", "ord", "x")
    withoutCoalescing("spark.sql.shuffle.partitions" -> "8") {
      val parts = DistRank.withRank(df, Seq($"ord".asc, $"u".asc), "r")
        .rdd.getNumPartitions
      assert(parts === 3, s"$parts partition(s)")
      againstWindows(df)
    }
  }
}
