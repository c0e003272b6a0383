package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Adversarial-scale guard proofs (VERDICT r9 task 1).
  *
  * Every quadratic-blowup valve in the dedup/similarity/join family is a
  * NO-OP on the shipped fixtures (max shingle df is 25 at sf0.1, no LSH
  * bucket approaches 1000, no join key is hot), so until this spec the
  * guards that make the 100 TB story credible had never fired in a test.
  * Each test here builds a synthetic corpus that crosses a cap and proves
  * the guard fires — bounding candidate counts, spreading a hot key,
  * declining an unsafe native plan — while PLANTED true positives still
  * come through, so a guard can never pass by silently emptying the
  * output.
  */
class ScaleGuardSpec extends AnyFunSuite with TempDirs {
  import TestSpark._
  import ScaleGuardSpec._

  private def tmp(prefix: String): String = tempDir(prefix).toString

  test("shingle-df cap bounds text_ngram_jaccard candidates under a stop-shingle flood") {
    // 1200 docs all opening with the same 3-word "stop-shingle" — the
    // adversarial shape of boilerplate headers at corpus scale. Shared
    // shingle df = 1200 > the 1000 cap (Dedup text_ngram_jaccard),
    // so uncapped candidate generation would enumerate C(1200,2) pairs
    // from that one shingle alone. Every other flood shingle is unique.
    val flood = (0L until 1200L).map(i =>
      i -> s"click here now f${i}a f${i}b")
    // Planted true near-dup pair: 4 shingles each, 3 shared → J = 3/5 =
    // 0.6 > the 0.5 emit threshold. Its shingles have df = 2 ≤ cap.
    val planted = Seq(
      5001L -> "alpha beta gamma delta epsilon zeta",
      5002L -> "alpha beta gamma delta epsilon eta")
    val dir = tmp("graft_sg_shingle")
    writeDocs(dir, flood ++ planted)

    // End-to-end through the registry: output is EXACTLY the planted pair
    // — the flood contributes nothing (capped away; and even uncapped its
    // pairs would fail the Jaccard threshold, which is precisely why the
    // candidate stage must never enumerate them).
    val out = Registry.queries("text_ngram_jaccard")(spark, dir).collect()
    assert(out.length === 1)
    assert(out.head.getLong(0) === 5001L && out.head.getLong(1) === 5002L)
    assert(math.abs(out.head.getAs[Double]("jaccard") - 0.6) < 1e-12)

    // Quantify what the cap prevented: rebuild the candidate stage with
    // and without the df filter (same shape as the production query).
    def shingles(capped: Boolean): DataFrame = {
      val shAll = Tables.table(spark, dir, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("w"))
        .filter(size(col("w")) >= 3)
        .select(col("doc_id"), explode(expr(
          """transform(sequence(1, size(w) - 2),
            |  i -> concat_ws(' ', element_at(w, i), element_at(w, i + 1),
            |                 element_at(w, i + 2)))""".stripMargin))
          .as("s"))
        .distinct()
      if (!capped) shAll
      else shAll.withColumn("sdf", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("s"))))
        .filter(col("sdf") <= 1000).drop("sdf")
    }
    def candidates(sh: DataFrame): Long =
      sh.select(col("doc_id").as("doc_a"), col("s"))
        .join(sh.select(col("doc_id").as("doc_b"), col("s")), "s")
        .filter(col("doc_a") < col("doc_b"))
        .select(col("doc_a"), col("doc_b")).distinct().count()
    val capped = candidates(shingles(capped = true))
    val uncapped = candidates(shingles(capped = false))
    assert(capped === 1L, "capped candidates must be the planted pair only")
    assert(uncapped >= 1200L * 1199L / 2,
      s"flood must be quadratic without the cap (got $uncapped)")
  }

  test("banded-LSH bucket cap drops a degenerate minhash bucket, keeps planted pair") {
    // 1100 byte-identical docs: identical Carter–Wegman signatures →
    // identical (band, bkey) in ALL 4 bands → every flood bucket has
    // 1100 > 1000 members and is dropped by the NearDup.Cap bucket cap
    // before pairing (exact dedup owns byte-identical text; a 1100-doc
    // bucket would otherwise contribute ~600k pairs PER BAND). The planted
    // pair is two identical docs of a different text: bucket size 2,
    // est_jaccard 1.0.
    val flood = (0L until 1100L).map(i =>
      i -> "the quick brown fox jumps over the lazy dog")
    val planted = Seq(
      7001L -> "lorem ipsum dolor sit amet consectetur",
      7002L -> "lorem ipsum dolor sit amet consectetur")
    val dir = tmp("graft_sg_band")
    writeDocs(dir, flood ++ planted)

    val pairs = Registry.queries("text_neardup_banded")(spark, dir)
      .collect()
    assert(pairs.length === 1, s"expected only the planted pair, got " +
      pairs.take(5).mkString(", "))
    assert(pairs.head.getLong(0) === 7001L
      && pairs.head.getLong(1) === 7002L)
    assert(pairs.head.getAs[Double]("est_jaccard") === 1.0)

    // The flood really was one degenerate bucket: all 1100 docs carry ONE
    // identical signature row (via the oracle-checked signature key), so
    // without the cap the band join would enumerate ≥ C(1100,2) pairs.
    val sigs = Registry.queries("text_minhash_sig")(spark, dir)
      .filter(col("doc_id") < 5000L)
      .select((0 until 8).map(i => col(s"mh$i")): _*)
      .distinct().count()
    assert(sigs === 1L,
      "flood docs must share one signature (the degenerate bucket)")
  }

  test("SRP bucket cap drops a degenerate embedding bucket, keeps planted pair") {
    // 1100 identical vectors → identical sign patterns against all 16
    // fixed hyperplanes → one (band, bsig) bucket of 1100 > 1000 in BOTH
    // bands → dropped by srpCapped before the candidate join. The planted
    // pair is two copies of a DIFFERENT basis vector whose signature
    // differs from the flood's (axis 0 vs axis 1 dot the literal planes
    // with different signs), so its bucket of 2 survives: cos_sim = 1.0.
    val dim = 64
    val floodVec = Array.tabulate(dim)(j => if (j == 0) 1.0f else 0.0f)
    val plantVec = Array.tabulate(dim)(j => if (j == 1) 1.0f else 0.0f)
    val rows = (0L until 1100L).map(i => (i, floodVec.toSeq, 0)) ++
      Seq((9001L, plantVec.toSeq, 1), (9002L, plantVec.toSeq, 1))
    val dir = tmp("graft_sg_srp")
    writeEmbeddings(dir, rows)

    val pairs = Registry.queries("vec_neardup_srp_fixed")(spark, dir)
      .collect()
    assert(pairs.length === 1, s"expected only the planted pair, got " +
      pairs.take(5).mkString(", "))
    assert(pairs.head.getAs[Long]("a_id") === 9001L
      && pairs.head.getAs[Long]("b_id") === 9002L)
    assert(math.abs(pairs.head.getAs[Double]("cos_sim") - 1.0) < 1e-12)
  }

  test("salting spreads a hot join key across reducers (measured histogram)") {
    // 150k of 160k fact rows share one supplier key — the hot-key shape
    // join_skew_salted exists for. Build the fixture, check the salted
    // query still matches the plain-join truth, then measure the reducer
    // histogram both ways using Spark's OWN partition placement:
    // HashPartitioning routes a row to pmod(murmur3(keys), P), which is
    // exactly the SQL hash() function — so the per-reducer row counts
    // below are the real shuffle distribution of each plan, not a model.
    val dir = tmp("graft_sg_salt")
    val liSchema = StructType(Seq(
      StructField("l_orderkey", LongType, nullable = false),
      StructField("l_suppkey", LongType, nullable = false),
      StructField("l_extendedprice", DoubleType, nullable = false)))
    val liRows = (0L until 160000L).map { i =>
      val supp = if (i < 150000L) 1L else 2L + (i % 9L)
      Row(i, supp, (i % 1000L) + 0.25)
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(liRows, 8), liSchema)
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val supSchema = StructType(Seq(
      StructField("s_suppkey", LongType, nullable = false),
      StructField("s_name", StringType, nullable = false)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        (1L to 10L).map(k => Row(k, s"Supplier#$k")), 1), supSchema)
      .write.mode("overwrite").parquet(s"$dir/supplier.parquet")

    // correctness on the adversarial fixture: salted == plain join
    val salted = Registry.queries("join_skew_salted")(spark, dir)
      .collect().toSeq
    val plain = Tables.table(spark, dir, "lineitem")
      .join(Tables.table(spark, dir, "supplier"),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_suppkey"), col("s_name"))
      .agg(Det.dsum(col("l_extendedprice"), 2).as("revenue"),
        count(lit(1)).as("line_cnt"))
      .orderBy(col("s_suppkey")).collect().toSeq
    assert(salted === plain)

    // reducer histogram at a production-ish partition count
    val p = 32
    def maxReducerRows(keys: Seq[org.apache.spark.sql.Column]): Long =
      Tables.table(spark, dir, "lineitem")
        .withColumn("salt", pmod(col("l_orderkey"), lit(8L)))
        .groupBy(pmod(hash(keys: _*), lit(p)).as("pid"))
        .agg(count(lit(1)).as("n"))
        .agg(max(col("n"))).head.getLong(0)
    val unsaltedMax = maxReducerRows(Seq(col("l_suppkey")))
    val saltedMax = maxReducerRows(Seq(col("l_suppkey"), col("salt")))
    assert(unsaltedMax >= 150000L,
      s"precondition: the hot key melts one reducer (max=$unsaltedMax)")
    assert(saltedMax * 4 <= unsaltedMax,
      s"salting must spread the hot key ≥4×: salted max $saltedMax vs " +
        s"unsalted max $unsaltedMax")
    // and the salted plan really shuffle-hash-joins on the salted key
    val plan = Registry.queries("join_skew_salted")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("ShuffledHashJoin") && plan.contains("salt"))
  }

  test("TopKPerGroup byte guard is driven by measured child stats, not a conf floor") {
    // PlanSpec already proves a 1-byte budget declines; this pins the
    // guard to DATA: one fixed budget, two datasets — the small fixture
    // engages the native heap operator, a 40× larger synthetic orders
    // table DECLINES under the same budget because its measured
    // stats/partition estimate crosses it (the production OOM valve).
    val dir = tmp("graft_sg_topk")
    val oSchema = StructType(Seq(
      StructField("o_orderkey", LongType, nullable = false),
      StructField("o_custkey", LongType, nullable = false),
      StructField("o_totalprice", DoubleType, nullable = false)))
    val rows = (0L until 200000L).map(i =>
      Row(i, i % 500L, (i * 37L % 100000L) + 0.5))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 8), oSchema)
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")

    def childStatsPerPartition(d: String): BigInt = {
      val plan = Registry.queries("topk_per_group")(spark, d)
        .queryExecution.optimizedPlan
      val stats = plan.collectFirst {
        case t: graft.plans.TopKPerGroup => t.child.stats.sizeInBytes
      }
      assert(stats.nonEmpty, "native node must engage at default budget")
      stats.get / math.max(1,
        org.apache.spark.sql.internal.SQLConf.get.numShufflePartitions)
    }
    val small = childStatsPerPartition(sf)
    val big = childStatsPerPartition(dir)
    assert(big > small * 4,
      s"precondition: synthetic orders must dwarf sf0.001 ($big vs $small)")
    // one budget between the two estimates: data decides, not the conf
    val budget = (small + (big - small) / 2).toString
    spark.conf.set("graft.topk.maxFinalBytesPerPartition", budget)
    try {
      val pSmall = Registry.queries("topk_per_group")(spark, sf)
        .queryExecution.executedPlan.toString
      assert(pSmall.contains("TopKFinal"),
        s"small input must stay native under budget $budget")
      val pBig = Registry.queries("topk_per_group")(spark, dir)
        .queryExecution.executedPlan.toString
      assert(!pBig.contains("TopKFinal") && pBig.contains("WindowGroupLimit"),
        s"large input must decline to the sort-spill window under " +
          s"budget $budget:\n${pBig.take(2000)}")
      // the declined plan still computes the right answer
      val declined = Registry.queries("topk_per_group")(spark, dir)
        .limit(9).collect()
      assert(declined.length === 9)
    } finally spark.conf.unset("graft.topk.maxFinalBytesPerPartition")
  }

  test("bench detail-path routing: a wrong-SF run cannot overwrite the " +
      "anchor") {
    // r14 (VERDICT r13 task 3): the tracked sf0.1 anchor bench_detail.json
    // gates scripts/bench_budgets.py and scale_compare.py; in r13 an
    // unfiltered sf0.001 run silently clobbered it. Only the anchor SF may
    // route there; everything else must land in its own file.
    import graft.Bench.detailPathFor
    assert(detailPathFor(None, filtered = false, "/root/testdata/sf0.1")
      === "bench_detail.json")
    assert(detailPathFor(None, filtered = false, "/root/testdata/sf0.001")
      === "bench_detail_sf0.001.json")
    assert(detailPathFor(None, filtered = false, "/tmp/grown 100x/data")
      === "bench_detail_data.json")
    // a key-filtered run never touches the anchor, even at the anchor SF
    assert(detailPathFor(None, filtered = true, "/root/testdata/sf0.1")
      === "bench_detail_partial.json")
    // explicit override always wins
    assert(detailPathFor(Some("x.json"), filtered = false,
      "/root/testdata/sf0.1") === "x.json")
    // r15 (ADVICE r14): the anchor compare canonicalizes, so a trailing
    // slash or dot-segment spelling of the anchor SF still routes to the
    // tracked file instead of silently leaving it stale
    assert(detailPathFor(None, filtered = false, "/root/testdata/sf0.1/")
      === "bench_detail.json")
    assert(detailPathFor(None, filtered = false,
      "/root/testdata/../testdata/sf0.1") === "bench_detail.json")
  }

  test("bench line-path routing: the stdout-line copy can never clobber " +
      "the detail file it annotates") {
    // r17: the original anchored replaceFirst("^bench_detail", …) was a
    // no-op on GRAFT_BENCH_DETAIL overrides whose basename doesn't start
    // with "bench_detail" — the line was then written to the DETAIL path,
    // silently destroying the per-key metrics it was meant to accompany.
    import graft.Bench.linePathFor
    assert(linePathFor("bench_detail.json") === "bench_line.json")
    assert(linePathFor("bench_detail_partial.json")
      === "bench_line_partial.json")
    assert(linePathFor("bench_detail_sf0.001.json")
      === "bench_line_sf0.001.json")
    assert(linePathFor("target/sfx/bench_detail_grown.json")
      === "target/sfx/bench_line_grown.json")
    // override without the prefix: suffix, never overwrite
    assert(linePathFor("/tmp/pretok30.json") === "/tmp/pretok30.json.line")
    // a DIRECTORY named bench_detail* must not be rewritten — only the
    // basename routes
    assert(linePathFor("/tmp/bench_detail_runs/x.json")
      === "/tmp/bench_detail_runs/x.json.line")
    // every line path differs from its detail path, by construction
    Seq("bench_detail.json", "x.json", "/a/b.json").foreach { p =>
      assert(linePathFor(p) !== p)
    }
  }

  test("bench key selection: typos and empty ONLY filters fail loudly") {
    // a misspelled or empty filter must not silently run zero keys and
    // exit 0 with a near-empty artifact
    import graft.Bench.selectKeys
    val all = Set("a", "b", "text_ngram_jaccard")
    assert(selectKeys(all, None) === all)
    assert(selectKeys(all, Some(Set("a", "b"))) === Set("a", "b"))
    intercept[IllegalArgumentException] {
      selectKeys(all, Some(Set("a", "text_ngram_jacard"))) // typo
    }
    intercept[IllegalArgumentException] {
      selectKeys(all, Some(Set.empty))
    }
  }

  test("data-driven initialPartitionNum: 8*cpus floor at every fixture " +
      "SF, footprint/advisory above it, 4096 cap") {
    // r16 (VERDICT r15 task 3): the reduce-parallelism CEILING is derived
    // from the input parquet footprint so no SF needs a manual conf. Pin
    // the derivation at the three shipped SFs (all below the floor ->
    // plans identical to r15) and at synthetic footprints that exercise
    // the data-derived region and the cap.
    val adv = 16L << 20
    for (sf <- Seq("sf0.001", "sf0.01", "sf0.1"))
      assert(Sessions.initialPartitions(s"/root/testdata/$sf", 32, adv)
        === 256, s"$sf must sit at the 8*cpus floor")
    // an absent dir must fall back to the floor, never throw — the read
    // itself surfaces the real error with a better message
    assert(Sessions.initialPartitions("/nonexistent_graft_dir", 32, adv)
      === 256)
    // synthetic footprints (sparse files: length() reports logical size)
    val dir = tempDir("graft_footprint")
    def sized(gib: Long): String = {
      val f = new java.io.RandomAccessFile(
        dir.resolve("t.parquet").toFile, "rw")
      try f.setLength(gib << 30) finally f.close()
      dir.toString
    }
    // 8 GiB / 16 MiB = 512 (+1) initial partitions — above the floor,
    // so per-reducer bytes stay advisory-sized instead of data-sized
    assert(Sessions.initialPartitions(sized(8), 32, adv) === 513)
    // 128 GiB would derive 8193 — the 4096 cap binds
    assert(Sessions.initialPartitions(sized(128), 32, adv) === 4096)
  }

  test("bench env end-to-end: ONLY routes to the filtered path; _meta " +
      "stamps confs") {
    // selectKeys and detailPathFor are covered above piecewise, which is
    // exactly how a stale-artifact confusion once slipped through —
    // nothing ever ran the REAL main under the env and looked at the
    // artifact it wrote. Run graft.Bench in a subprocess (fresh JVM:
    // session confs must actually take) with an ONLY list, in a temp
    // cwd; assert the detail routes to bench_detail_partial.json
    // (filtered, never the tracked anchor) and _meta records the confs
    // the session really used.
    val cwd = tempDir("graft_benchenv")
    val mx = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments
    import scala.jdk.CollectionConverters._
    val opens = mx.asScala.filter(a =>
      a.startsWith("--add-opens") || a.startsWith("--add-exports") ||
        a.startsWith("--enable-native-access"))
    val cmd = (Seq("java", "-Xmx4g") ++ opens ++ Seq(
      "-cp", System.getProperty("java.class.path"), "graft.Bench")).asJava
    val pb = new ProcessBuilder(cmd)
    pb.directory(cwd.toFile)
    pb.redirectErrorStream(true)
    val env = pb.environment()
    env.put("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    env.put("SPARK_GRAFT_CPUS", "4")
    env.put("GRAFT_BENCH_ONLY", "scan_parquet_count")
    env.remove("GRAFT_BENCH_DETAIL") // routing itself is under test
    val p = pb.start()
    val outLog = new String(p.getInputStream.readAllBytes, "UTF-8")
    assert(p.waitFor(600, java.util.concurrent.TimeUnit.SECONDS),
      "subprocess bench did not finish in 10 min")
    assert(p.exitValue == 0, s"bench exited ${p.exitValue}:\n" +
      outLog.linesIterator.toSeq.takeRight(30).mkString("\n"))
    val detail = cwd.resolve("bench_detail_partial.json")
    assert(java.nio.file.Files.exists(detail),
      s"filtered run must write bench_detail_partial.json; cwd has: " +
        cwd.toFile.list().mkString(", "))
    val text = java.nio.file.Files.readString(detail)
    // _meta must record the conf the SESSION used (read back, not echoed)
    assert(text.contains("\"advisory_mb\": 16"),
      s"_meta must stamp advisory_mb=16; got: ${text.take(400)}")
    // sf0.001 footprint is far below 8*cpus*advisory -> the derived
    // initialPartitionNum sits at the 8*cpus floor = 32 for cpus=4
    assert(text.contains("\"initial_partitions\": 32"),
      s"_meta must stamp the derived floor 8*cpus=32; got: ${text.take(400)}")
    assert(text.contains("\"scan_parquet_count\""),
      "the ONLY-selected key must be benched")
    assert(!text.contains("\"project_arithmetic\""),
      "a key outside ONLY must not appear in the artifact")
  }

  test("per-shingle rank cap bounds mid-df jaccard candidates; planted " +
      "pair survives") {
    // r16 (VERDICT r15 task 6): the df≤1000 cap alone left shingles with
    // df in [65, 1000] contributing O(df²) pairs — the ~REP^1.7 growth
    // that made text_ngram_jaccard exactness-tier-fenced. 200 docs share
    // one opening shingle (df=200 ≤ 1000, so the df cap does NOT fire);
    // the rank cap must bound its candidates at C(64,2) while the planted
    // rare-shingle near-dup pair still comes through.
    val flood = (0L until 200L).map(i =>
      i -> s"free shipping today g${i}a g${i}b")
    val planted = Seq(
      9001L -> "alpha beta gamma delta epsilon zeta",
      9002L -> "alpha beta gamma delta epsilon eta")
    val dir = tmp("graft_sg_rankcap")
    writeDocs(dir, flood ++ planted)

    // End-to-end: the planted pair (J = 3/5 = 0.6) is the only emission —
    // flood docs keep n=3 shingles (2 unique + the shared one for the
    // first 64) so any flood pair has J = 1/5 < 0.5.
    val out = Registry.queries("text_ngram_jaccard")(spark, dir).collect()
    assert(out.length === 1)
    assert(out.head.getLong(0) === 9001L && out.head.getLong(1) === 9002L)
    assert(math.abs(out.head.getAs[Double]("jaccard") - 0.6) < 1e-12)

    // Quantify: rebuild the candidate stage with and without the rank cap
    // (production shape: distinct → df cap → rank cap).
    def shingles(rankCapped: Boolean): DataFrame = {
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("s"))
      val shAll = Tables.table(spark, dir, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("w"))
        .filter(size(col("w")) >= 3)
        .select(col("doc_id"), explode(expr(
          """transform(sequence(1, size(w) - 2),
            |  i -> concat_ws(' ', element_at(w, i), element_at(w, i + 1),
            |                 element_at(w, i + 2)))""".stripMargin))
          .as("s"))
        .distinct()
        .withColumn("sdf", count(lit(1)).over(w))
        .filter(col("sdf") <= 1000).drop("sdf")
      if (!rankCapped) shAll
      else shAll.withColumn("rnk",
          row_number().over(w.orderBy(col("doc_id"))))
        .filter(col("rnk") <= 64).drop("rnk")
    }
    def candidates(sh: DataFrame): Long =
      sh.select(col("doc_id").as("doc_a"), col("s"))
        .join(sh.select(col("doc_id").as("doc_b"), col("s")), "s")
        .filter(col("doc_a") < col("doc_b"))
        .select(col("doc_a"), col("doc_b")).distinct().count()
    val capped = candidates(shingles(rankCapped = true))
    val uncapped = candidates(shingles(rankCapped = false))
    assert(capped === 64L * 63L / 2 + 1,
      s"rank cap must bound the flood shingle at C(64,2) candidates " +
        s"plus the planted pair (got $capped)")
    assert(uncapped === 200L * 199L / 2 + 1,
      s"without the rank cap the df-200 shingle is quadratic (got $uncapped)")
  }
}

/** Planted-fixture writers, shared with [[NearDupPinSpec]]. */
object ScaleGuardSpec {
  import TestSpark._

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType, nullable = false),
    StructField("lang", StringType, nullable = false),
    StructField("source", StringType, nullable = false),
    StructField("n_chars", LongType, nullable = false)))

  private val embSchema = StructType(Seq(
    StructField("vec_id", LongType, nullable = false),
    StructField("embedding", ArrayType(FloatType, containsNull = false),
      nullable = false),
    StructField("label", IntegerType, nullable = false)))

  /** `documents` under `dir`: even ids are source src1 (the incremental
    * keys' batch), odd ids src2. */
  def writeDocs(dir: String, docs: Seq[(Long, String)]): Unit = {
    val rows = docs.map { case (id, text) =>
      Row(id, text, "en", if (id % 2 == 0) "src1" else "src2",
        text.length.toLong)
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 4), docSchema)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }

  /** `embeddings` under `dir` from (vec_id, embedding, label) rows. */
  def writeEmbeddings(dir: String, vecs: Seq[(Long, Seq[Float], Int)]): Unit =
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        vecs.map { case (id, v, label) => Row(id, v, label) }, 4), embSchema)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
}
