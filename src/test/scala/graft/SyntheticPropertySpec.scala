package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Property tests on CONTROLLED synthetic tables written to temp parquet
  * and fed through the same registered query entry points (SURVEY §5.4) —
  * the fixtures can't isolate known-Jaccard pairs or known session gaps. */
class SyntheticPropertySpec extends AnyFunSuite with TempDirs {
  import TestSpark._
  import spark.implicits._

  private def tmpSf(): String = tempDir("graft_synth").toString

  test("minhash candidates track constructed shingle-Jaccard pairs") {
    val rnd = new scala.util.Random(42)
    val vocab = (0 until 2000).map(i => s"w$i")
    // base docs of 62 distinct words; partner shares a prefix of `m` words
    // → shingle overlap ≈ (m-2)/(2*60-(m-2)) controllable via m
    val pairs = Seq(56, 40, 10) // high / medium / low overlap
    val docs = pairs.zipWithIndex.flatMap { case (m, i) =>
      val a = rnd.shuffle(vocab).take(62)
      val bTail = rnd.shuffle(vocab.filterNot(a.contains)).take(62 - m)
      val b = a.take(m) ++ bTail
      Seq((i * 2L, a.mkString(" ")), (i * 2L + 1, b.mkString(" ")))
    }
    val dir = tmpSf()
    docs.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("synth"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.parquet(s"$dir/documents.parquet")

    val cand = Registry.queries("text_minhash_neardup")(spark, dir)
      .collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) ->
        r.getAs[Double]("est_jaccard")).toMap
    // true shingle jaccard, same tokenization
    def shingles(t: String): Set[String] =
      t.split(" ").sliding(3).map(_.mkString(" ")).toSet
    val byId = docs.toMap
    pairs.zipWithIndex.foreach { case (m, i) =>
      val j = {
        val (sa, sb) = (shingles(byId(i * 2L)), shingles(byId(i * 2L + 1)))
        sa.intersect(sb).size.toDouble / sa.union(sb).size
      }
      val est = cand.get((i * 2L, i * 2L + 1))
      if (j >= 0.7)
        assert(est.isDefined, s"pair with J=$j must be a candidate")
      est.foreach(e => assert(math.abs(e - j) <= 0.4,
        s"m=$m: est=$e vs exact=$j"))
    }
  }

  test("editdist blocking cap bounds pair count on a degenerate bucket") {
    // 1200 docs share one (en, len_bucket) blocking key AND a common
    // 40-char prefix — uncapped, the fuzzy verify would emit ~720k pairs
    // (the quadratic hotspot the cap exists for). With the 1000-doc cap
    // the bucket is dropped; only the healthy 3-doc fr bucket pairs.
    val common = ("the quick brown fox jumps over the lazy dog " * 2).take(40)
    val big = (0 until 1200).map(i =>
      (i.toLong, common + s" tail$i", "en", 100L))
    val small = Seq(
      (5000L, "un deux trois quatre cinq six sept huit neuf", "fr", 60L),
      (5001L, "un deux trois quatre cinq six sept huit neuf", "fr", 60L),
      (5002L, "un deux trois quatre cinq sept six huit neuf", "fr", 60L))
    val dir = tmpSf()
    (big ++ small).toDF("doc_id", "text", "lang", "n_chars")
      .withColumn("source", lit("synth"))
      .select("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val out = Registry.queries("text_editdist_pairs")(spark, dir).collect()
    assert(out.nonEmpty, "healthy bucket must still pair")
    assert(out.forall(_.getAs[String]("lang") == "fr"),
      "over-full bucket must be excluded from the fuzzy pass")
    assert(out.length === 3)
  }

  test("dedup clusters merge transitively across different edge keys") {
    // doc 0 and 1: identical text (content-hash edge)
    // doc 1 and 2: different text, same opening 3-gram (prefix edge)
    // doc 3: isolated
    // → clusters {0,1,2} (id 0) and {3} (id 3), linked only transitively
    val docs = Seq(
      (0L, "alpha beta gamma delta epsilon zeta"),
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma completely different tail here"),
      (3L, "omega psi chi phi upsilon tau"))
    val dir = tmpSf()
    docs.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("synth"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .select("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val out = Registry.queries("text_dedup_cluster")(spark, dir)
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("cluster_id"), r.getAs[Long]("cluster_size")))
      .toMap
    assert(out(0L) === ((0L, 3L)))
    assert(out(1L) === ((0L, 3L)))
    assert(out(2L) === ((0L, 3L)), "transitive link via doc 1 must merge")
    assert(out(3L) === ((3L, 1L)))
  }

  test("scd2 on a constructed change history emits exact intervals") {
    val m = 60L * 1000000
    val base = 1700000000L * 1000000
    // user 1: view@0, view@1m (no change), click@2m, view@3m
    // user 2: single purchase
    val evs = Seq(
      (1L, 1L, base, "view"), (2L, 1L, base + m, "view"),
      (3L, 1L, base + 2 * m, "click"), (4L, 1L, base + 3 * m, "view"),
      (5L, 2L, base, "purchase"))
    val dir = tmpSf()
    evs.toDF("event_id", "user_id", "us", "event_type")
      .withColumn("ts", col("us") * 1000)
      .withColumn("value", lit(1.0))
      .withColumn("props", lit("""{"k": 3}"""))
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val out = Registry.queries("events_scd2")(spark, dir).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("version"),
        r.getAs[String]("event_type"), r.getAs[Long]("valid_from_us"),
        Option(r.get(r.fieldIndex("valid_to_us"))).map(_.asInstanceOf[Long])))
    val expected = Seq(
      (1L, 1L, "view", base, Some(base + 2 * m)),   // repeat view collapsed
      (1L, 2L, "click", base + 2 * m, Some(base + 3 * m)),
      (1L, 3L, "view", base + 3 * m, None),
      (2L, 1L, "purchase", base, None))
    assert(out.toSeq.sortBy(t => (t._1, t._2)) === expected)
  }

  test("sessionization on constructed gaps matches hand-computed sessions") {
    val minUs = 60L * 1000000
    // user 1: gaps 10m,40m,10m → sessions of 2,2 events
    // user 2: single event → 1 session
    // user 3: gaps exactly 30m (in-session), 30m+1s (split) → 2 sessions
    val base = 1700000000L * 1000000
    val evs = Seq(
      (1L, 1L, base), (2L, 1L, base + 10 * minUs),
      (3L, 1L, base + 50 * minUs), (4L, 1L, base + 60 * minUs),
      (5L, 2L, base),
      (6L, 3L, base), (7L, 3L, base + 30 * minUs),
      (8L, 3L, base + 60 * minUs + 1000000))
    val dir = tmpSf()
    evs.toDF("event_id", "user_id", "us")
      .withColumn("ts", col("us") * 1000) // INT64 nanos, like the fixture
      .withColumn("event_type", lit("view"))
      .withColumn("value", lit(1.5))
      .withColumn("props", lit("""{"k": 1}"""))
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")

    val out = Registry.queries("events_sessionization")(spark, dir)
      .collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("session_id"),
        r.getAs[Long]("ev_cnt"), r.getAs[Long]("span_us")))
    val expected = Seq(
      (1L, 1L, 2L, 10 * minUs), (1L, 2L, 2L, 10 * minUs),
      (2L, 1L, 1L, 0L),
      (3L, 1L, 2L, 30 * minUs), (3L, 2L, 1L, 0L))
    assert(out.toSeq.sorted === expected.sorted)
  }

  test("funnel detects exactly the users with ordered stage times") {
    val base = 1700000000L * 1000000
    val m = 60L * 1000000
    val evs = Seq(
      // user 1: view < click < purchase → in funnel
      (1L, 1L, base, "view"), (2L, 1L, base + m, "click"),
      (3L, 1L, base + 2 * m, "purchase"),
      // user 2: purchase before click → out
      (4L, 2L, base, "view"), (5L, 2L, base + m, "purchase"),
      (6L, 2L, base + 2 * m, "click"),
      // user 3: missing purchase → out
      (7L, 3L, base, "view"), (8L, 3L, base + m, "click"))
    val dir = tmpSf()
    evs.toDF("event_id", "user_id", "us", "event_type")
      .withColumn("ts", col("us") * 1000)
      .withColumn("value", lit(0.5))
      .withColumn("props", lit("""{"k": 2}"""))
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val users = Registry.queries("events_funnel")(spark, dir)
      .collect().map(_.getAs[Long]("user_id")).toSeq
    assert(users === Seq(1L))
  }

  test("mix schedule and temperature weights match hand-computed values") {
    // three domains with exact token counts 10 / 30 / 60 (tot=100, k=3):
    //   share_r6  = n/100 exactly
    //   mix weight = min(1, 100/(3n)) → a: 1.0, b: 100/90, c: 100/180
    //   temp_w    = sqrt(n/100) / Σ sqrt(·)
    def doc(id: Long, src: String, words: Int) =
      (id, Seq.fill(words)("w").mkString(" "), src)
    val docs = Seq(doc(0, "a", 10), doc(1, "b", 30), doc(2, "c", 60))
    val dir = tmpSf()
    docs.toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .select("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")

    val mix = Registry.queries("pipeline_mix_schedule")(spark, dir)
      .collect().map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("n_tokens"), r.getAs[Double]("share_r6"),
          r.getAs[Double]("weight_r6"))).toMap
    assert(mix("a") === ((10L, 0.1, 1.0)))
    // 100/(3*30) = 1.11... capped at 1.0; half-up r6 of 10/9 = 1.111111
    assert(mix("b") === ((30L, 0.3, 1.0)))
    // 100/(3*60) = 0.5555556 half-up at 6dp
    assert(mix("c") === ((60L, 0.6, 0.555556)))

    val tw = Registry.queries("sample_temperature")(spark, dir)
      .collect().map(r => r.getAs[String]("source") ->
        r.getAs[Double]("temp_w")).toMap
    val sq = Map("a" -> math.sqrt(0.1), "b" -> math.sqrt(0.3),
      "c" -> math.sqrt(0.6))
    // the engine folds the VALUE-sorted list: a < b < c here
    val z = sq("a") + sq("b") + sq("c")
    for (s <- Seq("a", "b", "c"))
      assert(tw(s) === sq(s) / z, s"temp_w($s)")

    val hist = Registry.queries("pipeline_token_histogram")(spark, dir)
      .collect().map(r => r.getAs[Long]("bucket") ->
        (r.getAs[Long]("bucket_lo"), r.getAs[Long]("bucket_hi"),
          r.getAs[Long]("n_docs"), r.getAs[Long]("n_tokens"))).toMap
    // 10 → bucket 3 [8,15]; 30 → bucket 4 [16,31]; 60 → bucket 5 [32,63]
    assert(hist(3L) === ((8L, 15L, 1L, 10L)))
    assert(hist(4L) === ((16L, 31L, 1L, 30L)))
    assert(hist(5L) === ((32L, 63L, 1L, 60L)))

    // single-word vocab: every token has freq=n_tot → inverse probability
    // exactly 1.0 for every doc
    val ppl = Registry.queries("text_perplexity_proxy")(spark, dir)
      .collect().map(_.getAs[Double]("mean_invp_r6")).toSeq
    assert(ppl === Seq(1.0, 1.0, 1.0))
  }
}
