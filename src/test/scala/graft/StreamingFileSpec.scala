package graft

import graft.streaming.{Ev, EvT, StreamOps}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Shared truth + plumbing for the streaming suites. */
object StreamTestUtil {
  /** Batch gap-sessionization truth (30-min gap), aggregated to one
    * sorted session list per user — the comparison target for every
    * sessionizer twin (was inlined twice in StreamingSpec). */
  def batchSessionsPerUser(spark: SparkSession, sfDir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id")
      .orderBy(col("ts_us").asc, col("event_id").asc)
    val gapUs = 30L * 60 * 1000000
    Tables.table(spark, sfDir, "events")
      .withColumn("new_s", when(col("ts_us") - lag("ts_us", 1).over(w)
        > gapUs || lag("ts_us", 1).over(w).isNull, 1L).otherwise(0L))
      .withColumn("sid", sum("new_s").over(w.rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .groupBy("user_id", "sid")
      .agg(min("ts_us").as("start_us"),
        (max("ts_us") - min("ts_us")).as("span_us"),
        count(lit(1)).as("ev_cnt"),
        (sum(expr("cast(round(value * 100) as bigint)")) / 100.0)
          .as("sum_value"))
      .groupBy("user_id")
      .agg(sort_array(collect_list(struct(col("start_us"), col("span_us"),
        col("ev_cnt"), col("sum_value")))).as("sessions"))
  }

  /** Assert the streamed (user_id, start_us, span_us, ev_cnt, sum_value)
    * rows equal [[batchSessionsPerUser]] for every real user. */
  def assertSessionsMatchBatch(spark: SparkSession, sfDir: String,
      streamed: DataFrame): Unit = {
    val perUser = streamed
      .filter(col("user_id") >= 0)
      .groupBy("user_id")
      .agg(sort_array(collect_list(struct(col("start_us"), col("span_us"),
        col("ev_cnt"), col("sum_value")))).as("sessions"))
    val batch = batchSessionsPerUser(spark, sfDir)
    assert(perUser.count() == batch.count(),
      "streamed user count must equal batch truth")
    val diff = perUser.as("s").join(batch.as("b"), "user_id")
      .filter(col("s.sessions") =!= col("b.sessions")).count()
    assert(diff == 0, "streamed sessions must equal batch truth")
  }

  def withRocksDb[A](spark: SparkSession)(body: => A): A = {
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try body
    finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }
}

/** End-to-end file-source streaming: readStream over a growing parquet
  * directory → transform → sink, i.e. the deployment shape of the
  * streaming twins (MemoryStream covers semantics; these cover the
  * source/sink/checkpoint/RocksDB-timer machinery against real
  * parquet-derived input: the sessionizer and the funnel detector run on
  * the sf0.01 event fixture, in order and scrambled). */
class StreamingFileSpec extends AnyFunSuite with TempDirs {
  import TestSpark._
  import spark.implicits._

  /** Write `rows` as one parquet file appended to `src` (one stream batch
    * per call when the caller drains between calls). */
  private def appendFile(src: String, rows: Seq[Row],
      schema: org.apache.spark.sql.types.StructType): Unit =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), schema)
      .write.mode("append").parquet(src)

  test("parquet->parquet streaming is exactly-once across restart") {
    val base = tempDir("graft_stream")
    val (src, out, ckpt) = (s"$base/src", s"$base/out", s"$base/ckpt")
    val events = Tables.table(spark, sf, "events")
      .select("event_id", "ts_us", "user_id", "event_type", "value")
    val chunks = events.collect().grouped(400).toSeq
    def writeChunk(i: Int): Unit = appendFile(src, chunks(i), events.schema)

    def startQuery() = spark.readStream.schema(events.schema).parquet(src)
      .filter(col("event_type") === "purchase")
      .withColumn("value_cents",
        expr("cast(round(value * 100) as bigint)"))
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .outputMode("append").start()

    assert(chunks.size >= 2, "fixture too small to exercise a restart")
    // all but the last chunk before the restart, the last one after;
    // the source dir must exist before the stream starts
    writeChunk(0)
    val q1 = startQuery()
    try {
      q1.processAllAvailable()
      chunks.indices.drop(1).dropRight(1).foreach { i =>
        writeChunk(i)
        q1.processAllAvailable()
      }
    } finally q1.stop()
    // restart from the checkpoint; only the new chunk may be processed
    writeChunk(chunks.size - 1)
    val q2 = startQuery()
    try q2.processAllAvailable() finally q2.stop()

    val streamed = spark.read.parquet(out)
    val expected = events.filter(col("event_type") === "purchase")
    assert(streamed.count() === expected.count(), "exactly-once violated")
    assert(streamed.join(expected, Seq("event_id"), "left_anti")
      .count() === 0)
    assert(streamed.agg(sum("value_cents")).head.getLong(0) ===
      expected.agg(sum(expr("cast(round(value * 100) as bigint)")))
        .head.getLong(0))
  }

  // The driver-grade SF: a regression in the RocksDB/timer path must fail
  // against the same parquet-derived input the correctness gate reads.
  private val sf001 = "/root/testdata/sf0.01"

  test("file-source timer sessionizer matches batch on sf0.01 events") {
    StreamTestUtil.withRocksDb(spark) {
      val base = tempDir("graft_ftws")
      val src = s"$base/src"
      val ev = Tables.table(spark, sf001, "events")
        .select("event_id", "ts_us", "user_id", "event_type", "value")
        .withColumn("ts_t", timestamp_micros(col("ts_us")))
      // in-order replay: files arrive in event-time order, one
      // micro-batch each; with a 1-hour watermark sessions are
      // finalized mid-stream while each user's unfinished suffix stays
      // buffered
      val rows = ev.orderBy("ts_us", "event_id").collect().toSeq
      val maxUs = rows.map(_.getLong(1)).max
      appendFile(src, rows.take(2000), ev.schema)
      val q = StreamOps.sessionizeBuffered(
        spark.readStream.schema(ev.schema).parquet(src)
          .withWatermark("ts_t", "1 hour").as[EvT])
        .writeStream.format("memory").queryName("file_tws")
        .outputMode("append").start()
      try {
        q.processAllAvailable()
        rows.drop(2000).grouped(2000).foreach { chunk =>
          appendFile(src, chunk, ev.schema)
          q.processAllAvailable()
        }
        assert(spark.table("file_tws").count() > 0,
          "the watermark must finalize sessions before the sentinels")
        // two far-future sentinel files: the first advances the global
        // watermark past every open deadline, the second triggers the
        // batch in which those timers fire (the MemoryStream twin's trick,
        // here crossing the file-source + RocksDB timer path)
        Seq(10L, 20L).zipWithIndex.foreach { case (d, i) =>
          val us = maxUs + d * 86400L * 1000000L
          appendFile(src, Seq(Row(-1L - i, us, -1L, "sentinel", 0.0,
            new java.sql.Timestamp(us / 1000))), ev.schema)
          q.processAllAvailable()
        }
        StreamTestUtil.assertSessionsMatchBatch(spark, sf001,
          spark.table("file_tws"))
      } finally q.stop()
    }
  }

  test("file-source funnel detector matches batch events_funnel on sf0.01") {
    StreamTestUtil.withRocksDb(spark) {
      val base = tempDir("graft_ffun")
      val src = s"$base/src"
      val ev = Tables.table(spark, sf001, "events")
        .select("event_id", "ts_us", "user_id", "event_type", "value")
        .withColumn("ts_t", timestamp_micros(col("ts_us")))
      // in-order replay: files arrive in event-time order, one micro-batch
      // each; with a 1-hour watermark verdicts are decided mid-stream
      val rows = ev.orderBy("ts_us", "event_id").collect().toSeq
      val maxUs = rows.map(_.getLong(1)).max
      appendFile(src, rows.take(2000), ev.schema)
      val q = StreamOps.funnelWatermarked(
        spark.readStream.schema(ev.schema).parquet(src)
          .withWatermark("ts_t", "1 hour").as[EvT])
        .writeStream.format("memory").queryName("file_funnel")
        .outputMode("append").start()
      try {
        q.processAllAvailable()
        rows.drop(2000).grouped(2000).foreach { chunk =>
          appendFile(src, chunk, ev.schema)
          q.processAllAvailable()
        }
        // two far-future sentinel files: the first advances the watermark
        // past every pending purchase deadline, the second triggers the
        // batch in which those timers fire
        Seq(10L, 20L).zipWithIndex.foreach { case (d, i) =>
          val us = maxUs + d * 86400L * 1000000L
          appendFile(src, Seq(Row(-1L - i, us, -1L, "sentinel", 0.0,
            new java.sql.Timestamp(us / 1000))), ev.schema)
          q.processAllAvailable()
        }
        val streamed = spark.table("file_funnel")
          .filter(col("user_id") >= 0)
          .orderBy("user_id").collect().toSeq
        val batch = Registry.queries("events_funnel")(spark, sf001)
          .select("user_id", "v_us", "c_us", "p_us")
          .orderBy("user_id").collect().toSeq
        assert(streamed.nonEmpty)
        assert(streamed === batch)
      } finally q.stop()
    }
  }

  test("buffered sessionizer matches batch on an OUT-OF-ORDER replay") {
    StreamTestUtil.withRocksDb(spark) {
      val base = tempDir("graft_bsess")
      val src = s"$base/src"
      val ev = Tables.table(spark, sf001, "events")
        .select("event_id", "ts_us", "user_id", "event_type", "value")
        .withColumn("ts_t", timestamp_micros(col("ts_us")))
      // same deterministic scramble as the watermarked-funnel test:
      // (event_id % 7, event_id) is uncorrelated with event time, so
      // every micro-batch spans the whole fixture and sessions routinely
      // receive events out of order — including the "> gap BEFORE the
      // open session" case. sessionizeBuffered's watermark contract: any
      // disorder within the delay is exact, and the 40-day delay exceeds
      // the fixture span, so nothing is dropped and batch equivalence
      // must be EXACT.
      val rows = ev.collect().toSeq
        .sortBy(r => (r.getLong(0) % 7, r.getLong(0)))
      val maxUs = rows.map(_.getLong(1)).max
      appendFile(src, rows.take(2000), ev.schema)
      val q = StreamOps.sessionizeBuffered(
        spark.readStream.schema(ev.schema).parquet(src)
          .withWatermark("ts_t", "40 days").as[EvT])
        .writeStream.format("memory").queryName("buf_sess")
        .outputMode("append").start()
      try {
        q.processAllAvailable()
        rows.drop(2000).grouped(2000).foreach { chunk =>
          appendFile(src, chunk, ev.schema)
          q.processAllAvailable()
        }
        // two far-future sentinels: advance the watermark past every
        // pending gap deadline, then trigger the batch firing the timers
        Seq(50L, 51L).zipWithIndex.foreach { case (d, i) =>
          val us = maxUs + d * 86400L * 1000000L
          appendFile(src, Seq(Row(-1L - i, us, -1L, "sentinel", 0.0,
            new java.sql.Timestamp(us / 1000))), ev.schema)
          q.processAllAvailable()
        }
        StreamTestUtil.assertSessionsMatchBatch(spark, sf001,
          spark.table("buf_sess"))
      } finally q.stop()
    }
  }

  test("streaming corpus admission matches the batch gate+dedup keep-set") {
    // StreamOps.admitDocuments = the pipeline_curate quality/lang gate
    // (shared column algebra) + first-arrival exact dedup. Replayed in
    // doc_id order, the stream must admit exactly one row per gated
    // content hash, covering exactly the batch gate's hash set.
    val base = tempDir("graft_admit")
    val src = s"$base/src"
    val docs = Tables.table(spark, sf001, "documents")
    val rows = docs.collect().toSeq.sortBy(_.getAs[Long]("doc_id"))
    appendFile(src, rows.take(100), docs.schema)
    val q = StreamOps.admitDocuments(
      spark.readStream.schema(docs.schema).parquet(src))
      .writeStream.format("memory").queryName("admit")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      rows.drop(100).grouped(100).foreach { chunk =>
        appendFile(src, chunk, docs.schema)
        q.processAllAvailable()
      }
      // Compare CONTENT hashes, not doc_ids: streaming dropDuplicates keeps
      // an arbitrary row among duplicates landing in the same micro-batch
      // (shuffle-fetch order), so a doc_id-level compare against the batch
      // min-doc_id keep-set is order-dependent and can flake (ADVICE r9).
      // The order-insensitive contract is: exactly one admission per gated
      // content hash, covering exactly the gated hash set.
      val streamedRows = spark.table("admit")
        .select("content_sha256").collect().map(_.getString(0)).toSeq
      val batch = graft.operators.Curate.gateQuality(docs)
        .select(sha2(col("text"), 256).as("h"))
        .distinct().collect().map(_.getString(0)).toSet
      assert(streamedRows.nonEmpty)
      assert(streamedRows.size === streamedRows.toSet.size,
        "a content hash was admitted more than once")
      assert(streamedRows.toSet === batch)
    } finally q.stop()
  }

  test("admission dedup state survives a checkpointed restart") {
    // The deployment property behind admitDocuments' unbounded seen-set:
    // the dropDuplicates state must be durable across a query restart, or
    // a re-offered document would be admitted twice. Phase 1 admits the
    // corpus; after a stop/restart from the same checkpoint, 30 admitted
    // documents are re-offered VERBATIM under fresh doc_ids — the
    // recovered state must reject every one.
    val base = tempDir("graft_admit2")
    val (src, out, ckpt) = (s"$base/src", s"$base/out", s"$base/ckpt")
    val docs = Tables.table(spark, sf001, "documents")
    val rows = docs.collect().toSeq.sortBy(_.getAs[Long]("doc_id"))
    def startQuery() = StreamOps.admitDocuments(
        spark.readStream.schema(docs.schema).parquet(src))
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .outputMode("append").start()
    appendFile(src, rows, docs.schema)
    val q1 = startQuery()
    try q1.processAllAvailable() finally q1.stop()
    val admitted = spark.read.parquet(out)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(admitted.nonEmpty)
    val dupRows = rows.filter(r => admitted(r.getAs[Long]("doc_id")))
      .take(30).map(r => Row(r.getAs[Long]("doc_id") + 100000L,
        r.getAs[String]("text"), r.getAs[String]("lang"),
        r.getAs[String]("source"), r.getAs[Long]("n_chars")))
    assert(dupRows.length === 30)
    appendFile(src, dupRows, docs.schema)
    val q2 = startQuery()
    try q2.processAllAvailable() finally q2.stop()
    val after = spark.read.parquet(out)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // Order-insensitive across restart (VERDICT r10 task 6): WHICH doc_id
    // of a same-microbatch duplicate pair dropDuplicates kept is arbitrary
    // on a replayed batch, so doc_id-SET equality can flake; assert
    // instead that (a) no re-offered duplicate was admitted — all shifted
    // ids sit ≥ +100000, outside the corpus range — and (b) the admission
    // count is unchanged; content-set equality is pinned below.
    assert(after.forall(_ < 100000L),
      "a re-offered duplicate (shifted doc_id) was admitted after restart")
    assert(after.size === admitted.size,
      "admission count changed across restart")
    // and the final admitted CONTENT set still equals the batch gate's hash
    // set, with exactly one admission per hash — order-insensitive, unlike
    // the old min-doc_id keep-set compare, which depended on which of the
    // same-micro-batch duplicates dropDuplicates happened to keep
    // (ADVICE r9).
    val afterHashes = spark.read.parquet(out)
      .select("content_sha256").collect().map(_.getString(0)).toSeq
    val batch = graft.operators.Curate.gateQuality(docs)
      .select(sha2(col("text"), 256).as("h"))
      .distinct().collect().map(_.getString(0)).toSet
    assert(afterHashes.size === afterHashes.toSet.size,
      "a content hash was admitted more than once")
    assert(afterHashes.toSet === batch)
  }

  test("admission is exactly-once under a mid-batch kill + source replay") {
    // VERDICT r9 task 6: the crash window the clean-restart test above
    // cannot reach — the query dies AFTER a batch's offsets are written
    // (and its sink output and state deltas may exist) but BEFORE its
    // commit-log entry. On restart the file source REPLAYS that batch's
    // exact file set from the offset WAL, so every row in it is offered
    // twice; and the retry arrives alongside a genuinely-new input file
    // that duplicates 30 already-admitted documents verbatim.
    // Exactly-once admission then rests on three mechanisms at once: the
    // state store rolling back to the pre-batch version for the replay,
    // the parquet sink's _spark_metadata log suppressing the replayed
    // batch's second write, and the recovered dedup state rejecting the
    // re-offered content. The kill is simulated deterministically by
    // deleting the newest commits/<n> entry from the checkpoint — the
    // exact on-disk state a kill -9 in that window leaves behind.
    val base = tempDir("graft_admit3")
    val (src, out, ckpt) = (s"$base/src", s"$base/out", s"$base/ckpt")
    val docs = Tables.table(spark, sf001, "documents")
    val rows = docs.collect().toSeq.sortBy(_.getAs[Long]("doc_id"))
    def startQuery() = StreamOps.admitDocuments(
        spark.readStream.schema(docs.schema).parquet(src))
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .outputMode("append").start()
    // two appends, drained separately → two committed batches (0 and 1)
    appendFile(src, rows.take(400), docs.schema)
    val q1 = startQuery()
    try {
      q1.processAllAvailable()
      appendFile(src, rows.drop(400), docs.schema)
      q1.processAllAvailable()
    } finally q1.stop()
    val admitted = spark.read.parquet(out)
      .select("content_sha256").collect().map(_.getString(0)).toSeq
    assert(admitted.size === admitted.toSet.size)
    // surgically un-commit the newest batch: offsets/<n> stays, commits/<n>
    // goes — the restart must treat batch <n> as in-flight and re-run it
    val commits = new java.io.File(s"$ckpt/commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toLong)
    assert(commits.length >= 2, "need two committed batches to un-commit one")
    val victim = commits.last
    assert(victim.delete(), s"could not delete $victim")
    // the local-FS checkpoint also keeps a Hadoop checksum shadow
    // (.<n>.crc); leaving it behind makes the re-commit's atomic rename
    // fail as a phantom concurrent-query conflict
    val crc = new java.io.File(victim.getParent, s".${victim.getName}.crc")
    if (crc.exists()) assert(crc.delete(), s"could not delete $crc")
    // plus a real duplicate input file: 30 admitted docs verbatim under
    // fresh doc_ids (a retrying upstream producer)
    def sha256Hex(s: String): String =
      java.security.MessageDigest.getInstance("SHA-256")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val dupRows = rows.filter(r =>
        admitted.toSet.contains(sha256Hex(r.getAs[String]("text"))))
      .take(30).map(r => Row(r.getAs[Long]("doc_id") + 200000L,
        r.getAs[String]("text"), r.getAs[String]("lang"),
        r.getAs[String]("source"), r.getAs[Long]("n_chars")))
    assert(dupRows.length === 30)
    appendFile(src, dupRows, docs.schema)
    val q2 = startQuery()
    try q2.processAllAvailable() finally q2.stop()
    // the replayed batch must not re-emit, the duplicate file must not
    // admit: final content set == batch gate's hash set, each exactly once
    val afterHashes = spark.read.parquet(out)
      .select("content_sha256").collect().map(_.getString(0)).toSeq
    val batchTruth = graft.operators.Curate.gateQuality(docs)
      .select(sha2(col("text"), 256).as("h"))
      .distinct().collect().map(_.getString(0)).toSet
    assert(afterHashes.size === afterHashes.toSet.size,
      "mid-batch replay re-admitted a content hash")
    assert(afterHashes.toSet === batchTruth)
  }

  test("sliding window matches batch on an OUT-OF-ORDER replay") {
    // events_sliding_window's streaming twin (VERDICT r8 task 7): windowed
    // aggregation with a watermark buffers all open windows, so the same
    // deterministic scramble the sessionizer/funnel OOO tests use must
    // yield output EXACTLY equal to the batch key — nothing is dropped
    // because the 40-day horizon exceeds the fixture's event-time span.
    val base = tempDir("graft_slide")
    val src = s"$base/src"
    val ev = Tables.table(spark, sf001, "events")
      .select("event_id", "ts_us", "user_id", "event_type", "value")
    val rows = ev.collect().toSeq
      .sortBy(r => (r.getLong(0) % 7, r.getLong(0)))
    val maxUs = rows.map(_.getLong(1)).max
    appendFile(src, rows.take(2000), ev.schema)
    val q = StreamOps.slidingCounts(
      spark.readStream.schema(ev.schema).parquet(src).as[Ev], "40 days")
      .writeStream.format("memory").queryName("slide_win")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      rows.drop(2000).grouped(2000).foreach { chunk =>
        appendFile(src, chunk, ev.schema)
        q.processAllAvailable()
      }
      // far-future sentinels push the watermark past every fixture
      // window's end so append mode finalizes them all
      Seq(50L, 51L).zipWithIndex.foreach { case (d, i) =>
        val us = maxUs + d * 86400L * 1000000L
        appendFile(src, Seq(Row(-1L - i, us, -1L, "sentinel", 0.0)),
          ev.schema)
        q.processAllAvailable()
      }
      // drop the sentinel-only windows (they start ≥ maxUs + 50 days;
      // every fixture window starts ≤ maxUs) — lexicographic compare is
      // chronological for "yyyy-MM-dd HH:mm:ss"
      val cutoff = java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd HH:mm:ss")
        .withZone(java.time.ZoneOffset.UTC)
        .format(java.time.Instant.ofEpochSecond(maxUs / 1000000 + 86400))
      val streamed = spark.table("slide_win")
        .filter(col("window_start") < cutoff)
        .orderBy("window_start").collect().toSeq
      val batch = Registry.queries("events_sliding_window")(spark, sf001)
        .collect().toSeq
      assert(streamed.nonEmpty)
      assert(streamed === batch)
    } finally q.stop()
  }

  test("watermarked funnel matches batch on an OUT-OF-ORDER replay") {
    StreamTestUtil.withRocksDb(spark) {
      val base = tempDir("graft_wfun")
      val src = s"$base/src"
      val ev = Tables.table(spark, sf001, "events")
        .select("event_id", "ts_us", "user_id", "event_type", "value")
        .withColumn("ts_t", timestamp_micros(col("ts_us")))
      // deterministic SCRAMBLE: ordering by (event_id % 7, event_id) is
      // uncorrelated with event time, so every micro-batch carries events
      // from the whole fixture span and stages routinely arrive out of
      // order. funnelWatermarked's watermark contract: a verdict is final
      // once the watermark passes the first purchase, exact for any
      // disorder within the delay. The 40-day delay exceeds the fixture's
      // ~30-day span, so no scrambled row is ever dropped and batch
      // equivalence must be EXACT.
      val rows = ev.collect().toSeq
        .sortBy(r => (r.getLong(0) % 7, r.getLong(0)))
      val maxUs = rows.map(_.getLong(1)).max
      appendFile(src, rows.take(2000), ev.schema)
      val q = StreamOps.funnelWatermarked(
        spark.readStream.schema(ev.schema).parquet(src)
          .withWatermark("ts_t", "40 days").as[EvT])
        .writeStream.format("memory").queryName("wm_funnel")
        .outputMode("append").start()
      try {
        q.processAllAvailable()
        rows.drop(2000).grouped(2000).foreach { chunk =>
          appendFile(src, chunk, ev.schema)
          q.processAllAvailable()
        }
        // two far-future sentinels: the first advances the watermark past
        // every pending purchase deadline (40-day delay included), the
        // second triggers the batch in which those timers fire
        Seq(50L, 51L).zipWithIndex.foreach { case (d, i) =>
          val us = maxUs + d * 86400L * 1000000L
          appendFile(src, Seq(Row(-1L - i, us, -1L, "sentinel", 0.0,
            new java.sql.Timestamp(us / 1000))), ev.schema)
          q.processAllAvailable()
        }
        val streamed = spark.table("wm_funnel")
          .filter(col("user_id") >= 0)
          .orderBy("user_id").collect().toSeq
        val batch = Registry.queries("events_funnel")(spark, sf001)
          .select("user_id", "v_us", "c_us", "p_us")
          .orderBy("user_id").collect().toSeq
        assert(streamed.nonEmpty)
        assert(streamed === batch)
      } finally q.stop()
    }
  }
}
