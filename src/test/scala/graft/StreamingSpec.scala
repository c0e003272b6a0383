package graft

import graft.streaming.{Ev, EvT, StreamOps}
import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, Logger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Streaming twins agree with their batch formulations when the stream is
  * replayed in order (SURVEY §7.1 slice 5). */
class StreamingSpec extends AnyFunSuite {
  import TestSpark._

  private def eventRows(): Seq[Ev] = {
    Tables.table(spark, sf, "events")
      .select("event_id", "ts_us", "user_id", "event_type", "value")
      .collect()
      .map(r => Ev(r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3), r.getDouble(4)))
      .toSeq
  }

  /** `e` with its event-time column, for the watermark-driven operators. */
  private def timed(e: Ev): EvT = EvT(e.event_id, e.ts_us, e.user_id,
    e.event_type, e.value, new java.sql.Timestamp(e.ts_us / 1000))

  /** Runs `body` and returns every message logged in the JVM meanwhile
    * (executors run in-process under `local[N]`). */
  private def loggedDuring(body: => Unit): Seq[String] = {
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val capture = new AbstractAppender("graft-capture", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        lines.add(e.getMessage.getFormattedMessage)
    }
    val root = LogManager.getRootLogger.asInstanceOf[Logger]
    capture.start()
    root.addAppender(capture)
    try body
    finally { root.removeAppender(capture); capture.stop() }
    lines.toArray(Array.empty[String]).toSeq
  }

  test("streaming tumbling window matches batch events_tumbling_window") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val rows = eventRows()
    val stream = MemoryStream[Ev]
    val q = StreamOps.tumblingCounts(stream.toDS())
      .writeStream.format("memory").queryName("tumbling_test")
      .outputMode("complete").start()
    try {
      rows.grouped(400).foreach { chunk =>
        stream.addData(chunk)
        q.processAllAvailable()
      }
      val streamed = spark.table("tumbling_test")
        .orderBy("hour_start", "event_type").collect().toSeq
      val batch = Registry.queries("events_tumbling_window")(spark, sf)
        .collect().toSeq
      assert(streamed === batch)
    } finally q.stop()
  }

  test("streaming session_window produces plausible sessions") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val stream = MemoryStream[Ev]
    val q = StreamOps.sessionCounts(stream.toDS())
      .writeStream.format("memory").queryName("session_test")
      .outputMode("complete").start()
    try {
      stream.addData(eventRows())
      q.processAllAvailable()
      val sessions = spark.table("session_test")
      assert(sessions.count() > 0)
      // Session event counts must total the input size.
      assert(sessions.agg(sum("ev_cnt")).head.getLong(0)
        === eventRows().size)
    } finally q.stop()
  }

  test("dropDuplicatesWithinWatermark removes replayed duplicates") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val rows = eventRows().sortBy(e => (e.ts_us, e.event_id))
    val stream = MemoryStream[Ev]
    val q = StreamOps.dedupById(stream.toDS(), horizon = "48 hours")
      .writeStream.format("memory").queryName("dedup_test")
      .outputMode("append").start()
    try {
      // at-least-once source: every chunk is delivered twice
      rows.grouped(500).foreach { chunk =>
        stream.addData(chunk)
        stream.addData(chunk)
        q.processAllAvailable()
      }
      val streamed = spark.table("dedup_test")
      assert(streamed.count() === rows.size)
      assert(streamed.select("event_id").distinct().count() === rows.size)
    } finally q.stop()
  }

  test("stream-stream attribution join matches the batch interval join") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val rows = eventRows().sortBy(e => (e.ts_us, e.event_id))
    val views = MemoryStream[Ev]
    val purchases = MemoryStream[Ev]
    val q = StreamOps.attributionPairs(views.toDS(), purchases.toDS())
      .writeStream.format("memory").queryName("attr_test")
      .outputMode("append").start()
    try {
      rows.grouped(500).foreach { chunk =>
        views.addData(chunk.filter(_.event_type == "view"))
        purchases.addData(chunk.filter(_.event_type == "purchase"))
        q.processAllAvailable()
      }
      val streamed = spark.table("attr_test")
        .orderBy("user_id", "event_id", "view_id").collect().toSeq
      val ev = Tables.table(spark, sf, "events")
      val horizonUs = 30L * 60 * 1000000
      val batch = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"),
          col("ts_us").as("purchase_us"))
        .join(ev.filter(col("event_type") === "view")
            .select(col("user_id").as("v_user"),
              col("event_id").as("view_id"), col("ts_us").as("view_us")),
          col("user_id") === col("v_user")
            && col("view_us") <= col("purchase_us")
            && col("view_us") >= col("purchase_us") - horizonUs)
        .select("user_id", "event_id", "purchase_us", "view_id", "view_us")
        .orderBy("user_id", "event_id", "view_id").collect().toSeq
      assert(streamed.nonEmpty)
      assert(streamed === batch)
    } finally q.stop()
  }

  test("transformWithState funnel matches batch events_funnel") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    StreamTestUtil.withRocksDb(spark) {
      val rows = eventRows().sortBy(e => (e.ts_us, e.event_id))
      val maxUs = rows.map(_.ts_us).max
      val stream = MemoryStream[EvT]
      val q = StreamOps.funnelWatermarked(
        stream.toDS().withWatermark("ts_t", "1 hour").as[EvT])
        .writeStream.format("memory").queryName("funnel_test")
        .outputMode("append").start()
      try {
        rows.grouped(500).foreach { chunk =>
          stream.addData(chunk.map(timed))
          q.processAllAvailable()
        }
        // two far-future sentinel events for a synthetic user: the first
        // advances the global watermark past every pending purchase
        // deadline, the second triggers the batch in which those timers fire
        Seq(10L, 20L).zipWithIndex.foreach { case (d, i) =>
          stream.addData(Seq(timed(Ev(-1L - i,
            maxUs + d * 86400L * 1000000L, -1L, "sentinel", 0.0))))
          q.processAllAvailable()
        }
        val streamed = spark.table("funnel_test")
          .filter(col("user_id") >= 0)
          .orderBy("user_id").collect().toSeq
        val batch = Registry.queries("events_funnel")(spark, sf)
          .select("user_id", "v_us", "c_us", "p_us")
          .orderBy("user_id").collect().toSeq
        assert(streamed.nonEmpty)
        assert(streamed === batch)
      } finally q.stop()
    }
  }

  test("transformWithState timer sessionizer matches batch sessionization") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val log = loggedDuring(StreamTestUtil.withRocksDb(spark) {
      // in-order replay with a 1-hour watermark: sessions are finalized
      // mid-stream as the watermark passes their gap deadlines, while
      // each user's unfinished suffix stays buffered
      val rows = eventRows().sortBy(e => (e.ts_us, e.event_id))
      val maxUs = rows.map(_.ts_us).max
      val stream = MemoryStream[EvT]
      val q = StreamOps.sessionizeBuffered(
        stream.toDS().withWatermark("ts_t", "1 hour").as[EvT])
        .writeStream.format("memory").queryName("tws_session_test")
        .outputMode("append").start()
      try {
        rows.grouped(400).foreach { chunk =>
          stream.addData(chunk.map(timed))
          q.processAllAvailable()
        }
        assert(spark.table("tws_session_test").count() > 0,
          "the watermark must finalize sessions before the sentinels")
        // two far-future sentinel events for a synthetic user: the first
        // advances the global watermark past every open deadline, the
        // second triggers the batch in which those timers fire
        Seq(10L, 20L).zipWithIndex.foreach { case (d, i) =>
          stream.addData(Seq(timed(Ev(-1L - i,
            maxUs + d * 86400L * 1000000L, -1L, "sentinel", 0.0))))
          q.processAllAvailable()
        }
        StreamTestUtil.assertSessionsMatchBatch(spark, sf,
          spark.table("tws_session_test"))
      } finally q.stop()
    })
    // a fired timer is already gone: deleting it again logs a WARN per key
    val stale = log.filter(_.contains("Failed to delete timer"))
    assert(stale.isEmpty,
      s"${stale.size} stale timer deletes, e.g. ${stale.headOption}")
  }

  test("buffered sessionizer: inclusive gap boundary under reversed arrival") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.EvT
    StreamTestUtil.withRocksDb(spark) {
      val gapUs = 30L * 60 * 1000000
      def ev(id: Long, us: Long, v: Double): EvT =
        EvT(id, us, 7L, "view", v, new java.sql.Timestamp(us / 1000))
      // e1 and e2 are EXACTLY gap apart (inclusive boundary: same
      // session); e3 exceeds the gap by 1 µs (new session). Delivered
      // fully REVERSED, one micro-batch each — disorder that
      // sessionizeBuffered's watermark contract (exact within the delay)
      // must absorb.
      val t1 = 1000000L
      val e1 = ev(1, t1, 1.0)
      val e2 = ev(2, t1 + gapUs, 2.0)
      val e3 = ev(3, t1 + 2 * gapUs + 1, 4.0)
      val stream = MemoryStream[EvT]
      val q = graft.streaming.StreamOps.sessionizeBuffered(
        stream.toDS().withWatermark("ts_t", "30 days").as[EvT])
        .writeStream.format("memory").queryName("buf_boundary_test")
        .outputMode("append").start()
      try {
        Seq(e3, e2, e1).foreach { e =>
          stream.addData(Seq(e))
          q.processAllAvailable()
        }
        Seq(40L, 41L).zipWithIndex.foreach { case (d, i) =>
          stream.addData(Seq(ev(-1L - i, t1 + d * 86400L * 1000000L, 0.0)
            .copy(user_id = -1L)))
          q.processAllAvailable()
        }
        val got = spark.table("buf_boundary_test")
          .filter(col("user_id") === 7L)
          .orderBy("start_us")
          .select("start_us", "span_us", "ev_cnt", "sum_value")
          .collect().toSeq.map(r =>
            (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        assert(got === Seq(
          (t1, gapUs, 2L, 3.0),           // e1+e2: boundary is inclusive
          (t1 + 2 * gapUs + 1, 0L, 1L, 4.0))) // e3: gap exceeded by 1 µs
      } finally q.stop()
    }
  }

  test("mapGroupsWithState keep-latest matches batch events_dedup_latest") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val rows = eventRows()
    val stream = MemoryStream[Ev]
    val q = StreamOps.latestPerKey(stream.toDS())
      .writeStream.format("memory").queryName("latest_test")
      .outputMode("update").start()
    try {
      rows.grouped(300).foreach { chunk =>
        stream.addData(chunk)
        q.processAllAvailable()
      }
      // Update-mode memory sink appends every state change: the last row
      // per key is the final state.
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id", "event_type")
        .orderBy(col("ts_us").desc, col("event_id").desc)
      val streamed = spark.table("latest_test")
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select("user_id", "event_type", "event_id", "ts_us", "value")
        .orderBy("user_id", "event_type").collect().toSeq
      val batch = Registry.queries("events_dedup_latest")(spark, sf)
        .select(col("user_id"), col("event_type"), col("event_id"),
          col("latest_us").as("ts_us"), col("value"))
        .orderBy("user_id", "event_type").collect().toSeq
      assert(streamed === batch)
    } finally q.stop()
  }
}
