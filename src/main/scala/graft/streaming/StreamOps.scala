package graft.streaming

import graft.Det
import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout,
  ListState, OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig,
  ValueState}

/** Event row as fed from a stream source (same fields `Tables.events`
  * derives for batch: exact epoch-µs plus its timestamp form). */
final case class Ev(event_id: Long, ts_us: Long, user_id: Long,
    event_type: String, value: Double)

/** Latest-event state kept per (user_id, event_type) by the streaming
  * dedup (CDC "keep latest" — the streaming twin of events_dedup_latest). */
final case class LatestEv(user_id: Long, event_type: String,
    event_id: Long, ts_us: Long, value: Double)

/** A closed session emitted by [[StreamOps.sessionizeBuffered]]. */
final case class ClosedSession(user_id: Long, start_us: Long,
    span_us: Long, ev_cnt: Long, sum_value: Double)

/** A completed view→click→purchase funnel emitted by
  * [[WatermarkFunnelProcessor]]. */
final case class FunnelHit(user_id: Long, v_us: Long, c_us: Long, p_us: Long)

/** Per-user funnel progress for [[WatermarkFunnelProcessor]]: earliest µs
  * per stage, a `decided` latch (the verdict became final when the
  * watermark passed the first purchase — hit or miss), and the registered
  * decision deadline (event-time ms; 0 = none). */
final case class FunnelStateT(v_us: Long, c_us: Long, p_us: Long,
    decided: Boolean, deadline_ms: Long)

/** Event row with a real event-time column, for watermark-driven
  * operators ([[BufferedSessionProcessor]], [[WatermarkFunnelProcessor]]). */
final case class EvT(event_id: Long, ts_us: Long, user_id: Long,
    event_type: String, value: Double, ts_t: java.sql.Timestamp)

/** A buffered event awaiting session finalization in
  * [[BufferedSessionProcessor]]: exact epoch-µs, the id tiebreak, and the
  * value in exact integer cents. */
final case class BufEv(ts_us: Long, event_id: Long, cents: Long)

/** OUT-OF-ORDER-TOLERANT gap sessionizer: buffers each user's events in a
  * `ListState` and only emits a session once the WATERMARK passes its gap
  * deadline — at which point no admissible future event can extend, merge
  * into, or precede it, so the emitted session equals the batch gap
  * algebra over the time-sorted stream EXACTLY, for any disorder within
  * the watermark delay — including an event that arrives more than a gap
  * BEFORE a pending session: the whole not-yet-final suffix stays
  * buffered and is re-sorted on each reconcile. In-order arrival is the
  * zero-disorder case of the same contract.
  *
  * Finality argument: a session with last event `b` is final once the
  * watermark W ≥ ceil-ms(b + gap). Any event the engine still admits has
  * ts > W ≥ b + gap, so it cannot extend the session (gap exceeded) and
  * cannot fall before it (ts > b); events that could have (ts ≤ W) are
  * exactly the ones the watermark now drops as too late. Sessions are
  * time-ordered, so finality is a prefix property of the session list:
  * emit the final prefix, keep the suffix's events buffered.
  *
  * State: O(events inside the watermark horizon + the open session) per
  * user — bounded by disorder tolerance × event rate, NOT stream length
  * (the horizon, not the corpus, sizes RocksDB at 100 TB). Each
  * reconcile re-reads and sorts one user's buffer: the cost of exact
  * out-of-order semantics.
  */
final class BufferedSessionProcessor(gapMinutes: Int)
    extends StatefulProcessor[Long, EvT, ClosedSession] {
  private val gapUs = gapMinutes * 60L * 1000000L
  @transient private var buf: ListState[BufEv] = _
  @transient private var dl: ValueState[Long] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    buf = getHandle.getListState[BufEv]("buf",
      Encoders.product[BufEv], TTLConfig.NONE)
    dl = getHandle.getValueState[Long]("dl",
      Encoders.scalaLong, TTLConfig.NONE)
  }

  /** Close deadline: the CEILING ms of `last + gap`. Timers are
    * ms-granular; a floor deadline could fire up to 999 µs before the
    * inclusive gap boundary and finalize a session that an event at
    * exactly `last + gap` still belongs to. */
  private def deadline(lastUs: Long): Long = (lastUs + gapUs + 999) / 1000

  /** Sort the buffer, emit every watermark-final session, retain the rest,
    * and (re)register the timer for the earliest pending deadline. Pure
    * function of (buffer, watermark) ⇒ idempotent: a stale timer fire
    * re-checks and emits nothing new. */
  private def reconcile(uid: Long, wmMs: Long): Iterator[ClosedSession] = {
    val evs = buf.get().toSeq.sortBy(e => (e.ts_us, e.event_id))
    if (evs.isEmpty) return Iterator.empty
    // split into gap-delimited sessions (batch algebra on the sorted view)
    val sessions = Seq.newBuilder[Seq[BufEv]]
    var cur = Seq.newBuilder[BufEv]
    var last = evs.head.ts_us
    evs.foreach { e =>
      if (e.ts_us - last > gapUs) { sessions += cur.result(); cur = Seq.newBuilder }
      cur += e
      last = e.ts_us
    }
    sessions += cur.result()
    val (done, pending) =
      sessions.result().span(s => deadline(s.last.ts_us) <= wmMs)
    val remaining = pending.flatten
    buf.clear()
    if (remaining.nonEmpty) buf.put(remaining.toArray)
    val newDl = pending.headOption.map(s => deadline(s.last.ts_us))
    val oldDl = if (dl.exists()) Some(dl.get()) else None
    if (newDl != oldDl) {
      oldDl.foreach(getHandle.deleteTimer)
      newDl match {
        case Some(d) => getHandle.registerTimer(d); dl.update(d)
        case None => dl.clear()
      }
    }
    if (remaining.isEmpty) dl.clear()
    done.iterator.map { s =>
      ClosedSession(uid, s.head.ts_us, s.last.ts_us - s.head.ts_us,
        s.size.toLong, s.map(_.cents).sum / 100.0)
    }
  }

  override def handleInputRows(uid: Long, rows: Iterator[EvT],
      tv: TimerValues): Iterator[ClosedSession] = {
    rows.foreach(e =>
      buf.appendValue(BufEv(e.ts_us, e.event_id, math.round(e.value * 100))))
    reconcile(uid, tv.getCurrentWatermarkInMs())
  }

  override def handleExpiredTimer(uid: Long, tv: TimerValues,
      info: org.apache.spark.sql.streaming.ExpiredTimerInfo)
      : Iterator[ClosedSession] = {
    // Spark has already dropped the firing timer: forget it, so reconcile
    // does not try to delete it a second time
    if (dl.exists() && dl.get() == info.getExpiryTimeInMs) dl.clear()
    reconcile(uid, tv.getCurrentWatermarkInMs())
  }
}

/** Out-of-order-tolerant funnel detector on `transformWithState` — the
  * streaming twin of the batch `events_funnel` key (first-view <
  * first-click < first-purchase, strict). The verdict is
  * WATERMARK-DELAYED: a latch fired the first micro-batch the ordering
  * holds would be wrong under disorder, since it fires on the current
  * minima and a late-arriving earlier click can invalidate an
  * already-emitted hit (batch truth says miss, the stream said hit —
  * unretractable in append mode).
  *
  * This processor instead registers an event-time timer at the first
  * purchase's ceiling-ms whenever the min purchase changes, and decides
  * only in `handleExpiredTimer`. Finality argument: the timer fires when
  * the watermark has passed `p_us`, after which no event with
  * `ts < p_us` can reach the processor (late rows beyond the watermark
  * are dropped upstream), so the minima below `p_us` are frozen; any NEW
  * event has `ts ≥ p_us`, and lowering v/c to a value ≥ p_us can never
  * satisfy `v < c < p_us`. The v<c<p verdict at timer time is therefore
  * permanent — emitted once on a hit, latched silently on a miss — and
  * the emitted set equals the batch `events_funnel` filter's for any
  * arrival order whose disorder stays within the watermark delay
  * (exactness degrades to the watermark contract beyond it: dropped
  * late rows are invisible to both minima and verdict).
  *
  * Scale notes: state is one [[FunnelStateT]] + at most one pending
  * timer per user still inside its decision window; decided users keep
  * only the latched row (a production deployment adds a TTL to age
  * those out).
  */
final class WatermarkFunnelProcessor
    extends StatefulProcessor[Long, EvT, FunnelHit] {
  @transient private var st: ValueState[FunnelStateT] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    st = getHandle.getValueState[FunnelStateT]("wfunnel",
      Encoders.product[FunnelStateT], TTLConfig.NONE)

  override def handleInputRows(uid: Long, rows: Iterator[EvT],
      tv: TimerValues): Iterator[FunnelHit] = {
    val init = if (st.exists()) st.get()
      else FunnelStateT(Long.MaxValue, Long.MaxValue, Long.MaxValue,
        decided = false, deadline_ms = 0L)
    if (init.decided) return Iterator.empty // verdict is final; drop rows
    var s = init
    rows.foreach { e =>
      e.event_type match {
        case "view"     => if (e.ts_us < s.v_us) s = s.copy(v_us = e.ts_us)
        case "click"    => if (e.ts_us < s.c_us) s = s.copy(c_us = e.ts_us)
        case "purchase" => if (e.ts_us < s.p_us) s = s.copy(p_us = e.ts_us)
        case _          => ()
      }
    }
    if (s.p_us != Long.MaxValue) {
      // ceiling-ms: timers are ms-granular, and a floor deadline could
      // fire while an event at exactly p_us can still arrive
      val d = (s.p_us + 999) / 1000
      if (d != s.deadline_ms) {
        if (s.deadline_ms != 0L) getHandle.deleteTimer(s.deadline_ms)
        getHandle.registerTimer(d)
        s = s.copy(deadline_ms = d)
      }
    }
    if (s != init) st.update(s)
    Iterator.empty
  }

  override def handleExpiredTimer(uid: Long, tv: TimerValues,
      info: org.apache.spark.sql.streaming.ExpiredTimerInfo)
      : Iterator[FunnelHit] = {
    if (!st.exists()) return Iterator.empty
    val s = st.get()
    // only the timer matching the CURRENT deadline decides; earlier
    // registrations are stale survivors of a p_us decrease
    if (s.decided || s.deadline_ms != info.getExpiryTimeInMs)
      return Iterator.empty
    st.update(s.copy(decided = true))
    if (s.v_us < s.c_us && s.c_us < s.p_us)
      Iterator.single(FunnelHit(uid, s.v_us, s.c_us, s.p_us))
    else Iterator.empty
  }
}

/** Structured Streaming twins of the §2.1-H batch operators
  * (SURVEY §2.9 / §7.1 slice 5).
  *
  * These are NOT in [[graft.Registry]]: Verify/t2 is batch-only, and
  * streaming session semantics differ from the batch gap-algebra on late
  * data. They share the same column contract as their batch twins, so a
  * caller can swap `spark.read` for `spark.readStream` and keep the rest
  * of the pipeline. Consistency with the batch twins is covered by
  * StreamingSpec (MemoryStream → memory sink) and StreamingFileSpec
  * (parquet file source), on scrambled replays for the out-of-order-exact
  * operators.
  *
  * Scale notes: each stateful operator shuffles once on its state key,
  * and its state is O(active keys). A watermark bounds that in event time
  * everywhere except `latestPerKey` (one row per (user, type)) and
  * `admitDocuments` (the seen-set is the admission history itself).
  */
object StreamOps {

  private def withEventTime(events: Dataset[Ev]): DataFrame =
    events.withColumn("ts_t", timestamp_micros(col("ts_us")))

  /** Per 1-hour tumbling window × event_type: count + exact value sum.
    * Streaming twin of `events_tumbling_window`. */
  def tumblingCounts(events: Dataset[Ev]): DataFrame =
    withEventTime(events)
      .withWatermark("ts_t", "2 hours")
      .groupBy(window(col("ts_t"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), Det.dsum(col("value"), 2).as("sum_value"))
      .select(Det.second(col("w.start")).as("hour_start"),
        col("event_type"), col("cnt"), col("sum_value"))

  /** 1-hour windows sliding every 15 min — the streaming twin of
    * `events_sliding_window` (each event lands in exactly 4 windows).
    * Windowed aggregation with a watermark is out-of-order-exact by
    * construction: Spark buffers every window still above the watermark
    * and (append mode) emits a window only once the watermark passes its
    * end, so any arrival order within `horizon` yields identical output.
    * StreamingFileSpec replays the fixture in a deliberately scrambled
    * order and asserts equality against the batch key. State is O(open
    * windows × types): 4 windows per 15-min slide bucket within the
    * horizon — bounded, scale-safe. */
  def slidingCounts(events: Dataset[Ev],
      horizon: String = "2 hours"): DataFrame =
    withEventTime(events)
      .withWatermark("ts_t", horizon)
      .groupBy(window(col("ts_t"), "1 hour", "15 minutes").as("w"))
      .agg(count(lit(1)).as("cnt"), Det.dsum(col("value"), 2).as("sum_value"))
      .select(Det.second(col("w.start")).as("window_start"),
        col("cnt"), col("sum_value"))

  /** Gap-based sessions via `session_window` (30-min inactivity), the
    * streaming twin of `events_sessionization`'s window algebra. */
  def sessionCounts(events: Dataset[Ev]): DataFrame =
    withEventTime(events)
      .withWatermark("ts_t", "2 hours")
      .groupBy(col("user_id"),
        session_window(col("ts_t"), "30 minutes").as("sw"))
      .agg(count(lit(1)).as("ev_cnt"), Det.dsum(col("value"), 2)
        .as("sum_value"))
      .select(col("user_id"), Det.second(col("sw.start")).as("session_start"),
        col("ev_cnt"), col("sum_value"))

  /** Exactly-once dedup by event_id with bounded state:
    * `dropDuplicatesWithinWatermark` keeps each seen id only until the
    * watermark passes its event time (vs `dropDuplicates`, whose id set
    * grows forever). Streaming complement of the batch `events_dedup_latest`
    * / `text_exact_dedup` family for at-least-once sources.
    *
    * Scale notes: state is O(ids inside the watermark horizon) — at 100 TB
    * the horizon, not the corpus, bounds memory; ids hash-partition across
    * executors on the dedup key.
    */
  def dedupById(events: Dataset[Ev], horizon: String = "1 hour"): DataFrame =
    withEventTime(events)
      .withWatermark("ts_t", horizon)
      .dropDuplicatesWithinWatermark("event_id")
      .select(col("event_id"), col("ts_us"), col("user_id"),
        col("event_type"), col("value"))

  /** Stream-stream interval join: each purchase joined to every view by the
    * same user within the preceding `horizonMinutes` — the candidate-touch
    * join under last-touch attribution (streaming side of
    * `events_attribution`; the batch key then picks max(view_us) per
    * purchase). Both sides carry watermarks and the join predicate bounds
    * view age relative to the purchase, so Spark can evict buffered rows:
    * state is O(events within the horizon), not O(stream).
    *
    * Scale notes: both sides shuffle-partition on user_id; the time-bound
    * predicate is what makes the state finite — an unbounded stream-stream
    * join would buffer forever.
    */
  def attributionPairs(views: Dataset[Ev], purchases: Dataset[Ev],
      horizonMinutes: Int = 30): DataFrame = {
    val v = withEventTime(views)
      .select(col("user_id").as("v_user"), col("ts_t").as("v_ts"),
        col("ts_us").as("view_us"), col("event_id").as("view_id"))
      .withWatermark("v_ts", "2 hours")
    val p = withEventTime(purchases)
      .select(col("user_id"), col("ts_t").as("p_ts"),
        col("ts_us").as("purchase_us"), col("event_id"))
      .withWatermark("p_ts", "2 hours")
    p.join(v,
        col("user_id") === col("v_user")
          && col("v_ts") <= col("p_ts")
          && col("v_ts") >= col("p_ts")
            - expr(s"interval $horizonMinutes minutes"))
      .select(col("user_id"), col("event_id"), col("purchase_us"),
        col("view_id"), col("view_us"))
  }

  /** Out-of-order-tolerant funnel via event-time timers (RocksDB state
    * store required) — see [[WatermarkFunnelProcessor]]. The input must
    * carry a watermark on `ts_t`; each user's verdict is emitted when the
    * watermark passes their first purchase, so the emitted set equals the
    * batch `events_funnel` filter for any disorder within the watermark
    * delay (at the price of that delay in emission latency). */
  def funnelWatermarked(events: Dataset[EvT]): Dataset[FunnelHit] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new WatermarkFunnelProcessor,
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** Out-of-order-tolerant sessionization via a watermark-finalized event
    * buffer (RocksDB state store required) — see
    * [[BufferedSessionProcessor]]. The input must carry a watermark on
    * `ts_t`; emitted sessions equal the batch gap algebra EXACTLY for any
    * disorder within the watermark delay, at the cost of buffering the
    * not-yet-final suffix per user (state = watermark horizon, not
    * stream length). */
  def sessionizeBuffered(events: Dataset[EvT],
      gapMinutes: Int = 30): Dataset[ClosedSession] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new BufferedSessionProcessor(gapMinutes),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** CDC keep-latest per (user_id, event_type) with explicit state
    * (`mapGroupsWithState`) — the streaming twin of `events_dedup_latest`,
    * and the engine's demonstration of arbitrary stateful processing. */
  def latestPerKey(events: Dataset[Ev]): Dataset[LatestEv] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(e => (e.user_id, e.event_type))
      .mapGroupsWithState[LatestEv, LatestEv](
        GroupStateTimeout.NoTimeout) {
        case ((uid, etype), batch, state: GroupState[LatestEv]) =>
          val incoming = batch.maxBy(e => (e.ts_us, e.event_id))
          val best = state.getOption match {
            case Some(prev) if prev.ts_us > incoming.ts_us
              || (prev.ts_us == incoming.ts_us
                && prev.event_id > incoming.event_id) => prev
            case _ => LatestEv(uid, etype, incoming.event_id,
              incoming.ts_us, incoming.value)
          }
          state.update(best)
          best
      }
  }

  /** Streaming corpus admission — the readStream twin of
    * `pipeline_curate`'s gate + exact-dedup stages: the shared
    * quality/lang gate (pure column algebra, identical to the batch
    * key via [[graft.operators.Curate.gateQuality]]) followed by
    * first-arrival exact dedup on the content hash. No watermark on
    * the dedup state: the admission history IS the product (the
    * curated-corpus seen-set of pipeline_dedup_incremental); a
    * deployment compacts it periodically against the materialized
    * corpus. StreamingFileSpec checks one admission per gated content
    * hash, covering exactly the batch gate's hash set (which doc_id wins
    * among duplicates in one micro-batch is not fixed).
    */
  def admitDocuments(docs: DataFrame): DataFrame =
    graft.operators.Curate.gateQuality(docs)
      .withColumn("content_sha256", sha2(col("text"), 256))
      .dropDuplicates("content_sha256")
      .select(col("doc_id"), col("lang"), col("source"),
        col("content_sha256"), col("qscaled"))
}
