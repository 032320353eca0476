package graft.streaming

import graft.operators.Enrich
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{Bridge, DecodeJsonPayload}
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}

/** Input row for the custom-state operator (top-level for encoders). */
case class UserEvent(user_id: Long, ts: java.sql.Timestamp, value: Double)
/** Arbitrary per-key state maintained by flatMapGroupsWithState. */
case class UserTotalsState(n_events: Long, total_value: Double, last_seen_ms: Long)
/** One changelog row per updated key per micro-batch. */
case class UserTotalsUpdate(user_id: Long, n_events: Long, total_value: Double)

case class SessionAccum(n_events: Long, total_value: Double,
                        start_ms: Long, end_ms: Long)

case class SessionSummary(user_id: Long, n_events: Long, total_value: Double,
                          start_ms: Long, end_ms: Long)

/** StatefulProcessor for `sessionSummaries`: accumulate per-user, keep one
  * event-time timer at (last event + gap); on expiry emit and clear. */
class SessionSummaryProcessor(gapMs: Long)
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, UserEvent, SessionSummary] {
  import org.apache.spark.sql.{Encoders, streaming => ss}

  @transient private var acc: ss.ValueState[SessionAccum] = _

  override def init(outputMode: ss.OutputMode, timeMode: ss.TimeMode): Unit =
    acc = getHandle.getValueState[SessionAccum](
      "acc", Encoders.product[SessionAccum], ss.TTLConfig.NONE)

  override def handleInputRows(uid: Long, rows: Iterator[UserEvent],
                               timers: ss.TimerValues): Iterator[SessionSummary] = {
    val prev = Option(acc.get()).getOrElse(
      SessionAccum(0L, 0.0, Long.MaxValue, Long.MinValue))
    var n = prev.n_events
    var total = prev.total_value
    var lo = prev.start_ms
    var hi = prev.end_ms
    rows.foreach { e =>
      val t = e.ts.getTime
      n += 1; total += e.value; lo = math.min(lo, t); hi = math.max(hi, t)
    }
    acc.update(SessionAccum(n, total, lo, hi))
    // one live timer per key: replace whatever was scheduled. Materialize
    // before deleting — mutating the store under a live listTimers()
    // iterator is only defined for RocksDB snapshots; the HDFS-backed
    // provider may throw or skip entries.
    getHandle.listTimers().toList
      .foreach(t => getHandle.deleteTimer(t.asInstanceOf[Long]))
    getHandle.registerTimer(hi + gapMs)
    Iterator.empty
  }

  override def handleExpiredTimer(uid: Long, timers: ss.TimerValues,
                                  info: ss.ExpiredTimerInfo): Iterator[SessionSummary] = {
    val a = acc.get()
    if (a == null) Iterator.empty
    else {
      acc.clear()
      Iterator.single(SessionSummary(uid, a.n_events, a.total_value, a.start_ms, a.end_ms))
    }
  }
}

/** StatefulProcessor for `runningUserTotalsTws`: one ValueState slot per
  * user holding (n_events, total_value, last_seen_ms). Top-level class —
  * the processor is serialized to executors.
  *
  * `ttlMs > 0` opts the state into store-managed expiry (requires
  * processing-time mode): a key idle longer than the TTL is dropped by
  * the store itself and its totals restart from zero — the bounded-state
  * answer for key spaces that grow forever (the reference's KSQL table
  * state grows without bound; at 100 TB an unbounded per-user slot is a
  * guaranteed OOM, TTL is the standard hygiene). */
class RunningTotalsProcessor(ttlMs: Long = 0L)
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, UserEvent, UserTotalsUpdate] {
  import org.apache.spark.sql.{Encoders, streaming => ss}

  @transient private var totals: ss.ValueState[UserTotalsState] = _

  override def init(outputMode: ss.OutputMode, timeMode: ss.TimeMode): Unit =
    totals = getHandle.getValueState[UserTotalsState](
      "totals", Encoders.product[UserTotalsState],
      if (ttlMs > 0L) ss.TTLConfig(java.time.Duration.ofMillis(ttlMs))
      else ss.TTLConfig.NONE)

  override def handleInputRows(uid: Long, rows: Iterator[UserEvent],
                               timers: ss.TimerValues): Iterator[UserTotalsUpdate] = {
    val prev = Option(totals.get()).getOrElse(UserTotalsState(0L, 0.0, 0L))
    var n = prev.n_events
    var total = prev.total_value
    var last = prev.last_seen_ms
    rows.foreach { e =>
      n += 1; total += e.value; last = math.max(last, e.ts.getTime)
    }
    totals.update(UserTotalsState(n, total, last))
    Iterator.single(UserTotalsUpdate(uid, n, total))
  }
}

/** Right-side input row for the streaming as-of join. */
case class QuoteEvent(user_id: Long, ts: java.sql.Timestamp, quote: Double)
/** Tagged union row feeding the as-of processor (side 1 = left probe,
  * side 0 = right quote; one schema so one watermark governs both). */
case class AsOfInput(user_id: Long, ts: java.sql.Timestamp, side: Int,
                     value: Double)
/** One finalized left row: payload + the matched right value (None when
  * no right row precedes it within the lookback). */
case class AsOfJoined(user_id: Long, ts: java.sql.Timestamp, value: Double,
                      quote_ts: Option[java.sql.Timestamp],
                      quote: Option[Double])
/** Buffered left row awaiting watermark finalization. */
case class AsOfPendingLeft(ts_ms: Long, value: Double)
/** Buffered right row (the per-key quote history within the lookback). */
case class AsOfRightRow(ts_ms: Long, quote: Double)

/** A typed event for per-type rate accounting. */
case class TypedEvent(event_type: String, ts: java.sql.Timestamp)
/** One CLOSED daily count emitted by the windowed pre-aggregation. */
case class DayCount(event_type: String, day_start: java.sql.Timestamp, x: Long)
/** A scored day: batch `events_anomaly_rate_spike`'s row shape. */
case class SpikeDay(event_type: String, day_start: java.sql.Timestamp,
                    x: Long, s7: Long, z_ppm: Long, spike: Boolean)
/** Deque entry: one of the last 7 closed days for a type. */
case class SpikeHistEntry(day_ms: Long, x: Long)

/** StatefulProcessor for [[StreamingPipeline.rateSpikeStream]]: consumes
  * watermark-CLOSED daily counts (the upstream window agg in append mode
  * guarantees each day arrives exactly once, final), keeps only the last
  * 7 days per type in list state, and scores each arriving day against
  * its trailing week with the same shared z tree as the batch query.
  * State per key is seven (ms, count) pairs — independent of stream
  * length; no timers needed because the input is already finalized. */
class RateSpikeProcessor
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      String, DayCount, SpikeDay] {
  import org.apache.spark.sql.{Encoders, streaming => ss}

  @transient private var hist: ss.ListState[SpikeHistEntry] = _

  override def init(outputMode: ss.OutputMode, timeMode: ss.TimeMode): Unit =
    hist = getHandle.getListState[SpikeHistEntry](
      "hist", Encoders.product[SpikeHistEntry], ss.TTLConfig.NONE)

  override def handleInputRows(key: String, rows: Iterator[DayCount],
                               timers: ss.TimerValues): Iterator[SpikeDay] = {
    val out = scala.collection.mutable.ArrayBuffer[SpikeDay]()
    var h = hist.get().toList.sortBy(_.day_ms)
    rows.toList.sortBy(_.day_start.getTime).foreach { d =>
      val t = d.day_start.getTime
      val prior = h.filter(_.day_ms < t).takeRight(7)
      if (prior.size == 7) {
        val s7 = prior.map(_.x).sum
        val z = math.floor(1000000.0 *
          (d.x.toDouble - s7.toDouble / 7.0) /
          math.sqrt(s7.toDouble / 7.0)).toLong
        out += SpikeDay(key, d.day_start, d.x, s7, z, z > 3000000L)
      }
      h = (h :+ SpikeHistEntry(t, d.x)).sortBy(_.day_ms).takeRight(7)
    }
    if (h.isEmpty) hist.clear() else hist.put(h.toArray)
    out.iterator
  }
}

/** Buffered event awaiting watermark-ordered CUSUM folding. */
case class CusumPending(ts_ms: Long, vc: Long)
/** The four-long CUSUM fold state (all exact integer cents). */
case class CusumFold(s: Long, n: Long, max_s: Long, alarms: Long)
/** Per-user CUSUM summary — schema matches batch `timeseries_cusum`. */
case class CusumSummary(user_id: Long, n_events: Long, max_s: Double,
                        n_alarms: Long)

/** StatefulProcessor for [[StreamingPipeline.cusumStream]]: buffers
  * rows per key, folds everything at-or-before each expiring watermark
  * timer in (ts, value) order through S = max(0, S + (v − level)), and
  * emits the running per-key summary. Mirrors the batch query's
  * prefix-min formulation exactly on in-order-per-timestamp data (ties
  * break by value here; the batch form breaks by event_id, which the
  * stream schema does not carry — fixtures keep per-user timestamps
  * unique). */
class CusumProcessor(levelCents: Long, thresholdCents: Long)
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, UserEvent, CusumSummary] {
  import org.apache.spark.sql.{Encoders, streaming => ss}

  @transient private var pending: ss.ListState[CusumPending] = _
  @transient private var fold: ss.ValueState[CusumFold] = _

  override def init(outputMode: ss.OutputMode, timeMode: ss.TimeMode): Unit = {
    pending = getHandle.getListState[CusumPending](
      "pending", Encoders.product[CusumPending], ss.TTLConfig.NONE)
    fold = getHandle.getValueState[CusumFold](
      "fold", Encoders.product[CusumFold], ss.TTLConfig.NONE)
  }

  override def handleInputRows(uid: Long, rows: Iterator[UserEvent],
                               timers: ss.TimerValues): Iterator[CusumSummary] = {
    rows.foreach { r =>
      val t = r.ts.getTime
      pending.appendValue(CusumPending(t, math.round(r.value * 100)))
      getHandle.registerTimer(t)
    }
    Iterator.empty
  }

  override def handleExpiredTimer(uid: Long, timers: ss.TimerValues,
                                  info: ss.ExpiredTimerInfo): Iterator[CusumSummary] = {
    val expiry = info.getExpiryTimeInMs()
    val all = pending.get().toList
    val (ready, later) = all.partition(_.ts_ms <= expiry)
    if (ready.isEmpty) Iterator.empty
    else {
      if (later.isEmpty) pending.clear() else pending.put(later.toArray)
      var st = Option(fold.get()).getOrElse(CusumFold(0L, 0L, 0L, 0L))
      ready.sortBy(p => (p.ts_ms, p.vc)).foreach { p =>
        val s = math.max(0L, st.s + (p.vc - levelCents))
        st = CusumFold(s, st.n + 1,
          math.max(st.max_s, s),
          st.alarms + (if (s > thresholdCents) 1L else 0L))
      }
      fold.update(st)
      Iterator.single(
        CusumSummary(uid, st.n, st.max_s / 100.0, st.alarms))
    }
  }
}

/** StatefulProcessor for `asofBackwardStream`: the state-store-buffered,
  * watermark-bounded stream-stream BACKWARD as-of join.
  *
  * Semantics match `AsOf.asofBackward` exactly: for every left row, the
  * quote of the latest right row with the same key and right ts ≤ left
  * ts (inclusive; ties on ts prefer the larger quote), null when none —
  * optionally bounded by `toleranceMs` lookback.
  *
  * Why a left row can NEVER be answered on arrival: a right row with a
  * smaller event time may still be in flight. The watermark is the
  * completeness contract — once it passes the left row's time, any
  * not-yet-arrived right row at-or-before that time would be late and
  * dropped at the operator input, so the buffered history is final.
  * Hence: buffer both sides in list state, register one event-time timer
  * per left row at its own timestamp, finalize on expiry.
  *
  * State is watermark-bounded, the 100 TB requirement: on each expiry,
  * emitted lefts leave the store, and the right history is pruned to
  * what future lefts can still reach — everything newer than
  * (expiry − tolerance), or, in the unbounded form, the single latest
  * quote at-or-before the expiry (the "current value") plus anything
  * newer. Per-key state is O(lookback window), never O(stream). */
class AsOfJoinProcessor(toleranceMs: Long = 0L)
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, AsOfInput, AsOfJoined] {
  import org.apache.spark.sql.{Encoders, streaming => ss}

  @transient private var lefts: ss.ListState[AsOfPendingLeft] = _
  @transient private var rights: ss.ListState[AsOfRightRow] = _

  override def init(outputMode: ss.OutputMode, timeMode: ss.TimeMode): Unit = {
    lefts = getHandle.getListState[AsOfPendingLeft](
      "lefts", Encoders.product[AsOfPendingLeft], ss.TTLConfig.NONE)
    rights = getHandle.getListState[AsOfRightRow](
      "rights", Encoders.product[AsOfRightRow], ss.TTLConfig.NONE)
  }

  override def handleInputRows(uid: Long, rows: Iterator[AsOfInput],
                               timers: ss.TimerValues): Iterator[AsOfJoined] = {
    rows.foreach { r =>
      val t = r.ts.getTime
      if (r.side == 1) {
        lefts.appendValue(AsOfPendingLeft(t, r.value))
        // fires once the watermark passes this left row's own event time
        getHandle.registerTimer(t)
      } else rights.appendValue(AsOfRightRow(t, r.value))
    }
    Iterator.empty
  }

  override def handleExpiredTimer(uid: Long, timers: ss.TimerValues,
                                  info: ss.ExpiredTimerInfo): Iterator[AsOfJoined] = {
    val expiry = info.getExpiryTimeInMs()
    val pend = lefts.get().toList
    val rs = rights.get().toList
    val (ready, later) = pend.partition(_.ts_ms <= expiry)
    if (ready.isEmpty) Iterator.empty
    else {
      if (later.isEmpty) lefts.clear() else lefts.put(later.toArray)
      // prune the right history to what a FUTURE left (ts > expiry) can
      // still match — state stays lookback-bounded
      val keep =
        if (toleranceMs > 0L) rs.filter(_.ts_ms >= expiry - toleranceMs)
        else {
          val past = rs.filter(_.ts_ms <= expiry)
          val cur =
            if (past.isEmpty) Nil
            else List(past.maxBy(r => (r.ts_ms, r.quote)))
          cur ++ rs.filter(_.ts_ms > expiry)
        }
      if (keep.isEmpty) rights.clear() else rights.put(keep.toArray)
      ready.sortBy(l => (l.ts_ms, l.value)).iterator.map { l =>
        val cands = rs.filter(r => r.ts_ms <= l.ts_ms &&
          (toleranceMs <= 0L || r.ts_ms >= l.ts_ms - toleranceMs))
        if (cands.isEmpty)
          AsOfJoined(uid, new java.sql.Timestamp(l.ts_ms), l.value, None, None)
        else {
          val m = cands.maxBy(r => (r.ts_ms, r.quote))
          AsOfJoined(uid, new java.sql.Timestamp(l.ts_ms), l.value,
            Some(new java.sql.Timestamp(m.ts_ms)), Some(m.quote))
        }
      }
    }
  }
}

/** StatefulProcessor for `asofForwardStream`: the FORWARD sibling of
  * [[AsOfJoinProcessor]] — each left row matches the EARLIEST right row
  * with right ts ≥ left ts (inclusive; equal-time ties prefer the
  * smaller quote, mirroring `AsOf.asofForward`), bounded by a mandatory
  * `horizonMs`. Forward streaming REQUIRES the horizon: without one a
  * left row could only finalize at end-of-stream (a better right may
  * always still arrive), so the horizon is both the semantic bound and
  * the state bound. A left's timer fires at (left ts + horizon); on
  * expiry the window [ts, ts+horizon] is provably complete (any missing
  * right in it would be late-dropped), and rights at-or-before
  * (expiry − horizon) can never match a still-pending left, so state
  * stays O(horizon) per key. */
class AsOfForwardJoinProcessor(horizonMs: Long)
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, AsOfInput, AsOfJoined] {
  import org.apache.spark.sql.{Encoders, streaming => ss}
  require(horizonMs > 0L, "forward as-of needs a positive horizon")

  @transient private var lefts: ss.ListState[AsOfPendingLeft] = _
  @transient private var rights: ss.ListState[AsOfRightRow] = _

  override def init(outputMode: ss.OutputMode, timeMode: ss.TimeMode): Unit = {
    lefts = getHandle.getListState[AsOfPendingLeft](
      "lefts", Encoders.product[AsOfPendingLeft], ss.TTLConfig.NONE)
    rights = getHandle.getListState[AsOfRightRow](
      "rights", Encoders.product[AsOfRightRow], ss.TTLConfig.NONE)
  }

  override def handleInputRows(uid: Long, rows: Iterator[AsOfInput],
                               timers: ss.TimerValues): Iterator[AsOfJoined] = {
    rows.foreach { r =>
      val t = r.ts.getTime
      if (r.side == 1) {
        lefts.appendValue(AsOfPendingLeft(t, r.value))
        getHandle.registerTimer(t + horizonMs)
      } else rights.appendValue(AsOfRightRow(t, r.value))
    }
    Iterator.empty
  }

  override def handleExpiredTimer(uid: Long, timers: ss.TimerValues,
                                  info: ss.ExpiredTimerInfo): Iterator[AsOfJoined] = {
    val expiry = info.getExpiryTimeInMs()
    val pend = lefts.get().toList
    val rs = rights.get().toList
    val (ready, later) = pend.partition(_.ts_ms + horizonMs <= expiry)
    if (ready.isEmpty) Iterator.empty
    else {
      if (later.isEmpty) lefts.clear() else lefts.put(later.toArray)
      val keep = rs.filter(_.ts_ms > expiry - horizonMs)
      if (keep.isEmpty) rights.clear() else rights.put(keep.toArray)
      ready.sortBy(l => (l.ts_ms, l.value)).iterator.map { l =>
        val cands = rs.filter(r =>
          r.ts_ms >= l.ts_ms && r.ts_ms <= l.ts_ms + horizonMs)
        if (cands.isEmpty)
          AsOfJoined(uid, new java.sql.Timestamp(l.ts_ms), l.value, None, None)
        else {
          val m = cands.minBy(r => (r.ts_ms, r.quote))
          AsOfJoined(uid, new java.sql.Timestamp(l.ts_ms), l.value,
            Some(new java.sql.Timestamp(m.ts_ms)), Some(m.quote))
        }
      }
    }
  }
}

/** StatefulProcessor for `asofNearestStream`: the NEAREST sibling —
  * each left row matches the right row minimizing |Δt|, with
  * equidistant ties resolved BACKWARD, exactly `AsOf.asofNearest`
  * (backward candidate = latest right at-or-before, equal-time ties to
  * the larger quote; forward candidate = earliest right strictly after,
  * ties to the smaller quote). The forward search is bounded by a
  * mandatory `horizonMs` — same argument as the forward join: an
  * unbounded "is anything closer still coming?" wait never finalizes,
  * so the horizon is both the semantic bound and the state bound. A
  * left's timer fires at (left ts + horizon): at that point both the
  * backward history and the full forward window are watermark-complete.
  * Right-history pruning combines both siblings' rules at the cutoff
  * (expiry − horizon) — the single latest quote at-or-before the cutoff
  * (some future left's backward "current value") plus everything newer
  * — so per-key state is O(horizon window), never O(stream). */
class AsOfNearestJoinProcessor(horizonMs: Long)
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, AsOfInput, AsOfJoined] {
  import org.apache.spark.sql.{Encoders, streaming => ss}
  require(horizonMs > 0L, "nearest as-of needs a positive forward horizon")

  @transient private var lefts: ss.ListState[AsOfPendingLeft] = _
  @transient private var rights: ss.ListState[AsOfRightRow] = _

  override def init(outputMode: ss.OutputMode, timeMode: ss.TimeMode): Unit = {
    lefts = getHandle.getListState[AsOfPendingLeft](
      "lefts", Encoders.product[AsOfPendingLeft], ss.TTLConfig.NONE)
    rights = getHandle.getListState[AsOfRightRow](
      "rights", Encoders.product[AsOfRightRow], ss.TTLConfig.NONE)
  }

  override def handleInputRows(uid: Long, rows: Iterator[AsOfInput],
                               timers: ss.TimerValues): Iterator[AsOfJoined] = {
    rows.foreach { r =>
      val t = r.ts.getTime
      if (r.side == 1) {
        lefts.appendValue(AsOfPendingLeft(t, r.value))
        getHandle.registerTimer(t + horizonMs)
      } else rights.appendValue(AsOfRightRow(t, r.value))
    }
    Iterator.empty
  }

  override def handleExpiredTimer(uid: Long, timers: ss.TimerValues,
                                  info: ss.ExpiredTimerInfo): Iterator[AsOfJoined] = {
    val expiry = info.getExpiryTimeInMs()
    val pend = lefts.get().toList
    val rs = rights.get().toList
    val (ready, later) = pend.partition(_.ts_ms + horizonMs <= expiry)
    if (ready.isEmpty) Iterator.empty
    else {
      if (later.isEmpty) lefts.clear() else lefts.put(later.toArray)
      // pending lefts all have ts > expiry − horizon: keep the one
      // backward "current value" at the cutoff plus everything newer
      val cutoff = expiry - horizonMs
      val past = rs.filter(_.ts_ms <= cutoff)
      val cur = if (past.isEmpty) Nil
                else List(past.maxBy(r => (r.ts_ms, r.quote)))
      val keep = cur ++ rs.filter(_.ts_ms > cutoff)
      if (keep.isEmpty) rights.clear() else rights.put(keep.toArray)
      ready.sortBy(l => (l.ts_ms, l.value)).iterator.map { l =>
        val back = rs.filter(_.ts_ms <= l.ts_ms) match {
          case Nil => None
          case bs  => Some(bs.maxBy(r => (r.ts_ms, r.quote)))
        }
        val fwd = rs.filter(r =>
          r.ts_ms > l.ts_ms && r.ts_ms <= l.ts_ms + horizonMs) match {
          case Nil => None
          case fs  => Some(fs.minBy(r => (r.ts_ms, r.quote)))
        }
        val m = (back, fwd) match {
          case (Some(b), Some(f)) =>
            if (l.ts_ms - b.ts_ms <= f.ts_ms - l.ts_ms) Some(b) else Some(f)
          case (b, f) => b.orElse(f)
        }
        m match {
          case None =>
            AsOfJoined(uid, new java.sql.Timestamp(l.ts_ms), l.value, None, None)
          case Some(r) =>
            AsOfJoined(uid, new java.sql.Timestamp(l.ts_ms), l.value,
              Some(new java.sql.Timestamp(r.ts_ms)), Some(r.quote))
        }
      }
    }
  }
}

/** The reference topology (SURVEY.md §3) as Structured Streaming plans.
  *
  * Reference stages:
  *   expedia topic → Faust enrich (stay_category) → expedia_ext topic →
  *   ksqlDB CTAS group-by (count + count-distinct) → HOTELS_COUNT changelog
  *   (/root/reference/src/main.py:35-95, ci_cd/ksql/create_table.json:2)
  *
  * Spark-native realization: the SAME declarative transforms as the batch
  * path (Enrich.*) applied to an unbounded DataFrame; Catalyst's
  * IncrementalExecution turns the aggregation into stateful operators with
  * update-mode changelog emission — ksqlDB's EMIT CHANGES, per micro-batch.
  *
  * Sources are pluggable: Kafka (`readStream.format("kafka")` +
  * `fromJsonPayload`) in production, file/rate/MemoryStream in tests —
  * the plan downstream of the payload parse is identical, which is the
  * point (SURVEY.md §2.9 T7: fused topology).
  */
object StreamingPipeline {

  /** The reference's 21-field expedia schema (SURVEY.md §1.2, FIXTURES.md).
    * id/hotel_id widened to LONG per the KSQL layer's BIGINT declaration. */
  val expediaSchema: StructType = StructType(Seq(
    StructField("id", LongType),
    StructField("date_time", StringType),
    StructField("site_name", IntegerType),
    StructField("posa_container", IntegerType),
    StructField("user_location_country", IntegerType),
    StructField("user_location_region", IntegerType),
    StructField("user_location_city", IntegerType),
    StructField("orig_destination_distance", DoubleType),
    StructField("user_id", LongType),
    StructField("is_mobile", IntegerType),
    StructField("is_package", IntegerType),
    StructField("channel", IntegerType),
    StructField("srch_ci", StringType),
    StructField("srch_co", StringType),
    StructField("srch_adults_cnt", IntegerType),
    StructField("srch_children_cnt", IntegerType),
    StructField("srch_rm_cnt", IntegerType),
    StructField("srch_destination_id", IntegerType),
    StructField("srch_destination_type_id", IntegerType),
    StructField("hotel_id", LongType)))

  /** S2/S3 parity — JSON payload column → typed columns, each payload
    * parsed exactly once. Null payloads, and payloads for which `from_json`
    * returns null (empty or whitespace-only strings), are dropped; every
    * other payload becomes one `schema` record, with all fields null if it
    * is malformed. Fields absent from the schema are dropped (KSQL
    * schema-on-read semantics, the reference's
    * ci_cd/ksql/create_stream.json:2).
    *
    * The parse is `DecodeJsonPayload`: `from_json`'s parser, fed each
    * payload as a `String` rather than through a per-row
    * `InputStreamReader`. Binary payloads (Kafka's `value`) are cast to
    * string and decoded as UTF-8 with replacement, exactly as `from_json`
    * decodes them; Jackson's byte-array parser is not used because it
    * detects the encoding itself and so reads invalid UTF-8, a BOM or
    * UTF-16 bytes differently. The optimizer rule `PruneJsonPayloadFields`
    * then narrows the parse to the fields the query reads: the reference
    * changelog parses `srch_ci`, `srch_co` and `hotel_id` only.
    *
    * The parse sits in a one-element `explode` because Catalyst's
    * PushDownPredicates would otherwise copy it into the null filter
    * below the projection and parse every payload twice; a filter on a
    * generator's output cannot be pushed below the `Generate`. */
  def fromJsonPayload(raw: DataFrame, payloadCol: String = "value",
                      schema: StructType = expediaSchema): DataFrame =
    raw
      .filter(col(payloadCol).isNotNull)
      .select(explode(array(
        Bridge.column(DecodeJsonPayload(
          Bridge.expression(col(payloadCol).cast("string")), schema)))).as("r"))
      .filter(col("r").isNotNull)
      .select("r.*")

  /** Stage 1 parity — the Faust enrichment (D1–D4 + P3):
    * append stay_category from the check-in/check-out strings. */
  def enrich(records: DataFrame): DataFrame =
    Enrich.withStayCategory(records, "srch_ci", "srch_co")

  /** K1 parity — back to a single JSON payload column for a Kafka sink. */
  def toJsonPayload(df: DataFrame): DataFrame =
    df.select(to_json(struct(df.columns.map(col): _*)).as("value"))

  /** Stream–static dimension enrichment: left-join each arriving record
    * to a (small) static dimension, broadcast so the stream is NEVER
    * shuffled — the per-micro-batch plan is scan → broadcast hash join,
    * stateless, no watermark needed. The dim DataFrame is re-resolved per
    * micro-batch when it reads from a file source, so slowly-changing
    * dims refresh by rewriting their storage. At 100 TB/day stream rates
    * this is the only join shape with zero streaming state. */
  def enrichWithStaticDim(stream: DataFrame, dim: DataFrame,
                          keys: Seq[String]): DataFrame =
    stream.join(broadcast(dim), keys, "left")

  /** Stream–stream INTERVAL join (the ad-attribution shape): match right
    * events to left events with the same key when the right timestamp
    * falls in [left ts, left ts + maxGap]. Watermarks on BOTH sides bound
    * the join state: each side buffers only rows newer than its watermark
    * minus the interval, so state is O(rate × window), not unbounded.
    * Inner join — matches emit as soon as both rows have arrived. Column
    * names must be disjoint apart from `keyCol`. */
  def streamStreamIntervalJoin(left: DataFrame, right: DataFrame,
                               keyCol: String, leftTsCol: String,
                               rightTsCol: String,
                               delay: String = "10 minutes",
                               maxGap: String = "30 minutes"): DataFrame = {
    intervalJoin(left, right, keyCol, leftTsCol, rightTsCol, delay, maxGap,
      "inner")
  }

  /** LEFT OUTER stream-stream interval join: same attribution shape as
    * `streamStreamIntervalJoin`, but an impression with NO conversion
    * inside the gap is still emitted (right columns null) — once the
    * watermark proves no match can arrive. The null-padded row is thus
    * deliberately LATE by up to delay+maxGap; that delay is the price of
    * a correct "did not convert" verdict on an unbounded stream. */
  def streamStreamLeftOuterJoin(left: DataFrame, right: DataFrame,
                                keyCol: String, leftTsCol: String,
                                rightTsCol: String,
                                delay: String = "10 minutes",
                                maxGap: String = "30 minutes"): DataFrame =
    intervalJoin(left, right, keyCol, leftTsCol, rightTsCol, delay, maxGap,
      "leftOuter")

  private def intervalJoin(left: DataFrame, right: DataFrame, keyCol: String,
                           leftTsCol: String, rightTsCol: String,
                           delay: String, maxGap: String,
                           joinType: String): DataFrame = {
    val l = left.withWatermark(leftTsCol, delay).alias("l")
    val r = right.withWatermark(rightTsCol, delay).alias("r")
    l.join(r, expr(
      s"""l.$keyCol = r.$keyCol AND
          r.$rightTsCol >= l.$leftTsCol AND
          r.$rightTsCol <= l.$leftTsCol + INTERVAL $maxGap"""),
      joinType)
      .drop(col(s"r.$keyCol"))
  }

  /** Stage 2 parity — the CTAS aggregation over the enriched stream
    * (A1–A3). Keeps ksqlDB's exact COUNT_DISTINCT via a collect_set
    * (bounded real-world cardinality per category); for bounded state at
    * high cardinality use [[hotelsCountBounded]] (SURVEY.md §7.3). */
  def hotelsCount(enriched: DataFrame): DataFrame =
    enriched
      .groupBy(col("stay_category"))
      .agg(
        count(col("hotel_id")).as("hotels_amount"),
        size(collect_set(col("hotel_id"))).cast("long").as("distinct_hotels"))

  /** The 100 TB answer (SURVEY.md §7.3): per-group state is an exact set
    * only while the group is small, an HLL sketch after — so the common
    * small-cardinality groups stay ksqlDB-exact while a pathological
    * group cannot blow up the state store. */
  def hotelsCountBounded(enriched: DataFrame, threshold: Int = 100000): DataFrame =
    enriched
      .groupBy(col("stay_category"))
      .agg(
        count(col("hotel_id")).as("hotels_amount"),
        graft.functions.BoundedDistinct
          .boundedCountDistinct(col("hotel_id"), threshold)
          .as("distinct_hotels"))

  /** Incremental Gram/covariance maintenance over a stream of quantized
    * embedding rows — the streaming sibling of `embedding_pca_power`'s
    * batch pass: an update-mode GLOBAL aggregation whose state is the
    * single d(d+1)/2-long `gram_matrix` buffer (~16 KB at d=64,
    * independent of stream length), merged across micro-batches by the
    * aggregate's own exact-integer merge path. Each emitted update is
    * the full running scatter matrix + row count, so a monitoring job
    * can re-derive covariance/top-PC drift after every batch without
    * ever rescanning history. */
  def gramStream(vecs: DataFrame, d: Int, vecCol: String = "q"): DataFrame =
    vecs.groupBy().agg(
      count(lit(1)).as("n_rows"),
      graft.functions.GramMatrix.gramMatrix(col(vecCol), d).as("gram"))

  /** Streaming HyperLogLog registers (p=12): the distinct-user sketch as
    * an update-mode streaming aggregation — bucket = top 12 bits of
    * splitmix64(user_id), register = leading-zero rank of the remaining
    * 52. State is AT MOST 4096 tiny rows regardless of stream volume; the
    * update is a grouped max (map-side combinable, and retry-idempotent:
    * a replayed row can never move a register backwards — the
    * exactly-once-friendly property); registers from different
    * shards/streams/days merge by the same max. The closing
    * harmonic-estimate fold is domain-sized serving-side arithmetic,
    * identical to batch `agg_hll_estimate`. */
  def hllStream(events: Dataset[UserEvent]): DataFrame =
    events.toDF()
      .withColumn("z1", expr(s"user_id + ${0x9e3779b97f4a7c15L}L"))
      .withColumn("z2",
        expr(s"(z1 ^ shiftrightunsigned(z1, 30)) * ${0xbf58476d1ce4e5b9L}L"))
      .withColumn("z3",
        expr(s"(z2 ^ shiftrightunsigned(z2, 27)) * ${0x94d049bb133111ebL}L"))
      .withColumn("h", expr("z3 ^ shiftrightunsigned(z3, 31)"))
      .withColumn("bucket", expr("shiftrightunsigned(h, 52)"))
      .withColumn("rest", expr(s"h & ${(1L << 52) - 1}L"))
      .withColumn("rho", expr(
        "CASE WHEN rest = 0 THEN 53L ELSE 53L - length(bin(rest)) END"))
      .groupBy("bucket").agg(max(col("rho")).as("reg"))

  /** Streaming Greenwald–Khanna quantile bounds: the batch `gk_bounds`
    * TypedImperativeAggregate as an update-mode streaming aggregation —
    * state is ONE O(1/eps · log(eps·n)) summary per group regardless of
    * stream volume, merged across micro-batches by the same GK merge the
    * batch partial-aggregation uses. Each update emits refreshed [lo, hi]
    * windows per requested quantile; GK's guarantee (the window CONTAINS
    * the exact interpolation ranks — width may vary with merge order,
    * containment never does) holds at every emission, so a serving layer
    * can confirm exact percentiles by sorting only inside the window. */
  def quantileStream(events: Dataset[UserEvent], eps: Double = 0.01,
      qs: Seq[Double] = Seq(0.5, 0.95, 0.99)): DataFrame =
    events.toDF().groupBy()
      .agg(count(lit(1)).as("n_rows"),
        graft.functions.GKQuantile.gkBounds(col("value"), eps, qs)
          .as("gk"))

  /** Streaming Count–Min sketch: the batch `cms_sketch`
    * TypedImperativeAggregate as an update-mode streaming aggregation —
    * state is ONE depth×width counter grid regardless of stream volume
    * or key cardinality, merged across micro-batches by cell-wise sums
    * (the same commutative merge the batch partial aggregation uses,
    * order-proven by `agg_cms_merge`). CMS's guarantee — the point
    * estimate (min over a key's depth cells) NEVER undercounts — holds
    * at every emission, so a serving layer can read per-key frequency
    * floors mid-stream for keys chosen AFTER the pass: the
    * unbounded-key frequency story at 100 TB, where a per-key groupBy
    * state would grow without bound. */
  def cmsStream(events: Dataset[UserEvent], depth: Int = 4,
                width: Int = 1024): DataFrame =
    events.toDF().groupBy()
      .agg(count(lit(1)).as("n_rows"),
        graft.functions.CountMinFunctions.cmsSketch(
          col("user_id").cast("string"), depth, width).as("cms"))

  /** Streaming Misra–Gries heavy hitters: the capacity-k mergeable
    * summary (`mg_candidates`) as an update-mode streaming aggregation —
    * state is ≤ k counters. The MG guarantee holds at every emission
    * under ANY micro-batch split (Agarwal et al. mergeability): every
    * key with true frequency > n/(k+1) is present, and each reported
    * count is a lower bound short by at most n/(k+1). The serving layer
    * confirms exact counts for just the ≤ k candidates — the
    * unbounded-key top-k story at 100 TB. */
  def topkStream(events: Dataset[UserEvent], k: Int = 16): DataFrame =
    events.toDF().groupBy()
      .agg(count(lit(1)).as("n_rows"),
        graft.functions.HeavyHitters.mgCandidates(col("user_id"), k)
          .as("mg"))

  /** Wire a streaming source through enrich → hotels_count and emit the
    * changelog (K2/K3 parity: outputMode("update") ≙ EMIT CHANGES). */
  def changelogWriter(records: DataFrame): DataStreamWriter[Row] =
    hotelsCount(enrich(records))
      .writeStream
      .outputMode(OutputMode.Update())

  /** Run the full pipeline onto an in-memory table (K3 push-query parity:
    * clients read `SELECT * FROM <name>`). */
  def startMemoryChangelog(records: DataFrame, name: String): StreamingQuery =
    changelogWriter(records)
      .format("memory")
      .queryName(name)
      .start()

  /** Arbitrary stateful processing via `flatMapGroupsWithState` — the
    * escape hatch for state machines the declarative aggregates can't
    * express (custom counters, session objects, model state). Keeps a
    * per-user running total + event count across micro-batches and emits
    * one update row per touched key per batch (update-mode changelog).
    * State lives in the state store (RocksDB-capable, checkpointed). */
  def runningUserTotals(events: Dataset[UserEvent]): Dataset[UserTotalsUpdate] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[UserTotalsState, UserTotalsUpdate](
        OutputMode.Update(), GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[UserEvent], state: GroupState[UserTotalsState]) =>
          val prev = state.getOption.getOrElse(UserTotalsState(0L, 0.0, 0L))
          var n = prev.n_events
          var total = prev.total_value
          var last = prev.last_seen_ms
          it.foreach { e =>
            n += 1; total += e.value; last = math.max(last, e.ts.getTime)
          }
          state.update(UserTotalsState(n, total, last))
          Iterator(UserTotalsUpdate(uid, n, total))
      }
  }

  /** The same running-totals state machine on `transformWithState` — the
    * Spark-4 arbitrary-state API that replaces flatMapGroupsWithState:
    * typed state handles (ValueState here; List/Map state and timers for
    * richer machines) instead of one opaque state object, and state
    * evolution/TTL managed by the store. Requires the RocksDB state store
    * provider. Emits one update row per touched key per batch. */
  def runningUserTotalsTws(events: Dataset[UserEvent]): Dataset[UserTotalsUpdate] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .transformWithState(new RunningTotalsProcessor(),
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Update())
  }

  /** `runningUserTotalsTws` with store-managed state TTL: a user idle for
    * `ttlMs` of processing time has their slot dropped by the store (no
    * timers, no manual sweep) and restarts from zero on their next event.
    * This is the bounded-state configuration an unbounded key space needs
    * in production; TTL state requires processing-time mode. */
  def runningUserTotalsTtl(events: Dataset[UserEvent],
                           ttlMs: Long): Dataset[UserTotalsUpdate] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .transformWithState(new RunningTotalsProcessor(ttlMs),
        org.apache.spark.sql.streaming.TimeMode.ProcessingTime(),
        OutputMode.Update())
  }

  /** Stream-stream BACKWARD as-of join — the streaming sibling of
    * `AsOf.asofBackward`, the standard enrichment join of a feature
    * pipeline (each probe event picks up the latest preceding quote per
    * key). Both streams are tagged into one schema so a single watermark
    * governs completeness on both sides; [[AsOfJoinProcessor]] buffers
    * per-key state and finalizes each left row when the watermark passes
    * its event time. `toleranceMs > 0` bounds the lookback (and the
    * right-history state) exactly like the batch `toleranceUs` knob. */
  def asofBackwardStream(left: Dataset[UserEvent], right: Dataset[QuoteEvent],
                         delay: String = "0 seconds",
                         toleranceMs: Long = 0L): Dataset[AsOfJoined] = {
    import left.sparkSession.implicits._
    val l = left.map(e => AsOfInput(e.user_id, e.ts, 1, e.value))
    val r = right.map(q => AsOfInput(q.user_id, q.ts, 0, q.quote))
    l.unionByName(r)
      .withWatermark("ts", delay)
      .groupByKey(_.user_id)
      .transformWithState(new AsOfJoinProcessor(toleranceMs),
        org.apache.spark.sql.streaming.TimeMode.EventTime(),
        OutputMode.Append())
  }

  /** Stream-stream FORWARD as-of join — streaming `AsOf.asofForward`
    * bounded by a mandatory horizon: each left row matches the earliest
    * right row in [left ts, left ts + horizon] per key. The horizon is
    * non-optional in streaming (an unbounded forward wait never
    * finalizes) and doubles as the state bound; see
    * [[AsOfForwardJoinProcessor]]. */
  def asofForwardStream(left: Dataset[UserEvent], right: Dataset[QuoteEvent],
                        horizonMs: Long,
                        delay: String = "0 seconds"): Dataset[AsOfJoined] = {
    import left.sparkSession.implicits._
    val l = left.map(e => AsOfInput(e.user_id, e.ts, 1, e.value))
    val r = right.map(q => AsOfInput(q.user_id, q.ts, 0, q.quote))
    l.unionByName(r)
      .withWatermark("ts", delay)
      .groupByKey(_.user_id)
      .transformWithState(new AsOfForwardJoinProcessor(horizonMs),
        org.apache.spark.sql.streaming.TimeMode.EventTime(),
        OutputMode.Append())
  }

  /** Stream-stream NEAREST as-of join — streaming `AsOf.asofNearest`
    * with the forward search bounded by a mandatory horizon: each left
    * row matches the |Δt|-minimizing right row among {latest at-or-
    * before} ∪ {earliest in (ts, ts + horizon]}, equidistant ties
    * backward. Matches the batch operator exactly whenever the batch
    * match lies within the horizon; see [[AsOfNearestJoinProcessor]]. */
  def asofNearestStream(left: Dataset[UserEvent], right: Dataset[QuoteEvent],
                        horizonMs: Long,
                        delay: String = "0 seconds"): Dataset[AsOfJoined] = {
    import left.sparkSession.implicits._
    val l = left.map(e => AsOfInput(e.user_id, e.ts, 1, e.value))
    val r = right.map(q => AsOfInput(q.user_id, q.ts, 0, q.quote))
    l.unionByName(r)
      .withWatermark("ts", delay)
      .groupByKey(_.user_id)
      .transformWithState(new AsOfNearestJoinProcessor(horizonMs),
        org.apache.spark.sql.streaming.TimeMode.EventTime(),
        OutputMode.Append())
  }

  /** Streaming CUSUM burst detection — the streaming sibling of the
    * batch `timeseries_cusum` query (SparkEntry), same recurrence
    * S_t = max(0, S_{t−1} + (value − level)) in exact integer cents.
    *
    * The recurrence is inherently SEQUENTIAL per key, so out-of-order
    * arrival cannot be folded on sight: rows buffer in list state with
    * one event-time timer each, and on expiry every row at-or-before
    * the watermark is final (anything earlier would be late-dropped) —
    * fold them in (ts, value) order, carry (S, n, max_S, alarms) in
    * value state, emit the updated per-user summary. State per key is
    * O(in-flight window), never O(stream); the fold state is four
    * longs. */
  def cusumStream(events: Dataset[UserEvent],
                  delay: String = "0 seconds",
                  levelCents: Long = 6000L,
                  thresholdCents: Long = 30000L): Dataset[CusumSummary] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", delay)
      .groupByKey(_.user_id)
      .transformWithState(new CusumProcessor(levelCents, thresholdCents),
        org.apache.spark.sql.streaming.TimeMode.EventTime(),
        OutputMode.Append())
  }

  /** Streaming Poisson rate-spike detection — the streaming sibling of
    * the batch `events_anomaly_rate_spike` query: a watermark-closed
    * 1-day tumbling count per event type CHAINS into a
    * [[RateSpikeProcessor]] that scores each closed day against its
    * trailing 7 observed days (z = (x − λ̂)/√λ̂, same shared double
    * tree). Two stateful operators, both bounded: the window agg holds
    * open windows only, the processor seven pairs per type. */
  def rateSpikeStream(events: Dataset[TypedEvent],
                      delay: String = "0 seconds"): Dataset[SpikeDay] = {
    import events.sparkSession.implicits._
    events.toDF()
      .withWatermark("ts", delay)
      .groupBy(col("event_type"), window(col("ts"), "1 day"))
      .agg(count(lit(1)).as("x"))
      .select(col("event_type"), col("window.start").as("day_start"),
        col("x"))
      .as[DayCount]
      .groupByKey(_.event_type)
      .transformWithState(new RateSpikeProcessor(),
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Append())
  }

  /** Windowed trending-key detection: per tumbling event-time window,
    * the Misra–Gries candidate summary over the key column — "what's
    * hot RIGHT NOW", the streaming sibling of `agg_heavy_hitters`.
    * State per window is the k-counter MG summary (not the key space),
    * merged across micro-batches by the aggregate's own merge path, so
    * an unbounded key stream holds O(k · open windows) state; the
    * watermark closes windows and append mode emits each exactly once.
    * MG's guarantee survives arbitrary merge orders: every key with
    * more than n_window/(k+1) occurrences in the window is nominated,
    * and every reported count is a lower bound within n_window/(k+1). */
  def trendingStream(events: Dataset[UserEvent],
                     windowDur: String = "10 minutes",
                     k: Int = 16,
                     delay: String = "0 seconds"): DataFrame =
    events.toDF()
      .withWatermark("ts", delay)
      .groupBy(window(col("ts"), windowDur))
      .agg(graft.functions.HeavyHitters.mgCandidates(col("user_id"), k).as("mg"))
      .select(col("window.start").as("win_start"),
        col("mg.n").as("n_window"), col("mg.items").as("candidates"))

  /** Streaming distribution-drift monitor — the streaming sibling of
    * `stats_ks_test`/`privacy_t_closeness`'s TVD algebra: per tumbling
    * event-time window, the total-variation distance between the
    * window's `value` histogram and a broadcast REFERENCE histogram
    * (the training-snapshot artifact), as an exact-integer ppm.
    *
    * Shape: two CHAINED stateful aggregations in append mode (Spark 4
    * watermark propagation). Agg 1 finalizes exact (window, bin) counts
    * — state per window is BIN-DOMAIN-sized, never row-sized; agg 2
    * re-windows those finalized rows and folds the bin list against the
    * reference map with the absent-bin identity
    * Σ_present(|c·Nref − r·Nwin| − r·Nwin) + Nref·Nwin, so bins missing
    * from either side are accounted without ever materializing. All
    * arithmetic before the single ppm division is 64-bit integer —
    * the emitted drift number is exact, not a float estimate.
    *
    * The reference histogram is a bins-sized artifact (like the IVF
    * centroids): broadcast as a map literal, no stream-static shuffle. */
  def driftStream(events: Dataset[UserEvent],
                  refHist: Map[Long, Long],
                  binWidthCents: Long = 10000L,
                  windowDur: String = "10 minutes",
                  delay: String = "0 seconds",
                  thresholdPpm: Long = 200000L): DataFrame = {
    require(refHist.nonEmpty, "driftStream: empty reference histogram")
    val nRef = refHist.values.sum
    val refCol = typedlit(refHist)
    val perBin = events.toDF()
      .withWatermark("ts", delay)
      .withColumn("bin",
        expr(s"CAST(round(value * 100) AS BIGINT) div $binWidthCents"))
      .groupBy(window(col("ts"), windowDur), col("bin"))
      .agg(count(lit(1)).as("cnt"))
    perBin
      .groupBy(window(col("window"), windowDur))
      .agg(collect_list(struct(col("bin"), col("cnt"))).as("bins"))
      .withColumn("n_win", aggregate(col("bins"), lit(0L),
        (acc, x) => acc + x.getField("cnt")))
      .withColumn("tvd_num", aggregate(col("bins"), lit(0L),
        (acc, x) => {
          val r = coalesce(element_at(refCol, x.getField("bin")), lit(0L))
          acc + abs(x.getField("cnt") * lit(nRef) - r * col("n_win")) -
            r * col("n_win")
        }) + lit(nRef) * col("n_win"))
      .select(col("window.start").as("win_start"), col("n_win"),
        // tvd_num ≤ 2·n_win·nRef, so 1000000·tvd_num wraps BIGINT once
        // n_win·nRef exceeds ~4.6e12 (large ref corpus × busy window) —
        // route the ppm through decimal(38,0), exact-integer discipline
        expr(s"""CAST((1000000 * CAST(tvd_num AS DECIMAL(38,0)))
                 div (2 * CAST(n_win AS DECIMAL(38,0)) * ${nRef}L)
                 AS BIGINT)""").as("tvd_ppm"))
      .withColumn("drifted", col("tvd_ppm") > thresholdPpm)
  }

  /** Timer-driven session summaries on `transformWithState`: per-user
    * accumulator plus ONE event-time timer at (last event + gap); when the
    * watermark passes it, the session summary is emitted and state is
    * cleared. The timer API is what flatMapGroupsWithState's timeout enum
    * could not express: multiple independent timers per key, exact
    * event-time semantics, state dropped at the moment of emission. */
  def sessionSummaries(events: Dataset[UserEvent], gapMs: Long = 600000L,
                       delay: String = "0 seconds"): Dataset[SessionSummary] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", delay)
      .groupByKey(_.user_id)
      .transformWithState(new SessionSummaryProcessor(gapMs),
        org.apache.spark.sql.streaming.TimeMode.EventTime(), OutputMode.Append())
  }

  /** Streaming exact deduplication on key columns — the training-pipeline
    * dedup operator in its incremental form. Both branches dedup on the
    * key columns ALONE: with an event-time column + watermark the state is
    * bounded via `dropDuplicatesWithinWatermark` (a key's state is dropped
    * once the watermark passes its event time, so a duplicate arriving
    * within the watermark delay is suppressed while state stays finite);
    * without one it matches the reference's grow-forever state semantics. */
  def dedupStream(records: DataFrame, keyCols: Seq[String],
                  eventTimeCol: Option[String] = None,
                  watermarkDelay: String = "1 hour"): DataFrame =
    eventTimeCol match {
      case Some(ts) =>
        records.withWatermark(ts, watermarkDelay)
          .dropDuplicatesWithinWatermark(keyCols)
      case None => records.dropDuplicates(keyCols)
    }

  /** Streaming near-dup dedup against a STATIC corpus — the rolling-ingest
    * dedup shape as a live stream, wired through `foreachBatch`: each
    * micro-batch is a plain batch DataFrame, so the full exact+near dedup
    * machinery (`Dedup.incrementalDedup`: fingerprint semi-join, cross-
    * corpus MinHash buckets, exact-Jaccard verify, anti-join) runs
    * unchanged. This is the idiomatic Spark pattern when per-record logic
    * needs batch-only operators (distinct / anti-join would be illegal
    * stream-stream ops in a single continuous plan).
    *
    * Scale shape: per micro-batch the work is new×corpus only (the corpus
    * is never re-paired with itself), and the corpus side should be a
    * PERSISTED/materialized table — refresh it by replacing the parquet it
    * reads from. No streaming state at all; delivery inherits foreachBatch
    * exactly-once-per-epoch semantics with an idempotent sink.
    *
    * Returns the started query; `sink` receives each micro-batch's
    * SURVIVORS (documents that do not exactly or nearly duplicate the
    * corpus — `Dedup.incrementalDedup` contract; within-batch pairs are
    * deliberately NOT checked, matching the batch operator, so compose
    * with `minhashDedupSurvivors` on the batch if intra-batch dedup is
    * also wanted). */
  def dedupStreamAgainstCorpus(docs: DataFrame, corpus: DataFrame,
                               idCol: String, textCol: String,
                               sink: (DataFrame, Long) => Unit,
                               shingleSize: Int = 3, bands: Int = 16,
                               rowsPerBand: Int = 4, threshold: Double = 0.8)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        val survivors = graft.operators.Dedup.incrementalDedup(
          batch, corpus, idCol, textCol, shingleSize, bands, rowsPerBand,
          threshold)
        sink(survivors, epochId)
      }
      .start()

  /** Streaming exact-substring SCRUB against a materialized corpus
    * positional-shingle index (`Dedup.writeSubstrIndex`): each
    * micro-batch's verbatim token runs of ≥ minRun+shingleSize−1 tokens
    * that already appear in the corpus are located
    * (`Dedup.substringSpansFromIndex`) and CUT (`Dedup.applySpans`) —
    * the sink receives every batch doc with its cleaned canonical token
    * stream and removal accounting, ready for downstream ingest.
    *
    * The streaming face of the Lee et al. 2022 ExactSubstr pipeline:
    * per batch, text work is O(batch) (the index is probed, corpus text
    * never re-tokenized), so it sustains rolling ingest at corpus sizes
    * where re-deduplicating from scratch is impossible. Stateless —
    * delivery inherits foreachBatch epoch semantics. */
  def substrScrubStream(docs: DataFrame, indexPath: String,
                        idCol: String, textCol: String,
                        sink: (DataFrame, Long) => Unit,
                        shingleSize: Int = 3, minRun: Int = 6)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        val spark = batch.sparkSession
        val spans = graft.operators.Dedup.substringSpansFromIndex(
          spark, indexPath, batch, idCol, textCol, shingleSize, minRun)
        sink(graft.operators.Dedup.applySpans(batch, spans, idCol, textCol),
          epochId)
      }
      .start()

  /** Streaming MinHash near-dup scrub at ingest — the fuzzy sibling of
    * `substrScrubStream` and the streaming form of
    * `Dedup.incrementalDedupFromIndex`: each micro-batch probes the
    * MATERIALIZED corpus dedup index (fingerprints + LSH band buckets +
    * shingle sets on storage, built offline by `writeDedupIndex`) and the
    * sink receives only batch docs that are neither exact nor ≥threshold
    * Jaccard near-dups of the corpus. foreachBatch is the right tool:
    * the per-batch plan needs batch-only shapes (candidate `distinct`,
    * pair joins) that a continuous stateful plan would turn into
    * unbounded state, while the per-batch semantics are EXACTLY the
    * incremental batch operator's — one oracle covers both. */
  def nearDupScrubStream(docs: DataFrame, indexPath: String,
                         idCol: String, textCol: String,
                         sink: (DataFrame, Long) => Unit,
                         shingleSize: Int = 3, bands: Int = 16,
                         rowsPerBand: Int = 4, threshold: Double = 0.8)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        sink(graft.operators.Dedup.incrementalDedupFromIndex(
          batch.sparkSession, indexPath, batch, idCol, textCol,
          shingleSize, bands, rowsPerBand, threshold), epochId)
      }
      .start()

  /** Streaming quality gate: score every arriving document with the
    * hashed linear classifier (`HashOps.linearMargin` — one codegen'd
    * expression, exact integer margin) and pass only positive-margin
    * docs. Completely STATELESS — no state store, no watermark, no
    * shuffle — so it composes in front of any sink or downstream
    * stateful stage at full ingest rate. The ingest-time form of the
    * batch `quality_model_score` (same margin, same keep rule). */
  def qualityGateStream(docs: DataFrame, textCol: String): DataFrame =
    docs
      .withColumn("margin", graft.functions.HashFunctions.linearMargin(
        graft.functions.TextFunctions.tokens(lower(col(textCol)))))
      .filter(col("margin") > 0)

  /** Streaming dataset fingerprint: the running
    * `Layout.datasetFingerprint` of everything ingested so far,
    * maintained incrementally per micro-batch. Because the fingerprint
    * is a COMMUTATIVE wrapping sum of per-row hashes, the streaming
    * aggregate state is two longs and the result after any prefix of
    * batches equals the batch fingerprint of the union of those batches
    * — verify a 100 TB ingest continuously, never rescanning. Emit in
    * complete/update mode. */
  def fingerprintStream(records: DataFrame, cols: Seq[String]): DataFrame =
    records
      .select(graft.operators.Layout.rowHash(cols).as("h"))
      .groupBy()
      .agg(count(lit(1)).as("n_rows"), sum(col("h")).as("content_hash"))

  /** File-backed materialized changelog: the reference's "queryable KSQL
    * table" (K2/K3) as versioned parquet ANY engine can read. Each batch
    * merges its updates into the previous snapshot (latest row per key by
    * (tsCol, batch-wins) ordering) and writes a complete new snapshot
    * `v=<epoch>`; readers always see a whole version, never a partial
    * write, and a batch RETRY rewrites its own version (reads the max
    * version BELOW the epoch) — exactly-once without a table format.
    * Old snapshots are pruned down to `keepVersions`.
    *
    * Exactly-once across QUERY RESTARTS requires `checkpointLocation`:
    * without it Spark restarts epochIds at 0, the merge-base lookup
    * (`versions < epochId`) finds nothing, and the first post-restart
    * batch silently rebuilds v=0 from one micro-batch. With it, epoch
    * IDs continue monotonically and the merge chain is unbroken. Only
    * omit it for single-run tests. */
  def materializeChangelog(updates: DataFrame, path: String,
                           keyCols: Seq[String], tsCol: String,
                           keepVersions: Int = 2,
                           checkpointLocation: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    // keepVersions == 1 would delete the merge BASE right after writing:
    // a retry of the next epoch would then find no pre-epoch snapshot and
    // rebuild the table from its lone micro-batch — permanent key loss
    require(keepVersions >= 2,
      s"keepVersions must be >= 2 (the newest pre-epoch snapshot is the " +
        s"retry merge base); got $keepVersions")
    val writer = updates.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        val spark = batch.sparkSession
        val hPath = new org.apache.hadoop.fs.Path(path)
        val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
        // only COMPLETE snapshots (job-committed, _SUCCESS present) are
        // merge-base candidates — a version left half-written by a crash
        // mid-overwrite must never seed the next merge
        val versions = completeVersions(fs, hPath)
        val cur = versions.filter(_ < epochId).sorted.lastOption
        val withSrc = batch.withColumn("_src", lit(1))
        val all = cur
          .map(v => spark.read.parquet(s"$path/v=$v").withColumn("_src", lit(0))
            .unionByName(withSrc))
          .getOrElse(withSrc)
        val others = all.columns.toSeq
          .filterNot(c => keyCols.contains(c) || c == "_src")
        // ordering: event time, then batch-beats-snapshot, then a stable
        // content hash — two same-key updates with equal tsCol in one
        // batch would otherwise tie at (ts, 1) and a retry could pick the
        // other row, rewriting v=<epoch> with different contents
        val merged = all.groupBy(keyCols.map(col): _*)
          .agg(max_by(struct(others.map(col): _*),
            struct(col(tsCol), col("_src"),
              xxhash64(others.map(col): _*))).as("r"))
          .select(keyCols.map(col) ++
            others.map(c => col(s"r.$c").as(c)): _*)
        merged.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .parquet(s"$path/v=$epochId")
        versions.filter(_ < epochId).sorted.dropRight(keepVersions - 1)
          .foreach(v => fs.delete(
            new org.apache.hadoop.fs.Path(s"$path/v=$v"), true))
        // crashed-partial snapshots (v= dir, no _SUCCESS) below the
        // current epoch can never become merge bases — only that exact
        // epoch's retry would overwrite them, and a lower epoch never
        // retries once this one runs. Without this sweep they accumulate
        // under the table path forever.
        val complete = versions.toSet
        fs.listStatus(hPath).toSeq
          .filter { st =>
            val n = st.getPath.getName
            n.startsWith("v=") && n.length > 2 && n.drop(2).forall(_.isDigit) &&
              n.drop(2).toLong < epochId && !complete(n.drop(2).toLong)
          }
          .foreach(st => fs.delete(st.getPath, true))
        ()
      }
    checkpointLocation.foreach(cp => writer.option("checkpointLocation", cp))
    writer.start()
  }

  /** Versions under `path` whose parquet job commit finished (`_SUCCESS`
    * present). A `v=<epoch>` directory is visible to listStatus the moment
    * the overwrite starts, so readers and merge-base lookups must ignore
    * in-progress or crashed-partial snapshots. */
  private def completeVersions(fs: org.apache.hadoop.fs.FileSystem,
                               hPath: org.apache.hadoop.fs.Path): Seq[Long] =
    if (!fs.exists(hPath)) Seq.empty[Long]
    else fs.listStatus(hPath).toSeq
      .filter(st => st.getPath.getName.startsWith("v=") &&
        fs.exists(new org.apache.hadoop.fs.Path(st.getPath, "_SUCCESS")))
      .map(_.getPath.getName.drop(2).toLong)

  /** Read the newest COMPLETE snapshot written by `materializeChangelog` —
    * only versions whose `_SUCCESS` marker exists are considered, so a
    * concurrent reader never sees the in-progress epoch as "latest". */
  def readMaterialized(spark: org.apache.spark.sql.SparkSession,
                       path: String): DataFrame = {
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val versions = completeVersions(fs, hPath)
    require(versions.nonEmpty, s"no complete snapshot under $path")
    spark.read.parquet(s"$path/v=${versions.max}")
  }

  /** Streaming dedup with a GROWING corpus — the true production shape of
    * rolling ingestion: each micro-batch is deduped (1) against itself
    * (a batch can carry its own duplicates), (2) against everything
    * accepted so far, and then (3) its survivors are appended to the
    * corpus, so the NEXT batch dedups against them too.
    *
    * The corpus lives as an epoch-partitioned parquet directory and each
    * epoch's survivors are written `epoch=<id>` with overwrite — a batch
    * RETRY rewrites the same partition instead of double-appending, which
    * is what makes the grown corpus exactly-once. Seed the corpus by
    * writing initial docs to `<corpusPath>/epoch=seed`. Batches execute
    * strictly sequentially, so read-then-append needs no external lock.
    *
    * As with [[materializeChangelog]], pass `checkpointLocation` for any
    * query that may RESTART: a restart without it resets epochId to 0 and
    * the retry-exclusion (`epoch =!= epochId`) would then exclude — and
    * the overwrite would clobber — epoch=0 survivors from the prior run. */
  def dedupStreamGrowingCorpus(docs: DataFrame, corpusPath: String,
                               idCol: String, textCol: String,
                               sink: (DataFrame, Long) => Unit = (_, _) => (),
                               shingleSize: Int = 3, bands: Int = 16,
                               rowsPerBand: Int = 4, threshold: Double = 0.8,
                               checkpointLocation: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val writer = docs.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        growCorpusBatch(batch, corpusPath, epochId, idCol, textCol, sink,
          shingleSize, bands, rowsPerBand, threshold)
      }
    checkpointLocation.foreach(cp => writer.option("checkpointLocation", cp))
    writer.start()
  }

  /** One micro-batch of the growing-corpus dedup (factored out so a batch
    * RETRY can be exercised directly in tests). The corpus read EXCLUDES
    * the current epoch's own partition: a retried batch must not doom its
    * survivors against the half-committed copy of itself it wrote on the
    * failed attempt — with the exclusion, re-running an epoch recomputes
    * the identical survivor set and overwrites the same partition. */
  private[graft] def growCorpusBatch(batch: DataFrame, corpusPath: String,
                                     epochId: Long, idCol: String,
                                     textCol: String,
                                     sink: (DataFrame, Long) => Unit,
                                     shingleSize: Int, bands: Int,
                                     rowsPerBand: Int,
                                     threshold: Double): Unit = {
    val spark = batch.sparkSession
    import graft.operators.Dedup
    val internal = Dedup.minhashDedup(
      Dedup.exactDedup(batch, idCol, textCol), idCol, textCol,
      shingleSize, bands, rowsPerBand, threshold)
    // the shared FileStatusCache remembers the previous batch's
    // directory listing FOREVER (metadataCacheTTLSeconds = -1), so a
    // fresh read would miss the epochs appended since — invalidate
    // the path before every corpus read
    spark.catalog.refreshByPath(corpusPath)
    val corpus = spark.read.parquet(corpusPath)
      .filter(col("epoch") =!= epochId.toString)
      .select(idCol, textCol)
    val survivors = Dedup.incrementalDedup(
        internal, corpus, idCol, textCol, shingleSize, bands,
        rowsPerBand, threshold)
      .select(idCol, textCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    survivors.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$corpusPath/epoch=$epochId")
    sink(survivors, epochId)
    survivors.unpersist()
    ()
  }

  /** Session-windowed aggregation (gap-based, event-time): the streaming
    * form of the batch gaps-and-islands sessionization. `session_window`
    * merges events closer than `gap` into one growing window; with the
    * watermark, a session finalizes (and its state drops) once the
    * watermark passes its end — bounded state for unbounded streams. */
  def sessionWindowedCounts(events: DataFrame, tsCol: String, delay: String,
                            gap: String): DataFrame =
    events
      .withWatermark(tsCol, delay)
      .groupBy(session_window(col(tsCol), gap), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("event_type"), col("n"), col("sum_value"))

  /** Event-time windowed aggregation with a watermark — the T4 extension
    * the reference lacks but 100 TB state-boundedness requires: state for
    * closed windows is dropped after `delay`. */
  def windowedEventCounts(events: DataFrame, tsCol: String, delay: String,
                          window: String): DataFrame =
    events
      .withWatermark(tsCol, delay)
      .groupBy(
        org.apache.spark.sql.functions.window(col(tsCol), window),
        col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("sum_value"))
}
