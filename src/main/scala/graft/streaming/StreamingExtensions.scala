package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TimeMode}
import org.apache.spark.sql.{DataFrame, Dataset}

/** Input row for the custom-state operators (top-level for encoders). */
case class UserEvent(user_id: Long, ts: java.sql.Timestamp, value: Double)
/** Per-user state of [[RunningTotalsProcessor]]. */
case class UserTotalsState(n_events: Long, total_value: Double, last_seen_ms: Long)
/** One changelog row per updated key per micro-batch. */
case class UserTotalsUpdate(user_id: Long, n_events: Long, total_value: Double)

/** StatefulProcessor for [[StreamingExtensions.runningUserTotals]]: one
  * ValueState slot per user holding (n_events, total_value,
  * last_seen_ms). Top-level class — the processor is serialized to
  * executors.
  *
  * `ttlMs > 0` opts the state into store-managed expiry (requires
  * processing-time mode): a key idle longer than the TTL is dropped by
  * the store itself and its totals restart from zero — the bounded-state
  * answer for key spaces that grow forever (the reference's KSQL table
  * state grows without bound; at 100 TB an unbounded per-user slot is a
  * guaranteed OOM, TTL is the standard hygiene). */
class RunningTotalsProcessor(ttlMs: Long)
    extends StatefulProcessor[Long, UserEvent, UserTotalsUpdate] {
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

/** The state-store-buffered, watermark-bounded stream-stream as-of join
  * that the backward, forward and nearest forms share.
  *
  * Why a left row can NEVER be answered on arrival: a right row with a
  * smaller event time may still be in flight. The watermark is the
  * completeness contract — once it passes the time a left row's match can
  * lie in, any not-yet-arrived right row there would be late and dropped
  * at the operator input, so the buffered history is final. Hence: buffer
  * both sides in list state (`lefts`, `rights`), register one event-time
  * timer per left row at (left ts + `timerOffsetMs`), and on expiry
  * finalize every left whose timer time has passed.
  *
  * State is watermark-bounded, the 100 TB requirement: on each expiry,
  * emitted lefts leave the store and the right history is pruned by
  * `keepRights` to what a still-pending or future left can reach, so
  * per-key state is O(lookback or horizon window), never O(stream). */
abstract class AsOfProcessorBase(timerOffsetMs: Long)
    extends StatefulProcessor[Long, AsOfInput, AsOfJoined] {
  import org.apache.spark.sql.{Encoders, streaming => ss}

  @transient private var lefts: ss.ListState[AsOfPendingLeft] = _
  @transient private var rights: ss.ListState[AsOfRightRow] = _

  /** The right history still needed once every left with
    * ts + timerOffsetMs ≤ `expiry` has been emitted. */
  protected def keepRights(rs: List[AsOfRightRow], expiry: Long): List[AsOfRightRow]

  /** The right row `l` joins with, or None. */
  protected def matchFor(l: AsOfPendingLeft, rs: List[AsOfRightRow]): Option[AsOfRightRow]

  /** The latest right at-or-before `cutoff` (equal-time ties to the
    * larger quote) — the "current value" a later left's backward search
    * can still reach — plus every right after it. */
  protected def currentAndNewer(rs: List[AsOfRightRow], cutoff: Long): List[AsOfRightRow] =
    rs.filter(_.ts_ms <= cutoff).maxByOption(r => (r.ts_ms, r.quote)).toList ++
      rs.filter(_.ts_ms > cutoff)

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
        getHandle.registerTimer(t + timerOffsetMs)
      } else rights.appendValue(AsOfRightRow(t, r.value))
    }
    Iterator.empty
  }

  override def handleExpiredTimer(uid: Long, timers: ss.TimerValues,
                                  info: ss.ExpiredTimerInfo): Iterator[AsOfJoined] = {
    val expiry = info.getExpiryTimeInMs()
    val pend = lefts.get().toList
    val rs = rights.get().toList
    val (ready, later) = pend.partition(_.ts_ms + timerOffsetMs <= expiry)
    if (ready.isEmpty) Iterator.empty
    else {
      if (later.isEmpty) lefts.clear() else lefts.put(later.toArray)
      val keep = keepRights(rs, expiry)
      if (keep.isEmpty) rights.clear() else rights.put(keep.toArray)
      ready.sortBy(l => (l.ts_ms, l.value)).iterator.map { l =>
        val m = matchFor(l, rs)
        AsOfJoined(uid, new java.sql.Timestamp(l.ts_ms), l.value,
          m.map(r => new java.sql.Timestamp(r.ts_ms)), m.map(_.quote))
      }
    }
  }
}

/** StatefulProcessor for `asofBackwardStream`: the BACKWARD as-of join.
  * Semantics match `AsOf.asofBackward` exactly: for every left row, the
  * quote of the latest right row with the same key and right ts ≤ left
  * ts (inclusive; ties on ts prefer the larger quote), null when none —
  * optionally bounded by `toleranceMs` lookback. A left's timer fires at
  * its own event time. The right history keeps everything newer than
  * (expiry − tolerance), or, in the unbounded form, the single latest
  * quote at-or-before the expiry plus anything newer. */
class AsOfJoinProcessor(toleranceMs: Long) extends AsOfProcessorBase(0L) {
  override protected def keepRights(rs: List[AsOfRightRow], expiry: Long): List[AsOfRightRow] =
    if (toleranceMs > 0L) rs.filter(_.ts_ms >= expiry - toleranceMs)
    else currentAndNewer(rs, expiry)

  override protected def matchFor(l: AsOfPendingLeft,
                                  rs: List[AsOfRightRow]): Option[AsOfRightRow] =
    rs.filter(r => r.ts_ms <= l.ts_ms &&
      (toleranceMs <= 0L || r.ts_ms >= l.ts_ms - toleranceMs))
      .maxByOption(r => (r.ts_ms, r.quote))
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
class AsOfForwardJoinProcessor(horizonMs: Long) extends AsOfProcessorBase(horizonMs) {
  require(horizonMs > 0L, "forward as-of needs a positive horizon")

  override protected def keepRights(rs: List[AsOfRightRow], expiry: Long): List[AsOfRightRow] =
    rs.filter(_.ts_ms > expiry - horizonMs)

  override protected def matchFor(l: AsOfPendingLeft,
                                  rs: List[AsOfRightRow]): Option[AsOfRightRow] =
    rs.filter(r => r.ts_ms >= l.ts_ms && r.ts_ms <= l.ts_ms + horizonMs)
      .minByOption(r => (r.ts_ms, r.quote))
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
class AsOfNearestJoinProcessor(horizonMs: Long) extends AsOfProcessorBase(horizonMs) {
  require(horizonMs > 0L, "nearest as-of needs a positive forward horizon")

  override protected def keepRights(rs: List[AsOfRightRow], expiry: Long): List[AsOfRightRow] =
    currentAndNewer(rs, expiry - horizonMs)

  override protected def matchFor(l: AsOfPendingLeft,
                                  rs: List[AsOfRightRow]): Option[AsOfRightRow] = {
    val back = rs.filter(_.ts_ms <= l.ts_ms).maxByOption(r => (r.ts_ms, r.quote))
    val fwd = rs.filter(r => r.ts_ms > l.ts_ms && r.ts_ms <= l.ts_ms + horizonMs)
      .minByOption(r => (r.ts_ms, r.quote))
    (back, fwd) match {
      case (Some(b), Some(f)) =>
        if (l.ts_ms - b.ts_ms <= f.ts_ms - l.ts_ms) Some(b) else Some(f)
      case (b, f) => b.orElse(f)
    }
  }
}

/** A typed event for per-type rate accounting. */
case class TypedEvent(event_type: String, ts: java.sql.Timestamp)
/** One CLOSED daily count emitted by the windowed pre-aggregation. */
case class DayCount(event_type: String, day_start: java.sql.Timestamp, x: Long)
/** A scored day: batch `events_anomaly_rate_spike`'s row shape. */
case class SpikeDay(event_type: String, day_start: java.sql.Timestamp,
                    x: Long, s7: Long, z_ppm: Long, spike: Boolean)
/** Deque entry: one of the last 7 closed days for a type. */
case class SpikeHistEntry(day_ms: Long, x: Long)

/** StatefulProcessor for [[StreamingExtensions.rateSpikeStream]]: consumes
  * watermark-CLOSED daily counts (the upstream window agg in append mode
  * guarantees each day arrives exactly once, final), keeps only the last
  * 7 days per type in list state, and scores each arriving day against
  * its trailing week with the same shared z tree as the batch query.
  * State per key is seven (ms, count) pairs — independent of stream
  * length; no timers needed because the input is already finalized. */
class RateSpikeProcessor
    extends StatefulProcessor[String, DayCount, SpikeDay] {
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

/** StatefulProcessor for [[StreamingExtensions.cusumStream]]: buffers
  * rows per key, folds everything at-or-before each expiring watermark
  * timer in (ts, value) order through S = max(0, S + (v − level)), and
  * emits the running per-key summary. Mirrors the batch query's
  * prefix-min formulation exactly on in-order-per-timestamp data (ties
  * break by value here; the batch form breaks by event_id, which the
  * stream schema does not carry — fixtures keep per-user timestamps
  * unique). */
class CusumProcessor(levelCents: Long, thresholdCents: Long)
    extends StatefulProcessor[Long, UserEvent, CusumSummary] {
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

/** Streaming operators beyond the reference topology: arbitrary state,
  * as-of joins, event-time detectors and monitors, and growing-corpus
  * dedup. The reference topology itself (payload decode → enrich →
  * hotels_count changelog) is [[StreamingPipeline]]; nothing here feeds
  * it.
  *
  * Nothing here wraps a batch operator: a grouped aggregate (a sketch,
  * a fingerprint sum, `dropDuplicates`) runs on a streaming frame as it
  * is, and Structured Streaming keeps its state across micro-batches; a
  * per-batch operator runs inside the caller's `foreachBatch`. */
object StreamingExtensions {

  /** Arbitrary stateful processing on `transformWithState`: per-user
    * running totals (n_events, total_value) across micro-batches in a
    * typed ValueState slot, one update row per touched key per batch
    * (update-mode changelog). Requires the RocksDB state store provider.
    *
    * `ttlMs > 0` adds store-managed state TTL (see
    * [[RunningTotalsProcessor]]): a user idle for `ttlMs` of processing
    * time restarts from zero on their next event. TTL state requires
    * processing-time mode, which keeps the engine scheduling
    * micro-batches to evaluate expiry, so that mode is chosen only when a
    * TTL is set: without one a stream goes idle and
    * `processAllAvailable` returns. */
  def runningUserTotals(events: Dataset[UserEvent],
                        ttlMs: Long = 0L): Dataset[UserTotalsUpdate] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .transformWithState(new RunningTotalsProcessor(ttlMs),
        if (ttlMs > 0L) TimeMode.ProcessingTime() else TimeMode.None(),
        OutputMode.Update())
  }

  /** Both streams tagged into one schema so a single watermark governs
    * completeness on both sides, then one as-of processor per key. */
  private def asofStream(left: Dataset[UserEvent], right: Dataset[QuoteEvent],
                         delay: String,
                         processor: AsOfProcessorBase): Dataset[AsOfJoined] = {
    import left.sparkSession.implicits._
    left.map(e => AsOfInput(e.user_id, e.ts, 1, e.value))
      .unionByName(right.map(q => AsOfInput(q.user_id, q.ts, 0, q.quote)))
      .withWatermark("ts", delay)
      .groupByKey(_.user_id)
      .transformWithState(processor, TimeMode.EventTime(), OutputMode.Append())
  }

  /** Stream-stream BACKWARD as-of join — the streaming sibling of
    * `AsOf.asofBackward`, the standard enrichment join of a feature
    * pipeline (each probe event picks up the latest preceding quote per
    * key). [[AsOfJoinProcessor]] buffers per-key state and finalizes each
    * left row when the watermark passes its event time. `toleranceMs > 0`
    * bounds the lookback (and the right-history state) exactly like the
    * batch `toleranceUs` knob. */
  def asofBackwardStream(left: Dataset[UserEvent], right: Dataset[QuoteEvent],
                         delay: String = "0 seconds",
                         toleranceMs: Long = 0L): Dataset[AsOfJoined] =
    asofStream(left, right, delay, new AsOfJoinProcessor(toleranceMs))

  /** Stream-stream FORWARD as-of join — streaming `AsOf.asofForward`
    * bounded by a mandatory horizon: each left row matches the earliest
    * right row in [left ts, left ts + horizon] per key. The horizon is
    * non-optional in streaming (an unbounded forward wait never
    * finalizes) and doubles as the state bound; see
    * [[AsOfForwardJoinProcessor]]. */
  def asofForwardStream(left: Dataset[UserEvent], right: Dataset[QuoteEvent],
                        horizonMs: Long,
                        delay: String = "0 seconds"): Dataset[AsOfJoined] =
    asofStream(left, right, delay, new AsOfForwardJoinProcessor(horizonMs))

  /** Stream-stream NEAREST as-of join — streaming `AsOf.asofNearest`
    * with the forward search bounded by a mandatory horizon: each left
    * row matches the |Δt|-minimizing right row among {latest at-or-
    * before} ∪ {earliest in (ts, ts + horizon]}, equidistant ties
    * backward. Matches the batch operator exactly whenever the batch
    * match lies within the horizon; see [[AsOfNearestJoinProcessor]]. */
  def asofNearestStream(left: Dataset[UserEvent], right: Dataset[QuoteEvent],
                        horizonMs: Long,
                        delay: String = "0 seconds"): Dataset[AsOfJoined] =
    asofStream(left, right, delay, new AsOfNearestJoinProcessor(horizonMs))

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
        TimeMode.EventTime(), OutputMode.Append())
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
        TimeMode.None(), OutputMode.Append())
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
    * As with [[StreamingPipeline.materializeChangelog]], pass
    * `checkpointLocation` for any query that may RESTART: a restart
    * without it resets epochId to 0 and the retry-exclusion
    * (`epoch =!= epochId`) would then exclude — and the overwrite would
    * clobber — epoch=0 survivors from the prior run. */
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
}
