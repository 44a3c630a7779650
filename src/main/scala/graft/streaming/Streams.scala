package graft.streaming

import java.sql.Timestamp

import graft.operators.{Incremental, PositionMachine}
import graft.sources.Compact
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.LongAccumulator

/** A live tick in the streaming layer (same shape as the batch tick set). */
final case class TickRow(pair: String, time: Timestamp, bid: Double, ask: Double)

/** A tick carrying its arrival sequence — the total-order tiebreak the
  * stateful indicator fold needs (same role `seq` plays in the batch dedup). */
final case class SeqTick(pair: String, time: Timestamp, seq: Long, bid: Double)

/** Carried state of the streaming EMA fold: ticks seen, partial seed sum,
  * and the last EMA value (TA-Lib recurrence — see
  * [[graft.operators.Indicators.ema]]). */
final case class EmaState(n: Long, seedSum: Double, prev: Double)

/** One emitted EMA point (defined from the `period`-th tick onward). */
final case class EmaPoint(pair: String, time: Timestamp, ema: Double)

/** One running-drawdown point per processed tick (T13). */
final case class DrawdownPoint(pair: String, time: Timestamp, seq: Long,
                               peak: Double, dd: Double)

/** One indicator cell's persisted fold state in the STREAMING grid (T29)
  * — the keyed-state twin of the batch [[graft.operators.GridState]] row:
  * `n` = candles consumed, `vec` = the [[graft.operators.Indicators]]
  * FusedMachine state vector. */
final case class GridCellSnap(indicator: String, period: Int, n: Long,
                              vec: Seq[Double])

/** The full per-(pair, timeframe) grid state (T29): one [[GridCellSnap]]
  * per (indicator, period) cell — O(Σ periods) doubles per key, never
  * O(history). */
final case class GridSnap(cells: Seq[GridCellSnap])

/** First-tick-of-second pick buffered for an OPEN candle minute in the
  * streaming correlation fold (`sec`/`us` in epoch µs). */
final case class CorrSecPick(sec: Long, us: Long, seq: Long, bid: Double)

/** Carried state of the streaming cross-pair correlation fold (T14):
  * the one open (not-yet-final) candle minute with both pairs' per-second
  * first-tick picks, the aligned-grid position, the previous aligned
  * closes, and the ring of the last `n` close-change pairs. Decimals ride
  * as plain strings — exact, and trivially encodable. */
final case class CorrComboState(openMinute: Long,
                                picksA: List[CorrSecPick],
                                picksB: List[CorrSecPick],
                                aligned: Long,
                                prevCa: String, prevCb: String,
                                ring: List[String])

/** One aligned-minute point of the streaming correlation (corr/beta are
  * None until `n` diffs exist or while a variance term is zero — the
  * batch w12 convention). */
final case class CorrPoint(time: Timestamp, n: Int,
                           corr: Option[Double], beta: Option[Double])

/** Carried state of the streaming tick-grain parabolic-SAR fold (T15):
  * bootstrap count/first bid, the prior two bids (the clamp window), and
  * the (trend, sar, ep, af) stop state. */
final case class SarState(n: Long, firstBid: Double, b1: Double, b2: Double,
                          up: Boolean, sar: Double, ep: Double, af: Double)

/** One emitted trailing-stop point (from the second tick onward). */
final case class SarPoint(pair: String, time: Timestamp, value: Double)

/** Carried state of the streaming SMA-cross signal fold (T18): the one
  * open candle minute with its per-second first-tick picks, the ring of
  * the last `longP` finalized closes (oldest first), and the previous
  * row's two SMA values (NaN-free via the `have*` flags). */
final case class XSigState(openMinute: Long, picks: List[CorrSecPick],
                           ring: List[Double],
                           prevS: Double, haveS: Boolean,
                           prevL: Double, haveL: Boolean)

/** One emitted cross signal (BUY = golden cross, SELL = dead cross), the
  * streaming twin of the batch W1 event shape. */
final case class SignalPoint(pair: String, time: Timestamp,
                             event_type: String, price: Double, period: Int)

/** Carried state of the streaming trade-ledger fold (T19): the T18 cross
  * state plus the open position (`inPos`/entry µs/entry price) and the
  * closed-trade counter. */
final case class TradeState(openMinute: Long, picks: List[CorrSecPick],
                            ring: List[Double],
                            prevS: Double, haveS: Boolean,
                            prevL: Double, haveL: Boolean,
                            inPos: Boolean, entryUs: Long, entry: Double,
                            n: Int)

/** One CLOSED trade emitted by the streaming ledger (the open position is
  * state, not output — a stream has no final row). */
final case class TradePoint(pair: String, trade_no: Int,
                            entry_time: Timestamp, entry_price: Double,
                            exit_time: Timestamp, exit_price: Double,
                            pnl: Double)

/** Carried state of the streaming ZigZag fold (T21): leg direction, the
  * two running extremes (price + epoch µs), and the pivot counter. */
final case class ZigState(started: Boolean, dir: Int,
                          hiP: Double, hiUs: Long,
                          loP: Double, loUs: Long, n: Long)

/** One confirmed ZigZag pivot (T21) — a confirmed pivot never revises,
  * which is what makes the fold append-safe with NO watermark cutoff. */
final case class ZigPoint(pair: String, pivot_no: Long, time: Timestamp,
                          kind: String, price: Double,
                          confirm_time: Timestamp)

/** Carried state of the streaming A/D-line fold (T22): the open candle
  * minute with its per-second first-tick picks, and the EXACT decimal
  * running accumulation/distribution sum (string-serialized BigDecimal —
  * the prevCa convention of the correlation fold). */
final case class AdLineState(openMinute: Long, picks: List[CorrSecPick],
                             ad: String)

/** One emitted A/D-line point (T22), per FINALIZED minute candle. */
final case class AdPoint(pair: String, time: Timestamp, close: Double,
                         vol: Long, ad: Double)

/** Carried state of the streaming Renko fold (T20): the integer
  * reference carry `(a0, m)` plus the brick counter. */
final case class RenkoState(n: Long, a0: Double, m: Long, bricks: Long)

/** One emitted Renko brick (T20). */
final case class RenkoPoint(pair: String, time: Timestamp, brick_no: Long,
                            dir: String, open: Double, close: Double)

/** A [[CorrPoint]] labeled with its pair combo (the all-combos stream). */
final case class CorrPointCombo(pair_a: String, pair_b: String,
                                time: Timestamp, n: Int,
                                corr: Option[Double], beta: Option[Double])

/** A tick fanned out to one combo group of the all-combos correlation
  * stream (`combo` = "a|b", lexical order). */
final case class ComboTick(combo: String, pair: String, time: Timestamp,
                           seq: Long, bid: Double)

/** T13 processor: per-pair running peak + drawdown on Spark 4's
  * `transformWithState` arbitrary-state API — the successor of
  * map/flatMapGroupsWithState (typed named-state handles, RocksDB-backed,
  * TTL/timers available). State is ONE double per pair (the running peak);
  * each batch's rows fold in (second, nanos, seq) order — the same total
  * order every other streaming fold here uses — so the emitted points are
  * independent of the micro-batch split: max is commutative and the peak
  * at each row depends only on the set of earlier rows.
  *
  * The batch twin is `w7_max_drawdown`'s running-peak window; the oracle
  * restates it per tick. */
class DrawdownProcessor
    extends org.apache.spark.sql.streaming.StatefulProcessor[String, SeqTick, DrawdownPoint] {
  import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TTLConfig, ValueState}

  @transient private var peak: ValueState[Double] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    peak = getHandle.getValueState[Double]("peak",
      org.apache.spark.sql.Encoders.scalaDouble, TTLConfig.NONE)

  override def handleInputRows(key: String, rows: Iterator[SeqTick],
      timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[DrawdownPoint] = {
    var p = if (peak.exists()) peak.get() else Double.NegativeInfinity
    val out = rows.toVector
      .sortBy(r => (r.time.getTime / 1000, r.time.getNanos, r.seq))
      .map { r =>
        if (r.bid > p) p = r.bid
        DrawdownPoint(key, r.time, r.seq, p, p - r.bid)
      }
    peak.update(p)
    out.iterator
  }
}

/** T29 processor: the reference's FULL default indicator grid
  * ({RSI,SMA,EMA} × {14,28,56} per timeframe — transform.py:79-121,
  * config.py:18-19) as LIVE keyed streaming state on the
  * `transformWithState` API: one key per (pair, timeframe), whose state
  * is exactly the batch grid's per-cell FusedMachine snapshot
  * ([[graft.operators.Indicators.indicatorGridSnapshot]]'s row, as a
  * [[GridSnap]] value handle). Each final candle steps all cells and
  * emits their grid facts; the machines' snapshot/restore contract makes
  * resume-from-checkpoint BIT-EXACT — the streaming half of what s8j
  * proves for batch incrementality.
  *
  * Determinism across the micro-batch split: candles fold in time order
  * within a batch, chunks replay in ascending time ranges (the house
  * staging contract), and a restored machine replays the identical
  * double ops the uninterrupted fold would — so the emitted fact set
  * equals the one-shot batch [[graft.operators.Indicators
  * .indicatorFactsFused]] (= the f3c oracle) for ANY split/kill point.
  * Out-of-order candles below the carried `n` count cannot occur under
  * ordered replay; a production source that violates this surfaces as a
  * value mismatch, not silent corruption, because every cell's count
  * advances monotonically. */
class GridProcessor(indicators: Seq[String], periods: Seq[Int], calcVersion: String)
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      (String, String), graft.operators.CloseRow, graft.model.IndicatorValue] {
  import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}

  private val specs = graft.operators.Indicators.GridCells.specs(indicators, periods)
  @transient private var snap: ValueState[GridSnap] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    snap = getHandle.getValueState[GridSnap]("grid",
      org.apache.spark.sql.Encoders.product[GridSnap], TTLConfig.NONE)

  override def handleInputRows(key: (String, String),
      rows: Iterator[graft.operators.CloseRow],
      timerValues: TimerValues): Iterator[graft.model.IndicatorValue] = {
    val cells = new graft.operators.Indicators.GridCells(specs)
    if (snap.exists())
      snap.get().cells.foreach(c => cells.restore(c.indicator, c.period, c.n, c.vec))
    val (pair, tf) = key
    val out = rows.toVector.sortBy(_.time.getTime).flatMap { r =>
      cells.step(r.close)(
        graft.model.IndicatorValue(_, pair, tf, r.time, _, calcVersion, _))
    }
    snap.update(GridSnap(cells.snapshot(GridCellSnap).toSeq))
    out.iterator
  }
}

/** One stale-pair marker (T23): the last tick before a silence longer
  * than the threshold, and the instant staleness was declared
  * (`last + threshold` — event time, not wall clock). */
final case class StalePoint(pair: String, last_time: Timestamp,
                            stale_at: Timestamp)

/** T23 processor: the reference UI's stale-feed detection
  * (docs/ws_ticker_spec.md:101 — "no tick for N seconds → stale") as
  * per-pair streaming state with EVENT-TIME TIMERS on the
  * `transformWithState` API. Two emission paths produce the identical
  * row and a flag makes them exclusive, so the output set is independent
  * of the micro-batch split:
  *
  *  - a LATER tick of the same pair confirms the gap inline
  *    (`cur − last > threshold`);
  *  - a registered timer at `last + threshold` fires when the GLOBAL
  *    event-time watermark passes it — covering the trailing gap no
  *    later tick of that pair will ever confirm (the case a pure fold
  *    cannot emit). The timer is re-registered on every new tick and the
  *    stale flag suppresses the inline twin of an already-fired timer.
  *
  * Rows before the carried `last` (out-of-order stragglers) are ignored —
  * the ordered-chunk replay contract of every fold here. State per pair:
  * one long + one bool + one pending timer. */
class StaleProcessor(thresholdMs: Long)
    extends org.apache.spark.sql.streaming.StatefulProcessor[String, SeqTick, StalePoint] {
  import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode, TimeMode,
    TimerValues, TTLConfig, ValueState}

  @transient private var lastMs: ValueState[Long] = _
  @transient private var flagged: ValueState[Boolean] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    lastMs = getHandle.getValueState[Long]("lastMs",
      org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
    flagged = getHandle.getValueState[Boolean]("flagged",
      org.apache.spark.sql.Encoders.scalaBoolean, TTLConfig.NONE)
  }

  override def handleInputRows(key: String, rows: Iterator[SeqTick],
      timerValues: TimerValues): Iterator[StalePoint] = {
    val prevLast = if (lastMs.exists()) lastMs.get() else -1L
    var last = prevLast
    var fl = flagged.exists() && flagged.get()
    val out = Vector.newBuilder[StalePoint]
    rows.toVector.sortBy(r => (r.time.getTime, r.seq)).foreach { r =>
      val cur = r.time.getTime
      if (last < 0) { last = cur; fl = false }
      else if (cur > last) {
        if (cur - last > thresholdMs && !fl)
          out += StalePoint(key, new Timestamp(last),
            new Timestamp(last + thresholdMs))
        last = cur; fl = false
      } // cur <= last: duplicate second / straggler — ignore
    }
    if (last != prevLast) {
      if (prevLast >= 0) getHandle.deleteTimer(prevLast + thresholdMs)
      getHandle.registerTimer(last + thresholdMs)
    }
    lastMs.update(last); flagged.update(fl)
    out.result().iterator
  }

  override def handleExpiredTimer(key: String, timerValues: TimerValues,
      info: ExpiredTimerInfo): Iterator[StalePoint] = {
    val last = if (lastMs.exists()) lastMs.get() else -1L
    val fl = flagged.exists() && flagged.get()
    if (last >= 0 && info.getExpiryTimeInMs == last + thresholdMs && !fl) {
      flagged.update(true)
      Iterator.single(StalePoint(key, new Timestamp(last),
        new Timestamp(last + thresholdMs)))
    } else Iterator.empty
  }
}

/** Structured Streaming layer (SURVEY.md §2.8 T1/T2/T4/T5) — the Spark-first
  * restatement of the reference's streaming paths:
  *
  *  - ingest dedup (T1): the reference's "first tick per second wins" insert
  *    gate (reference: src/gmo/ws-connection.py:47-57) becomes
  *    `withWatermark` + `dropDuplicates` — state is bounded by the watermark
  *    horizon instead of growing forever;
  *  - tumbling OHLC (T2): the batch 1-minute candle aggregation as a
  *    windowed streaming agg emitting finalized windows in append mode;
  *  - CDC relay with cursor (T4): the reference's 1 s poll loop over
  *    `time > :last_time` (reference: src/gmo/ws_ticker_server.py:192-255)
  *    is exactly Structured Streaming's source-offset contract;
  *    `foreachBatch` + the first-write-wins sink make redelivery idempotent;
  *  - latest-value cache (T5): the reference's per-pair latest-tick dict
  *    (reference: src/gmo/ws_ticker_server.py:175-190) as
  *    `mapGroupsWithState` keyed state, emitted in update mode.
  *
  * Scale: all state is keyed by (pair) or (pair, window) — uniform,
  * high-cardinality-safe; watermarks bound state size; a real deployment
  * swaps the file/memory source for Kafka without touching these operators.
  */
object Streams {

  /** S1 (parse step): decode raw tick messages — the reference's WebSocket
    * payload `{"symbol": ..., "timestamp": ISO-8601Z, "bid": "...",
    * "ask": "..."}` (reference: src/gmo/ws-connection.py:131-160) — into
    * the canonical tick shape, then apply the validity rules (non-positive
    * prices, bid > ask), mirroring the reference's skip-and-continue
    * behavior. Delegates to [[graft.operators.Ticks.fromWireJson]] — ONE
    * parser owns the wire contract (symbol `_`→`/` normalization, lenient
    * ISO-8601 fractional precision, try_* null-and-drop), so the gated
    * batch path and the streaming path cannot drift. Works identically on
    * a streaming or batch frame. */
  def parseTicks(raw: DataFrame, jsonCol: String = "value"): DataFrame =
    graft.operators.Ticks.valid(graft.operators.Ticks.fromWireJson(raw, jsonCol))

  /** T1: streaming first-tick-per-second dedup. Event times are truncated to
    * the second (the dedup grain), late data beyond `watermark` is dropped,
    * and within the horizon the first *arrival* per (pair, second) wins —
    * the streaming analogue of the batch `Ticks.dedupSecond` (which breaks
    * ties by (time, seq); a monotone source makes them identical). */
  def dedupTicks(ticks: DataFrame, watermark: String = "10 seconds"): DataFrame =
    ticks
      .withColumn("time", date_trunc("second", col("time")))
      .withWatermark("time", watermark)
      .dropDuplicates("pair", "time")

  /** T1 scale variant: first-per-second dedup with BOUNDED state via
    * `dropDuplicatesWithinWatermark` — unlike [[dedupTicks]]'s plain
    * `dropDuplicates` (whose key state lives forever), a key's state is
    * dropped once the watermark passes it by `watermark`, so state tracks
    * the ACTIVE horizon, not every (pair, second) ever seen — the
    * difference between O(horizon) and O(history) on an unbounded stream.
    * Contract: duplicates are only guaranteed dropped when they arrive
    * within `watermark` of the first — exactly the tick-stream case (a
    * second's ticks arrive together; anything later is late data the
    * watermark already discards). */
  def dedupTicksBounded(ticks: DataFrame, watermark: String = "60 seconds"): DataFrame =
    ticks
      .withColumn("time", date_trunc("second", col("time")))
      .withWatermark("time", watermark)
      .dropDuplicatesWithinWatermark("pair", "time")

  /** T17: streaming corpus-ingest dedup — the streaming half of L1's exact
    * dedup ([[graft.operators.Dedup.exact]]): normalize → MD5 content hash
    * → first-arrival-wins within the watermark horizon via
    * `dropDuplicatesWithinWatermark`, so a re-delivered or re-crawled
    * document is dropped AT INGEST, before any downstream shuffle sees it.
    * State is one row per content hash inside the ACTIVE horizon only —
    * the bounded-state form that survives an unbounded crawl stream; a
    * duplicate arriving after its original's state expired is the
    * warehouse sink's job (S8 idempotent first-write-wins), not the
    * ingest guard's. WHICH copy's payload survives among same-batch
    * duplicates is arrival-order-dependent (the t11 caveat) — the
    * deduped KEY SET is the operator's deterministic contract. Input
    * needs (text, ts [event time]); all columns pass through. */
  def docIngestDedup(docs: DataFrame, watermark: String = "1 hour"): DataFrame =
    docs
      .withColumn("content_hash",
        md5(graft.operators.TextOps.normalize(col("text"))))
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("content_hash")

  /** T12: stream-static ANTI-join — incremental ingest against an existing
    * warehouse: a tick passes only if its (pair, second) key is NOT already
    * present in the static `existing` key set. This is the streaming half
    * of S8's idempotency story: S8's first-write-wins sink dedupes what the
    * RUN writes; this drops what the WAREHOUSE already has, before any
    * state or sink is touched. Stateless per-row (no watermark, no state
    * store — the static side is just a join relation rebuilt per
    * micro-batch), so emission is batch-split-independent by construction.
    * `existing` must have columns (pair, sec) with `sec` second-truncated. */
  def antiJoinStatic(ticks: DataFrame, existing: DataFrame): DataFrame =
    ticks
      .withColumn("sec", date_trunc("second", col("time")))
      .join(existing, Seq("pair", "sec"), "left_anti")
      .drop("sec")

  /** The windowed OHLC aggregation itself — no watermark call, so it can
    * sit downstream of another stateful operator (a stream may define its
    * watermark only once; it propagates through). `ord` is the open/close
    * pick order — a TOTAL order makes the result independent of micro-batch
    * partitioning (min/max/min_by/max_by merge commutatively). */
  private def ohlcAgg(ticks: DataFrame, ord: org.apache.spark.sql.Column): DataFrame =
    ticks
      .groupBy(col("pair"), window(col("time"), "1 minute"))
      .agg(
        min_by(col("bid"), ord).as("open"),
        max(col("bid")).as("high"),
        min(col("bid")).as("low"),
        max_by(col("bid"), ord).as("close"))
      .select(col("pair"), col("window.start").as("time"),
        col("open"), col("high"), col("low"), col("close"))

  /** T2: tumbling 1-minute OHLC over (already deduped) ticks — same
    * `min_by`/`max_by` shape as the batch `Ohlc.ohlcBase`, emitted when the
    * watermark passes the window end (append mode). */
  def ohlc1m(ticks: DataFrame, watermark: String = "1 minute"): DataFrame =
    ohlcAgg(ticks.withWatermark("time", watermark), col("time"))

  /** T1+T2 chained in one streaming query: first-per-second dedup feeding
    * the windowed OHLC — two stateful operators, one watermark (set at the
    * dedup, propagated to the aggregation). The streaming restatement of
    * the batch spine `Ohlc.ohlcBase ∘ Ticks.dedupSecond`. */
  def dedupThenOhlc(ticks: DataFrame, watermark: String = "1 minute"): DataFrame =
    ohlcAgg(dedupTicks(ticks, watermark), col("time"))

  /** T2 driver-gate variant: tumbling OHLC over raw (un-deduped) valid
    * ticks, open/close picked by the (time, seq) TOTAL order — fully
    * deterministic for any arrival order and any micro-batch split, so an
    * AvailableNow replay is hash-comparable against a batch oracle. Event
    * times are truncated to the second (the tick grain) before windowing;
    * only watermark-finalized windows are emitted (append mode): windows
    * later than `max(event time) − watermark` stay in state at shutdown,
    * and the oracle must exclude them the same way. */
  def ohlc1mSeq(ticks: DataFrame, watermark: String = "1 minute"): DataFrame =
    ohlcAgg(
      ticks.withColumn("time", date_trunc("second", col("time")))
        .withWatermark("time", watermark),
      struct(col("time"), col("seq")))

  /** T24: DERIVED-timeframe candles as ONE streaming query — two CHAINED
    * event-time window aggregations (the production pattern for resampled
    * bars, Spark ≥3.4 multiple-stateful-operators): tumbling 1m OHLC from
    * raw ticks, then a `duration` window over the 1m bars keyed on
    * `window_time` of the inner window. The single watermark set at the
    * source propagates through both stages. Both stages pick open/close by
    * TOTAL order ((time, seq), then the 1m window start), so any
    * micro-batch split yields identical candles. A derived window emits
    * only once the watermark passes its end — and by then every inner 1m
    * window (all end ≤ the outer end) has already been finalized upstream
    * IN THE SAME micro-batch pipeline, so the emitted bar aggregates the
    * COMPLETE 1m set: the streaming restatement of
    * `Ohlc.resample ∘ Ohlc.ohlcBase`. At 100 TB the two stages are two
    * keyed state stores sized by open windows per pair — bars, not ticks:
    * the second stage's state is 1/duration the first's. */
  def resampleStream(ticks: DataFrame, duration: String = "5 minutes",
                     watermark: String = "1 minute"): DataFrame = {
    val ord = struct(col("time"), col("seq"))
    val base = ticks
      .withColumn("time", date_trunc("second", col("time")))
      .withWatermark("time", watermark)
      .groupBy(col("pair"), window(col("time"), "1 minute"))
      .agg(
        min_by(col("bid"), ord).as("open"),
        max(col("bid")).as("high"),
        min(col("bid")).as("low"),
        max_by(col("bid"), ord).as("close"))
    base
      .groupBy(col("pair"), window(window_time(col("window")), duration))
      .agg(
        min_by(col("open"), col("window.start")).as("open"),
        max(col("high")).as("high"),
        min(col("low")).as("low"),
        max_by(col("close"), col("window.start")).as("close"))
      .select(col("pair"), col("window.start").as("time"),
        col("open"), col("high"), col("low"), col("close"))
  }

  /** T16: streaming size-weighted VWAP per (pair, tumbling bucket) — the
    * streaming twin of [[graft.operators.Ohlc.vwap]] (w11). The numerator
    * is the batch op's EXACT decimal sum (6-dp-grid mids × integer sizes),
    * so partial aggregation, micro-batch split and state-merge order
    * cannot move the result; the one float division happens at emission.
    * Buckets emit when the watermark passes their end (append mode); NULL
    * sizes are ignored by both sums, and all-NULL buckets emit NULL vwap.
    * Input needs (pair, time, mid, size) — [[graft.operators.Ticks.withMid]]
    * over [[graft.operators.Ticks.fromEventsWithSize]]. */
  def vwapStream(ticksWithSize: DataFrame, duration: String = "1 hour",
                 watermark: String = "1 hour"): DataFrame =
    ticksWithSize
      .withColumn("pv", round(col("mid"), 6).cast("decimal(18,6)") * col("size"))
      .withWatermark("time", watermark)
      .groupBy(col("pair"), window(col("time"), duration))
      .agg(sum(col("pv")).as("pv"), sum(col("size")).cast("bigint").as("qty"))
      .select(col("pair"), col("window.start").as("time"),
        when(col("qty") > 0, col("pv").cast("double") / col("qty")).as("vwap"),
        col("qty"))

  /** Streaming sessionization: `session_window` gap sessions per user —
    * the streaming twin of [[graft.operators.Sessions.sessionize]];
    * sessions emit when the watermark passes their close. `total_value`
    * sums through DECIMAL(18,6) exactly like the batch op, so the result
    * is independent of micro-batch split and session-state merge order
    * (double addition is not). */
  def sessionizeStream(events: DataFrame, gap: String = "30 minutes",
                       watermark: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("total_value"))
      .select(col("user_id"), col("session_window.start").as("session_start"),
        col("n_events"), col("total_value"))

  /** T7: stream-stream inner join on event-time windows — align two live
    * streams on the same `windowLen` bucket (concurrent-activity pairing).
    * Both sides carry their own watermark and the join key is the window
    * itself (window-equality stream-stream join), so each side's buffered
    * state is dropped as soon as the combined watermark passes a window —
    * state stays bounded by (keys in flight × watermark horizon) at any
    * scale.
    *
    * Determinism under a bounded AvailableNow replay: an inner join's
    * output set equals the batch join provided no row is evicted before
    * its partner arrives. Partners share a window, and the staged chunks
    * replay in (time, seq) order, so partners straddle at most one chunk
    * boundary; at that boundary the watermark is `maxTs(chunk) − delay`
    * and the partner's own timestamp is ≥ that max − windowLen, so with
    * `delay` ≥ `windowLen` the window is provably still in state. */
  def windowJoin(left: DataFrame, right: DataFrame,
                 windowLen: String = "1 minute",
                 delay: String = "60 seconds"): DataFrame = {
    val l = left.withWatermark("time", delay)
      .select(window(col("time"), windowLen).as("lw"), col("bid").as("l_bid"))
    val r = right.withWatermark("time", delay)
      .select(window(col("time"), windowLen).as("rw"), col("bid").as("r_bid"))
    l.join(r, expr("lw = rw"))
      .select(col("lw.start").as("time"), col("l_bid"), col("r_bid"))
  }

  /** T10: stream-stream LEFT OUTER join on event-time windows — the outer
    * variant of [[windowJoin]]. Inner matches emit as they join; a minute
    * where only the left stream ticked emits its null-extended rows when
    * the COMBINED watermark (min of both sides') passes the window and the
    * buffered left state is evicted — so "no partner arrived" is a final,
    * watermark-certified verdict, not a race against a late partner. At
    * shutdown, unmatched windows the watermark has NOT yet passed are
    * still buffered and emit nothing (the oracle must apply the same
    * cutoff). State bounds are the inner join's: both sides drop a
    * window's rows once the watermark passes it. */
  def windowJoinOuter(left: DataFrame, right: DataFrame,
                      windowLen: String = "1 minute",
                      delay: String = "60 seconds"): DataFrame = {
    val l = left.withWatermark("time", delay)
      .select(window(col("time"), windowLen).as("lw"), col("bid").as("l_bid"))
    val r = right.withWatermark("time", delay)
      .select(window(col("time"), windowLen).as("rw"), col("bid").as("r_bid"))
    l.join(r, expr("lw = rw"), "left_outer")
      .select(col("lw.start").as("time"), col("l_bid"), col("r_bid"))
  }

  /** T5: per-pair latest-tick cache as keyed streaming state. Emits the
    * updated latest row per pair per micro-batch (update output mode). */
  def latestPerPair(ticks: Dataset[TickRow]): Dataset[TickRow] = {
    val spark = ticks.sparkSession
    import spark.implicits._
    ticks.groupByKey(_.pair)
      .mapGroupsWithState[TickRow, TickRow](GroupStateTimeout.NoTimeout) {
        (_, rows, state: GroupState[TickRow]) =>
          // (seconds, nanos, bid): getTime alone is MILLISECOND precision —
          // µs-apart ticks would tie and the pick would be arrival-dependent
          val latest = (state.getOption.iterator ++ rows)
            .maxBy(r => (r.time.getTime / 1000, r.time.getNanos, r.bid))
          state.update(latest)
          latest
      }
  }

  /** T5 with state TTL: the latest-tick cache with an EVENT-time timeout —
    * a pair whose latest tick is older than `ttlMs` when the watermark
    * passes has its state evicted (emitting nothing), so state size tracks
    * the ACTIVE key set, not every key ever seen. That is the difference
    * between O(pairs currently trading) and O(all pairs in history) at
    * scale; the reference's in-process dict (reference:
    * src/gmo/ws_ticker_server.py:175-190) grows forever by comparison.
    * Event-time (not processing-time) timeout keeps eviction deterministic
    * — driven by the data's own clock, replayable in tests and backfills.
    * Note the watermark is load-bearing twice: it fires the timeouts AND
    * pre-filters rows older than itself before they reach the operator,
    * so an evicted pair cannot be re-seeded by a stale straggler — only
    * by a genuinely fresh tick. */
  def latestPerPairTtl(ticks: Dataset[TickRow], ttlMs: Long,
                       watermarkDelay: String = "0 seconds"): Dataset[TickRow] = {
    require(ttlMs > 0, s"ttlMs must be positive, got $ttlMs")
    val spark = ticks.sparkSession
    import spark.implicits._
    ticks.withWatermark("time", watermarkDelay)
      .groupByKey(_.pair)
      .flatMapGroupsWithState[TickRow, TickRow](
        org.apache.spark.sql.streaming.OutputMode.Update(),
        GroupStateTimeout.EventTimeTimeout) {
        (_, rows, state: GroupState[TickRow]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val latest = (state.getOption.iterator ++ rows)
              .maxBy(r => (r.time.getTime / 1000, r.time.getNanos, r.bid))
            state.update(latest)
            state.setTimeoutTimestamp(latest.time.getTime + ttlMs)
            Iterator.single(latest)
          }
      }
  }

  /** T5 driver-gate wiring: the keyed latest-tick state emitted per batch
    * (update mode) into an append-only parquet log. The log's final
    * per-pair max over (time, bid) equals the batch latest regardless of
    * batch count or replay (duplicate appends cannot change a max). */
  def latestToParquet(ticks: Dataset[TickRow], sinkPath: String,
                      checkpoint: String): StreamingQuery =
    latestPerPair(ticks).writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("update")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: Dataset[TickRow], _: Long) =>
        batch.write.mode("append").parquet(sinkPath)
      }
      .start()

  /** T8: streaming EMA as keyed custom state — `flatMapGroupsWithState`,
    * the arbitrary-state API (vs `mapGroupsWithState`'s one-output-per-key
    * in T5): each micro-batch emits one point per in-order tick once the
    * seed window is full, and the carried state is three numbers per pair
    * (count, partial seed sum, last EMA) — O(keys) state, no timeline
    * buffering, at any scale.
    *
    * The recurrence is the batch [[graft.operators.Indicators.ema]]
    * (TA-Lib semantics: SMA-of-first-`period` seed, then
    * `ema = (x - prev)·k + prev`, `k = 2/(period+1)`) folded ACROSS
    * micro-batches instead of within one sorted group. Determinism
    * contract: a double recurrence is order-dependent, so streaming ≡
    * batch requires ticks to be folded in exactly the batch (time, seq)
    * order — within a batch the group's rows are sorted here; across
    * batches the source must replay in (time, seq)-ascending chunks (the
    * gate's staged source does; a Kafka deployment keys partitions by pair,
    * which gives per-key arrival order the same way). */
  def emaStream(ticks: Dataset[SeqTick], period: Int): Dataset[EmaPoint] = {
    require(period >= 2, s"period must be >= 2, got $period")
    val spark = ticks.sparkSession
    import spark.implicits._
    val k = 2.0 / (period + 1)
    ticks.groupByKey(_.pair)
      .flatMapGroupsWithState[EmaState, EmaPoint](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout) { (pair, rows, state: GroupState[EmaState]) =>
        val st = state.getOption.getOrElse(EmaState(0L, 0.0, 0.0))
        var n = st.n; var seed = st.seedSum; var prev = st.prev
        val out = Vector.newBuilder[EmaPoint]
        // (seconds, nanos, seq): getTime alone is millisecond precision
        rows.toVector
          .sortBy(r => (r.time.getTime / 1000, r.time.getNanos, r.seq))
          .foreach { r =>
            n += 1
            if (n < period) seed += r.bid
            else if (n == period) { prev = (seed + r.bid) / period; out += EmaPoint(pair, r.time, prev) }
            else { prev = (r.bid - prev) * k + prev; out += EmaPoint(pair, r.time, prev) }
          }
        state.update(EmaState(n, seed, prev))
        out.result().iterator
      }
  }

  /** T18: streaming SMA-cross signal detection — the reference's strategy
    * flow (golden/dead cross, `transform_services.py:442-443,504-505`) as
    * LIVE keyed state instead of a batch cross input: one
    * `flatMapGroupsWithState` fold per pair does per-second first-wins
    * dedup, per-minute candling, and maintains a `longP`-close ring from
    * which both SMAs are computed at every finalized minute; a signal
    * emits when the short SMA crosses the long one between consecutive
    * candle rows (BUY: `prev_s ≤ prev_l ∧ s > l`; SELL: the mirror).
    * State per pair: the open minute's picks + `longP` doubles + two
    * previous SMAs — O(period), no timeline buffering, at any scale.
    *
    * Determinism contract: candle closes and the SMA sum (oldest→newest
    * /period — the same order Spark's batch sliding-frame avg uses) are
    * micro-batch-split-independent under the ordered-chunk replay
    * invariant every minute-grain fold in this file shares; a straggler
    * for an already-final minute is dropped and counted via `dropped`. */
  def crossSignalStream(ticks: Dataset[SeqTick], shortP: Int = 14, longP: Int = 28,
                        dropped: Option[LongAccumulator] = None)
      : Dataset[SignalPoint] = {
    require(2 <= shortP && shortP < longP,
      s"need 2 <= shortP < longP, got $shortP/$longP")
    val spark = ticks.sparkSession
    import spark.implicits._
    ticks.groupByKey(_.pair)
      .flatMapGroupsWithState[XSigState, SignalPoint](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout) { (pair, rows, state: GroupState[XSigState]) =>
        val st = state.getOption.getOrElse(
          XSigState(-1L, Nil, Nil, 0.0, haveS = false, 0.0, haveL = false))
        val x = new SmaCross(shortP, longP, st.ring, st.prevS, st.haveS, st.prevL, st.haveL)
        val out = Vector.newBuilder[SignalPoint]
        val (open, picks) = x.crosses(st.openMinute, st.picks, rows, dropped) { (kind, at, sma) =>
          out += SignalPoint(pair, at, if (kind == PositionMachine.Buy) "BUY" else "SELL",
            sma, shortP)
        }
        state.update(XSigState(open, picks, x.ring, x.prevS, x.haveS, x.prevL, x.haveL))
        out.result().iterator
      }
  }

  /** T19: the ENTIRE reference pipeline as one live keyed fold — ticks →
    * per-second dedup → per-minute candles → SMA ring → cross signals →
    * long-only position state → CLOSED-trade ledger rows. The batch twin
    * is `Backtest.trades(Signals.strategy(...))`; here a BUY cross opens
    * the position (if flat) and a SELL cross closes it, emitting one
    * [[TradePoint]] with `pnl = exit − entry` — the batch fold's
    * [[graft.operators.PositionMachine]], restored from and written back
    * to the keyed state each batch (cross semantics guarantee strict
    * BUY/SELL alternation, so the ledger matches the batch one
    * row-for-row). The open position at shutdown stays in state
    * (the batch ledger's final open row has no streaming counterpart — a
    * stream has no final row; the serving layer reads it from the state
    * store or the t5-style latest sink).
    *
    * State per pair: T18's O(period) candle/ring state + three scalars.
    * Same ordered-chunk replay contract as every minute-grain fold here. */
  def tradeStream(ticks: Dataset[SeqTick], shortP: Int = 14, longP: Int = 28,
                  dropped: Option[LongAccumulator] = None)
      : Dataset[TradePoint] = {
    require(2 <= shortP && shortP < longP,
      s"need 2 <= shortP < longP, got $shortP/$longP")
    val spark = ticks.sparkSession
    import spark.implicits._
    ticks.groupByKey(_.pair)
      .flatMapGroupsWithState[TradeState, TradePoint](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout) { (pair, rows, state: GroupState[TradeState]) =>
        val st = state.getOption.getOrElse(
          TradeState(-1L, Nil, Nil, 0.0, haveS = false, 0.0, haveL = false,
            inPos = false, 0L, 0.0, 0))
        val x = new SmaCross(shortP, longP, st.ring, st.prevS, st.haveS, st.prevL, st.haveL)
        // the position half of the state, stepped by the one position
        // machine; entries are minute starts, so the µs ↔ ms trip is exact
        val pos = new PositionMachine()
        pos.restore(pair, st.inPos, new Timestamp(st.entryUs / 1000), st.entry, st.n, null)
        val out = Vector.newBuilder[TradePoint]
        val (open, picks) = x.crosses(st.openMinute, st.picks, rows, dropped) { (kind, at, sma) =>
          if (pos.step(kind, at, sma) != null)
            out += TradePoint(pair, pos.closed.toInt, pos.entryTime,
              pos.entryPrice, at, sma, sma - pos.entryPrice)
        }
        state.update(TradeState(open, picks, x.ring, x.prevS, x.haveS, x.prevL, x.haveL,
          pos.open, pos.entryTime.getTime * 1000, pos.entryPrice, pos.closed.toInt))
        out.result().iterator
      }
  }

  /** T21: tick-grain ZigZag swing pivots as keyed streaming state — the
    * live swing structure a pattern scanner polls. Identical state
    * machine to the batch [[graft.operators.Indicators.zigzag]]
    * (extremes ratchet first, high test precedes low test), folded in
    * the (µs, seq) total order; a CONFIRMED pivot never revises, so
    * emission is append-safe with no watermark cutoff and the output is
    * bit-exact against the batch recursion over the same ticks. State:
    * six scalars per pair. */
  def zigzagStream(ticks: Dataset[SeqTick], rev: Double = 0.1): Dataset[ZigPoint] = {
    require(rev > 0 && rev < 1, s"rev must be in (0,1), got $rev")
    val spark = ticks.sparkSession
    import spark.implicits._
    ticks.groupByKey(_.pair)
      .flatMapGroupsWithState[ZigState, ZigPoint](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout) { (pair, rows, state: GroupState[ZigState]) =>
        var st = state.getOption.getOrElse(
          ZigState(started = false, 0, 0.0, 0L, 0.0, 0L, 0L))
        val out = Vector.newBuilder[ZigPoint]
        def tsOf(us: Long): Timestamp = {
          val t = new Timestamp(us / 1000)
          t.setNanos((us % 1000000L).toInt * 1000)
          t
        }
        rows.toVector
          .sortBy(r => (usOf(r.time), r.seq))
          .foreach { r =>
            val c = r.bid; val us = usOf(r.time)
            if (!st.started)
              st = ZigState(started = true, 0, c, us, c, us, 0L)
            else {
              var hiP = st.hiP; var hiUs = st.hiUs
              var loP = st.loP; var loUs = st.loUs
              if (st.dir >= 0 && c > hiP) { hiP = c; hiUs = us }
              if (st.dir <= 0 && c < loP) { loP = c; loUs = us }
              val ph = st.dir >= 0 && (hiP - c) / hiP >= rev
              val pl = st.dir <= 0 && !ph && (c - loP) / loP >= rev
              if (ph) {
                out += ZigPoint(pair, st.n + 1, tsOf(hiUs),
                  "high", hiP, tsOf(us))
                st = ZigState(started = true, -1, hiP, hiUs, c, us, st.n + 1)
              } else if (pl) {
                out += ZigPoint(pair, st.n + 1, tsOf(loUs),
                  "low", loP, tsOf(us))
                st = ZigState(started = true, 1, c, us, loP, loUs, st.n + 1)
              } else st = st.copy(hiP = hiP, hiUs = hiUs, loP = loP, loUs = loUs)
            }
          }
        state.update(st)
        out.result().iterator
      }
  }

  /** T22: the accumulation/distribution line as keyed streaming state —
    * the live money-flow gauge behind [[graft.operators.Indicators.adLine]]
    * (u31). One fold per pair does per-second first-wins dedup and
    * per-minute candling (the T18/T19 mechanics), and on each FINALIZED
    * minute adds the candle's money-flow volume `round(mfm,6)·vol` to an
    * EXACT decimal running sum — so micro-batch splits and state-merge
    * order cannot move the emitted value, and the batch twin is bit-equal
    * over the per-pair minute-cutoff prefix. The open minute at shutdown
    * is state, not output. State per pair: ≤60 second-picks + one decimal
    * string — O(1) at any history length. */
  def adLineStream(ticks: Dataset[SeqTick],
                   dropped: Option[LongAccumulator] = None)
      : Dataset[AdPoint] = {
    val spark = ticks.sparkSession
    import spark.implicits._
    ticks.groupByKey(_.pair)
      .flatMapGroupsWithState[AdLineState, AdPoint](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout) { (pair, rows, state: GroupState[AdLineState]) =>
        val st = state.getOption.getOrElse(AdLineState(-1L, Nil, "0"))
        var ad = st.ad
        val out = Vector.newBuilder[AdPoint]
        val (open, picks) = candleMinutes(st.openMinute, Vector(st.picks), rows,
            _ => 0, dropped) { (minute, sides) =>
          val ps = sides(0)
          ps.lastOption.foreach { last =>
            val h = ps.map(_.bid).max
            val l = ps.map(_.bid).min
            val c = last.bid
            val vol = ps.size.toLong
            val mfm = if (h == l) 0.0 else (2.0 * c - l - h) / (h - l)
            // the batch side's round(mfm,6)::DECIMAL(18,6) snap
            val next = BigDecimal(ad) + dec6(mfm) * BigDecimal(vol)
            out += AdPoint(pair, new Timestamp(minute / 1000), c, vol, next.toDouble)
            ad = next.toString
          }
        }
        state.update(AdLineState(open, picks(0), ad))
        out.result().iterator
      }
  }

  /** T20: tick-grain Renko bricks as keyed streaming state — the live
    * movement chart a charting front-end subscribes to. Same integer
    * `(a0, m)` reference carry as the batch
    * [[graft.operators.Indicators.renko]] (no float accumulation, no
    * drift), folded in the (µs, seq) total order every per-row streaming
    * fold here uses; emission is per tick (no watermark cutoff, like
    * t8/t15), so the output is batch-split-independent and bit-exact
    * against the tick-series recursive-CTE oracle. State: four scalars
    * per pair. */
  def renkoStream(ticks: Dataset[SeqTick], brick: Double): Dataset[RenkoPoint] = {
    require(brick > 0, s"brick must be positive, got $brick")
    val spark = ticks.sparkSession
    import spark.implicits._
    ticks.groupByKey(_.pair)
      .flatMapGroupsWithState[RenkoState, RenkoPoint](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout) { (pair, rows, state: GroupState[RenkoState]) =>
        var st = state.getOption.getOrElse(RenkoState(0L, 0.0, 0L, 0L))
        val out = Vector.newBuilder[RenkoPoint]
        rows.toVector
          .sortBy(r => (r.time.getTime / 1000, r.time.getNanos, r.seq))
          .foreach { r =>
            if (st.n == 0L) st = RenkoState(1L, r.bid, 0L, 0L)
            else {
              val ku = math.max(
                math.floor((r.bid - (st.a0 + st.m * brick)) / brick).toLong, 0L)
              val kd = math.max(
                math.floor(((st.a0 + st.m * brick) - r.bid) / brick).toLong, 0L)
              (1L to ku).foreach { i =>
                out += RenkoPoint(pair, r.time, st.bricks + i, "up",
                  st.a0 + (st.m + i - 1) * brick, st.a0 + (st.m + i) * brick)
              }
              (1L to kd).foreach { i =>
                out += RenkoPoint(pair, r.time, st.bricks + i, "down",
                  st.a0 + (st.m - i + 1) * brick, st.a0 + (st.m - i) * brick)
              }
              st = st.copy(n = st.n + 1, m = st.m + ku - kd,
                bricks = st.bricks + ku + kd)
            }
          }
        state.update(st)
        out.result().iterator
      }
  }

  /** T15: tick-grain parabolic SAR as keyed streaming state — the LIVE
    * trailing stop a serving layer polls (the batch u17 runs on candles;
    * at tick grain every bar is a point, so the true range degenerates to
    * |Δbid| and the two-bar clamp to the prior two bids). Same Wilder
    * state machine as [[graft.operators.Indicators.sar]], 8 values of
    * state per pair, folded in the (µs, seq) total order every other
    * streaming fold uses — emitted points are batch-split-independent and
    * bit-exact against the tick-series recursive-CTE oracle. */
  def sarStream(ticks: Dataset[SeqTick], afStep: Double = 0.02,
                afMax: Double = 0.2): Dataset[SarPoint] = {
    require(afStep > 0 && afMax >= afStep, "need 0 < afStep <= afMax")
    val spark = ticks.sparkSession
    import spark.implicits._
    ticks.groupByKey(_.pair)
      .flatMapGroupsWithState[SarState, SarPoint](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout) { (pair, rows, state: GroupState[SarState]) =>
        var st = state.getOption.getOrElse(
          SarState(0L, 0.0, 0.0, 0.0, up = false, 0.0, 0.0, afStep))
        val out = Vector.newBuilder[SarPoint]
        rows.toVector
          .sortBy(r => (r.time.getTime / 1000, r.time.getNanos, r.seq))
          .foreach { r =>
            if (st.n == 0) st = st.copy(n = 1, firstBid = r.bid)
            else if (st.n == 1) {
              st = SarState(2, st.firstBid, r.bid, st.firstBid,
                up = r.bid >= st.firstBid, sar = st.firstBid, ep = r.bid,
                af = afStep)
              out += SarPoint(pair, r.time, st.sar)
            } else {
              var up = st.up; var ep = st.ep; var af = st.af
              var s = st.sar + af * (ep - st.sar)
              if (up) {
                s = math.min(s, math.min(st.b1, st.b2))
                if (r.bid < s) { up = false; s = ep; ep = r.bid; af = afStep }
                else if (r.bid > ep) { ep = r.bid; af = math.min(af + afStep, afMax) }
              } else {
                s = math.max(s, math.max(st.b1, st.b2))
                if (r.bid > s) { up = true; s = ep; ep = r.bid; af = afStep }
                else if (r.bid < ep) { ep = r.bid; af = math.min(af + afStep, afMax) }
              }
              st = SarState(st.n + 1, st.firstBid, r.bid, st.b1, up, s, ep, af)
              out += SarPoint(pair, r.time, s)
            }
          }
        state.update(st)
        out.result().iterator
      }
  }

  /** T14: streaming cross-pair rolling correlation + OLS beta — the
    * stream twin of the batch `CrossPair.rollingCorrelation` (w12), and
    * the TWELFTH streaming primitive. One keyed fold does the whole
    * pipeline the batch side composes from four operators: per-second
    * first-tick dedup, per-minute last-close candling, the two-pair
    * minute alignment (inner join), and the `n`-diff rolling moments.
    *
    * Mechanics: ticks of both pairs fold in (µs, seq) order under the
    * combo key. The fold keeps ONE open candle minute buffered (per-second
    * picks for both pairs, ≤ 60 each); a row in a LATER minute finalizes
    * it — close = the pick of the max second per pair (the c1m
    * `max_by(bid, time)` over second-truncated dedup rows), and a minute
    * where both pairs closed becomes the next aligned-grid row. Diffs and
    * their rolling sums are EXACT decimal (scale-6 closes via the same
    * HALF_UP cast the batch side uses; stored as strings in state), so
    * recomputing the `n`-window sums from the ring reproduces the batch
    * window sums bit-for-bit; the one float expression is spelled
    * identically. The open minute at shutdown never finalizes — the
    * oracle applies the same cutoff (strictly before the max tick's
    * minute), exactly like the other append-mode gates.
    *
    * Determinism: chunks replay in (ts, event_id)-ascending ranges and
    * the fold sorts within each batch, so a minute spanning a micro-batch
    * boundary keeps collecting picks across batches and every emitted row
    * is independent of the batch split. Scale: state is O(60 picks + n
    * diffs) per combo; the all-combos fan-out keys the SAME fold by the
    * combo column — P·(P-1)/2 independent groups, matching w13's
    * partitioned-window shape.
    *
    * ORDERING REQUIREMENT (applies to [[corrStreamAll]] too): the source
    * must deliver each pair's ticks in non-decreasing minute order ACROSS
    * micro-batches (per-key ordered delivery — a Kafka topic partitioned
    * by pair, or the gate's staged replay). The fold keeps exactly one
    * open minute; a tick for an already-finalized earlier minute is
    * DROPPED (its candle has been emitted — there is no retraction in
    * append mode) and counted in `dropped` when one is supplied, so a
    * production deployment can alarm on ordering violations instead of
    * losing data invisibly. (Accumulator caveat: task retries can
    * overcount — treat it as an alarm signal, not an exact ledger.) A
    * genuinely unordered source needs a watermark-style buffer upstream,
    * not this operator. */
  def corrStream(ticks: Dataset[SeqTick], pairA: String, pairB: String,
                 n: Int = 30,
                 dropped: Option[LongAccumulator] = None)
      : Dataset[CorrPoint] = {
    require(n >= 2, s"window must be >= 2, got $n")
    require(pairA != pairB, "pairs must differ")
    val spark = ticks.sparkSession
    import spark.implicits._
    ticks.filter(t => t.pair == pairA || t.pair == pairB)
      .groupByKey(_ => s"$pairA|$pairB")
      .flatMapGroupsWithState[CorrComboState, CorrPoint](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout) { (_, rows, state: GroupState[CorrComboState]) =>
        foldCombo(pairA, n, rows, state, dropped)
      }
  }

  /** The all-combos correlation matrix as ONE stream: every tick fans out
    * to the combos containing its pair (P-1 groups per tick), and the
    * SAME fold as [[corrStream]] runs independently per combo group —
    * P·(P-1)/2 state partitions, the streaming twin of w13's
    * combo-partitioned window. `pairs` is the bounded pair universe (a
    * dimension, known up front — reference `dim_currency` seeds 6). */
  def corrStreamAll(ticks: Dataset[SeqTick], pairs: Seq[String],
                    n: Int = 30,
                    dropped: Option[LongAccumulator] = None)
      : Dataset[CorrPointCombo] = {
    require(n >= 2, s"window must be >= 2, got $n")
    require(pairs.distinct.size == pairs.size && pairs.size >= 2,
      "pairs must be >= 2 distinct names")
    require(pairs.forall(!_.contains('|')), "pair names must not contain '|'")
    val spark = ticks.sparkSession
    import spark.implicits._
    val sorted = pairs.sorted
    val combos = for { a <- sorted; b <- sorted if a < b } yield (a, b)
    ticks.flatMap { t =>
      combos.collect { case (a, b) if a == t.pair || b == t.pair =>
        ComboTick(s"$a|$b", t.pair, t.time, t.seq, t.bid)
      }
    }
      .groupByKey(_.combo)
      .flatMapGroupsWithState[CorrComboState, CorrPointCombo](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout) { (key, rows, state: GroupState[CorrComboState]) =>
        val sep = key.indexOf('|')
        val (a, b) = (key.substring(0, sep), key.substring(sep + 1))
        foldCombo(a, n,
          rows.map(ct => SeqTick(ct.pair, ct.time, ct.seq, ct.bid)), state, dropped)
          .map(p => CorrPointCombo(a, b, p.time, p.n, p.corr, p.beta))
      }
  }

  /** The per-combo correlation fold shared by [[corrStream]] and
    * [[corrStreamAll]]: `pairA` is x (beta = cov/var(x)); every other
    * pair in the group is the y side. */
  private def foldCombo(pairA: String, n: Int, rows: Iterator[SeqTick],
                        state: GroupState[CorrComboState],
                        dropped: Option[LongAccumulator] = None)
      : Iterator[CorrPoint] = {
    val nd = n.toDouble
    var st = state.getOption.getOrElse(
      CorrComboState(-1L, Nil, Nil, 0L, "", "", Nil))
    val out = Vector.newBuilder[CorrPoint]
    val (open, picks) = candleMinutes(st.openMinute, Vector(st.picksA, st.picksB), rows,
        r => if (r.pair == pairA) 0 else 1, dropped) { (minute, sides) =>
      (sides(0).lastOption, sides(1).lastOption) match {
        case (Some(a), Some(b)) => // aligned minute → grid row
          val ca = dec6(a.bid); val cb = dec6(b.bid)
          var ring = st.ring
          if (st.prevCa.nonEmpty) {
            val dx = ca - BigDecimal(st.prevCa)
            val dy = cb - BigDecimal(st.prevCb)
            ring = (ring :+ s"$dx $dy").takeRight(n)
          }
          val (corr, beta) =
            if (ring.size == n) { // rn >= n+1 in batch terms
              val ds = ring.map { s =>
                val i = s.indexOf(' ')
                (BigDecimal(s.substring(0, i)), BigDecimal(s.substring(i + 1)))
              }
              // exact decimal sums (order-independent), THEN doubles —
              // the same boundary the batch plan crosses
              val sx = ds.map(_._1).sum.toDouble
              val sy = ds.map(_._2).sum.toDouble
              val sxy = ds.map(d => d._1 * d._2).sum.toDouble
              val sxx = ds.map(d => d._1 * d._1).sum.toDouble
              val syy = ds.map(d => d._2 * d._2).sum.toDouble
              val vx = nd * sxx - sx * sx
              val vy = nd * syy - sy * sy
              val cov = nd * sxy - sx * sy
              (if (vx > 0.0 && vy > 0.0) Some(cov / math.sqrt(vx * vy)) else None,
                if (vx > 0.0) Some(cov / vx) else None)
            } else (None, None)
          out += CorrPoint(new Timestamp(minute / 1000), n, corr, beta)
          st = st.copy(aligned = st.aligned + 1,
            prevCa = ca.toString, prevCb = cb.toString, ring = ring)
        case _ => () // unaligned: no grid row, prev/ring untouched
      }
    }
    state.update(st.copy(openMinute = open, picksA = picks(0), picksB = picks(1)))
    out.result().iterator
  }

  /** Epoch µs of `t`: `getTime` is ms including the sub-second part and
    * `getNanos` the full sub-second, so combine without counting the ms
    * part twice. */
  private[graft] def usOf(t: Timestamp): Long =
    t.getTime / 1000 * 1000000L + t.getNanos / 1000

  /** `d` snapped to 6 decimals HALF_UP — the batch side's double →
    * DECIMAL(·,6) cast (Spark's Decimal wraps `BigDecimal.decimal` =
    * `valueOf(double)`, then rounds HALF_UP to scale 6). */
  private def dec6(d: Double): BigDecimal =
    BigDecimal.decimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP)

  /** The one minute candler of the minute-grain folds (T14, T18, T19,
    * T22): the reference's per-second first-tick-wins insert gate
    * (src/gmo/ws-connection.py:47-57) feeding its 1-minute candle step
    * (src/etl/flows/transform.py:19-129), as carried keyed state.
    *
    * `rows` fold in (µs, seq) order into the one OPEN minute `open` (−1
    * before the first tick), whose per-second first-tick picks are kept
    * per side: `side(tick)` indexes `picks` — one side for a pair's fold,
    * two for a pair combo. A tick in a later minute finalizes the open
    * one, calling `close(minuteStartUs, picks)` with each side's picks
    * ascending by second (its close is the last), and opens its own. A
    * tick for an already finalized minute is a straggler: its candle has
    * been emitted and append mode has no retraction, so it is dropped and
    * counted in `dropped` when one is given (task retries can overcount:
    * an alarm signal, not an exact ledger).
    *
    * Returns the open minute and its picks (newest first, as carried in
    * state) for the fold's next batch. Emission is independent of the
    * micro-batch split whenever each key's ticks arrive in non-decreasing
    * minute order across batches — the ordered-chunk replay contract. */
  private[graft] def candleMinutes(open: Long, picks: IndexedSeq[List[CorrSecPick]],
                                   rows: Iterator[SeqTick], side: SeqTick => Int,
                                   dropped: Option[LongAccumulator])(
      close: (Long, IndexedSeq[List[CorrSecPick]]) => Unit)
      : (Long, IndexedSeq[List[CorrSecPick]]) = {
    var minute = open
    val ps = picks.toArray
    rows.toVector.sortBy(r => (usOf(r.time), r.seq)).foreach { r =>
      val us = usOf(r.time)
      val m = us - us % 60000000L
      if (minute < 0) minute = m
      else if (m > minute) {
        close(minute, ps.toIndexedSeq.map(_.sortBy(_.sec)))
        ps.indices.foreach(ps(_) = Nil)
        minute = m
      } else if (m < minute) dropped.foreach(_.add(1))
      if (m == minute) {
        val sec = us - us % 1000000L
        val i = side(r)
        if (!ps(i).exists(_.sec == sec)) // sorted ⇒ first wins
          ps(i) = CorrSecPick(sec, us, r.seq, r.bid) :: ps(i)
      }
    }
    (minute, ps.toIndexedSeq)
  }

  /** The SMA-cross step of T18 and T19 over one pair's finalized minute
    * closes: a ring of the last `longP` closes (oldest first), both SMAs
    * (oldest→newest sum / period, the order Spark's batch sliding-frame
    * avg uses), and the cross between consecutive closes — BUY (golden)
    * when `prevS ≤ prevL ∧ s > l`, SELL (dead) on the mirror. The fields
    * are the fold state's, restored before a batch and written back after
    * it. */
  private final class SmaCross(shortP: Int, longP: Int, var ring: List[Double],
                               var prevS: Double, var haveS: Boolean,
                               var prevL: Double, var haveL: Boolean) {
    private def smaOf(p: Int): Option[Double] =
      if (ring.size >= p) Some(ring.takeRight(p).sum / p) else None

    /** Steps one close; returns [[PositionMachine.Buy]], [[PositionMachine
      * .Sell]] or [[PositionMachine.Other]]. */
    def step(close: Double): Int = {
      ring = (ring :+ close).takeRight(longP)
      val s = smaOf(shortP); val l = smaOf(longP)
      val kind = (s, l) match {
        case (Some(sv), Some(lv)) if haveS && haveL =>
          if (prevS <= prevL && sv > lv) PositionMachine.Buy
          else if (prevS >= prevL && sv < lv) PositionMachine.Sell
          else PositionMachine.Other
        case _ => PositionMachine.Other
      }
      prevS = s.getOrElse(0.0); haveS = s.isDefined
      prevL = l.getOrElse(0.0); haveL = l.isDefined
      kind
    }

    /** Candles `rows` ([[candleMinutes]], one side) and steps each
      * finalized minute's close, calling `cross(kind, minuteStart,
      * shortSma)` at every BUY or SELL. Returns the open minute and its
      * picks to carry. */
    def crosses(open: Long, picks: List[CorrSecPick], rows: Iterator[SeqTick],
                dropped: Option[LongAccumulator])(
        cross: (Int, Timestamp, Double) => Unit): (Long, List[CorrSecPick]) = {
      val (m, ps) = candleMinutes(open, Vector(picks), rows, _ => 0, dropped) {
        (minute, sides) =>
          sides(0).lastOption.foreach { last =>
            val kind = step(last.bid)
            if (kind != PositionMachine.Other)
              cross(kind, new Timestamp(minute / 1000), prevS)
          }
      }
      (m, ps(0))
    }
  }

  /** T13: running drawdown per pair via [[DrawdownProcessor]] — the
    * `transformWithState` path. Requires the RocksDB state-store provider
    * (the API's contract); the caller scopes that conf to the query. */
  def drawdownStream(ticks: Dataset[SeqTick]): Dataset[DrawdownPoint] = {
    val spark = ticks.sparkSession
    import spark.implicits._
    ticks.groupByKey(_.pair)
      .transformWithState(new DrawdownProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        org.apache.spark.sql.streaming.OutputMode.Append())
  }

  /** T23: stale-feed detection via [[StaleProcessor]] — event-time timers,
    * so the TRAILING silence of a pair is declared by the GLOBAL watermark
    * without any later tick of that pair. Caller supplies a watermarked
    * tick stream (delay 0 makes the cutoff exactly the corpus max event
    * time); requires the RocksDB state-store provider like [[drawdownStream]]. */
  def staleStream(ticks: Dataset[SeqTick], thresholdMs: Long): Dataset[StalePoint] = {
    require(thresholdMs > 0, s"threshold must be positive, got $thresholdMs")
    val spark = ticks.sparkSession
    import spark.implicits._
    ticks.groupByKey(_.pair)
      .transformWithState(new StaleProcessor(thresholdMs),
        org.apache.spark.sql.streaming.TimeMode.EventTime(),
        org.apache.spark.sql.streaming.OutputMode.Append())
  }

  /** T29: the fused indicator grid as a LIVE stream via [[GridProcessor]]
    * — keyed FusedMachine snapshots stepping every (indicator, period)
    * cell per arriving candle (the reference's E2-per-run loop made
    * continuous). Requires the RocksDB state-store provider like
    * [[drawdownStream]]; caller supplies final candles in ascending time
    * order per key. */
  def gridStream(candles: Dataset[graft.operators.CloseRow],
                 indicators: Seq[String], periods: Seq[Int],
                 calcVersion: String = graft.operators.Indicators.CalcVersion)
      : Dataset[graft.model.IndicatorValue] = {
    val spark = candles.sparkSession
    import spark.implicits._
    candles.groupByKey(r => (r.pair, r.timeframe))
      .transformWithState(new GridProcessor(indicators, periods, calcVersion),
        org.apache.spark.sql.streaming.TimeMode.None(),
        org.apache.spark.sql.streaming.OutputMode.Append())
  }

  /** The one start of the ledger queries: `step` runs each micro-batch
    * with batch semantics under an append-mode, AvailableNow query
    * checkpointed at `checkpoint`. A replayed micro-batch keeps its id, so
    * `step` may key ledger rows by it. Every `compactEvery` batches (0:
    * never) the ledger at `ledger` is compacted with `rollup`, which must
    * be the ledger's own reader algebra ([[Compact.compactLedger]]). */
  private def ledgerQuery(in: DataFrame, checkpoint: String, compactEvery: Int = 0,
                          ledger: String = "",
                          rollup: DataFrame => DataFrame = identity)(
      step: (DataFrame, Long) => Unit): StreamingQuery =
    in.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        step(batch, batchId)
        if (Compact.due(compactEvery, batchId))
          Compact.compactLedger(batch.sparkSession, ledger, rollup)
        ()
      }
      .start()

  /** The rows of `batch` whose `keys` the first-write-wins store at `path`
    * lacks; the whole batch while the store is absent. The store is read
    * with `schema`, the schema of the frame that writes it, so a store
    * directory with no data file yet reads as empty. */
  private def novelAgainst(batch: DataFrame, path: String, schema: StructType,
                           keys: Seq[String]): DataFrame =
    Compact.scanStore(batch.sparkSession, path, schema)
      .map(Incremental.newRows(_, batch, keys)).getOrElse(batch)

  /** `batch` spread over the cores by doc_id: a maxFilesPerTrigger=1
    * micro-batch arrives as one partition, and the per-document work of
    * the t27, t30, t31, t32 and t33 steps is CPU-bound. (t25, t26 and t28
    * run without it: on t26 it cost a job per micro-batch and gained
    * nothing.) */
  private def spread(batch: DataFrame): DataFrame =
    batch.repartition(batch.sparkSession.sparkContext.defaultParallelism, col("doc_id"))

  /** T25 (streaming L60): corpus build with an ingest-time dedup guard.
    * Each micro-batch is screened against everything that arrived before
    * it — exact-content, near-duplicate (MinHash/LSH, corpus-always-wins),
    * and quality, via [[graft.operators.CorpusPrep.incrementalIngest]] —
    * then the FULL batch (accepted or not) joins the seen ledger, so later
    * docs are judged against every earlier arrival, exactly the one-shot
    * pairwise lower-id-wins rule. With an id-ordered source the converged
    * accept set therefore equals the batch [[graft.operators.CorpusPrep
    * .clean]] of everything ever staged — the gate oracle.
    *
    * Crash safety: the accept append runs BEFORE the seen append, both
    * behind first-write-wins guards. A kill between the two replays the
    * batch against a seen store that does not yet contain it (same accept
    * decisions, re-appends dropped); a kill after both is a no-op replay —
    * every batch doc self-matches in the seen store and the accept rows
    * are already present. */
  def ingestToParquet(docs: DataFrame, seenPath: String, acceptPath: String,
                      checkpoint: String): StreamingQuery =
    ledgerQuery(docs, checkpoint) { (batch, _) =>
      val seen = Compact.scanStore(batch.sparkSession, seenPath, batch.schema)
        .getOrElse(batch.filter(lit(false))) // store not created yet: empty
      val accepted = graft.operators.CorpusPrep.incrementalIngest(seen, batch)
      novelAgainst(accepted, acceptPath, accepted.schema, Seq("doc_id"))
        .write.mode("append").parquet(acceptPath)
      Incremental.newRows(seen, batch, Seq("doc_id"))
        .write.mode("append").parquet(seenPath)
    }

  /** T26 (streaming L61): corpus-sketch maintenance as an APPEND-ONLY
    * ledger of per-batch KMV sketches. Each micro-batch contributes its own
    * per-source bottom-k row; readers roll the ledger up with
    * [[graft.operators.Sketches.mergeSketches]], which converges to the
    * one-shot batch sketch for ANY batch split because KMV union is
    * associative, commutative and idempotent
    * (`bottom_k(bottom_k(A) ∪ bottom_k(B)) = bottom_k(A ∪ B)`).
    *
    * Crash contract — stronger than a swap-file ledger: a kill after the
    * append but before the checkpoint commit replays the batch, appending
    * a DUPLICATE sketch row, which the idempotent merge absorbs; a kill
    * mid-append leaves a partial file that parquet's _SUCCESS-less read
    * either misses (batch replays: fine) or reads alongside the replayed
    * append (duplicate: fine). No read-modify-write exists to corrupt. */
  def sketchStream(docs: DataFrame, ledgerPath: String, checkpoint: String,
                   n: Int = 3, k: Int = 256, compactEvery: Int = 0): StreamingQuery =
    // periodic fragment roll-up: re-merging per source IS the ledger's
    // reader algebra (KMV union), so compaction is a no-op to any roll-up
    // and crash-safe by idempotence
    ledgerQuery(docs, checkpoint, compactEvery, ledgerPath,
        graft.operators.Sketches.mergeSketches(_, k)) { (batch, _) =>
      // no fan-out before the sketch: tokenizing once and shingling the
      // projected tokens is linear in the batch's text and the bottom-k
      // heaps partial-aggregate on the one partition, so the micro-batch
      // runs one shuffle (the group-by's) of ≤ k rows per source
      graft.operators.Sketches.sourceSketch(batch, n, k)
        .write.mode("append").parquet(ledgerPath)
    }

  /** T27 (streaming L64): vocabulary-growth maintenance as an append-only
    * ledger of per-batch first-occurrence partials `(tok, first_doc)`.
    * Each micro-batch appends its own per-token min(doc_id); readers roll
    * the ledger up with another min and feed
    * [[graft.operators.TextAnalysis.heapsCurveFromFirstOcc]], which equals
    * the one-shot batch curve for ANY batch split because min is
    * associative, commutative and idempotent — same ledger algebra as the
    * KMV sketchStream (T26), so the same crash contract: replayed batches
    * append duplicate partials the min roll-up absorbs; no
    * read-modify-write exists to corrupt. Redelivered DOCS (not just
    * replayed batches) are absorbed too — a duplicate doc's tokens can
    * only lose min ties to the original's equal doc_id. Ledger growth is
    * Σ per-batch vocab, the same order as the batch op's shuffle. */
  def heapsStream(docs: DataFrame, ledgerPath: String,
                  checkpoint: String, compactEvery: Int = 0): StreamingQuery =
    // periodic fragment roll-up: min-per-token IS the reader algebra —
    // idempotent, so append-then-delete is crash-safe at any point
    ledgerQuery(docs, checkpoint, compactEvery, ledgerPath,
        _.groupBy(col("tok")).agg(min(col("first_doc")).as("first_doc"))) { (batch, _) =>
      graft.operators.TextAnalysis.firstOccurrence(spread(batch))
        .write.mode("append").parquet(ledgerPath)
    }

  /** T28 (streaming L62): the length-bucket padding report maintained
    * incrementally. Counting aggregates are NOT idempotent, so the two
    * at-least-once hazards need distinct guards:
    *  - redelivered DOCS (the fixture's re-sent 0–99 tail): each batch is
    *    screened against a `seen` doc_id store and only novel docs are
    *    counted — the T25 pattern;
    *  - replayed BATCHES (crash after ledger append, before checkpoint
    *    commit): ledger rows carry the micro-batch id, and the roll-up
    *    first collapses duplicates per (batch_id, bucket) — identical by
    *    determinism of the per-batch agg over the offset-logged file set —
    *    before summing across batches.
    * Append order is ledger THEN seen: a kill between the two replays the
    * batch against the old seen store, recomputing the SAME novel set and
    * appending only batch_id-duplicate rows. Ledger growth is
    * ≤ maxLen/step rows per batch. Roll up with [[rollupLengthLedger]]. */
  def lengthStream(docs: DataFrame, seenPath: String, ledgerPath: String,
                   checkpoint: String, step: Int = 32,
                   maxLen: Int = 512, compactEvery: Int = 0): StreamingQuery =
    // periodic fragment roll-up — batch_id-AWARE: counters are not
    // idempotent, so compaction only collapses duplicate rows per
    // (batch_id, bucket) (identical by per-batch determinism) and KEEPS
    // the batch_id key; that key is what lets the reader's roll-up absorb
    // both a replayed batch's re-append and a crash that leaves originals
    // beside the merged fragment
    ledgerQuery(docs, checkpoint, compactEvery, ledgerPath,
        _.groupBy(col("batch_id"), col("bucket"))
          .agg(max(col("n_docs")).as("n_docs"), max(col("sum_tokens")).as("sum_tokens"))
          .select(col("batch_id"), col("bucket"), col("n_docs"),
            col("sum_tokens"))) { (batch, batchId) =>
      val novel = novelAgainst(batch, seenPath, batch.select("doc_id").schema,
        Seq("doc_id")).localCheckpoint() // two sinks below; compute the screen once
      graft.operators.TextAnalysis.lengthBuckets(novel, step, maxLen)
        .select(lit(batchId).as("batch_id"), col("bucket"), col("n_docs"),
          col("sum_tokens"))
        .write.mode("append").parquet(ledgerPath)
      novel.select("doc_id").write.mode("append").parquet(seenPath)
    }

  /** Converged read of a [[lengthStream]] ledger: batch-replay dedup, then
    * the cross-batch counter sum, then the same derived padded/pad_waste
    * columns as the one-shot [[graft.operators.TextAnalysis.lengthBuckets]]. */
  def rollupLengthLedger(ledger: DataFrame): DataFrame =
    ledger
      .groupBy(col("batch_id"), col("bucket"))
      .agg(max(col("n_docs")).as("n_docs"),
        max(col("sum_tokens")).as("sum_tokens"))
      .groupBy(col("bucket"))
      .agg(sum(col("n_docs")).as("n_docs"),
        sum(col("sum_tokens")).as("sum_tokens"))
      .select(col("bucket"), col("n_docs"), col("sum_tokens"),
        (col("bucket") * col("n_docs")).as("padded"),
        round(lit(1.0) - col("sum_tokens").cast("double")
          / (col("bucket") * col("n_docs")), 6).as("pad_waste"))

  /** T30 (streaming L69): the boilerplate-scrub segment ledger — each
    * micro-batch appends its docs' grid segments (doc_id, i, seg); the
    * converged read ([[graft.operators.Dedup.boilerplateFromSegments]])
    * computes the GLOBAL distinct-doc frequency and scrubs, equal to the
    * one-shot batch [[graft.operators.Dedup.boilerplateScrub]] for ANY
    * batch split. Segment rows are pure set data (distinct absorbs both
    * a redelivered doc and a crash-replayed append — the t27 idempotent-
    * algebra class), so the ledger needs no batch_id key and compaction
    * is a plain distinct. Frequency-thresholded boilerplate is inherently
    * a full-corpus verdict — a segment's df can cross minDf on ANY later
    * batch — so the streaming form maintains the evidence incrementally
    * and scrubs on read; per-batch cost is one linear segmentation plus
    * an O(batch) append. */
  def boilerplateStream(docs: DataFrame, ledgerPath: String,
                        checkpoint: String, span: Int = 10,
                        compactEvery: Int = 0): StreamingQuery =
    ledgerQuery(docs, checkpoint, compactEvery, ledgerPath, _.distinct()) { (batch, _) =>
      graft.operators.Dedup.gridSegments(spread(batch).select("doc_id", "text"), span)
        .write.mode("append").parquet(ledgerPath)
    }

  /** T32 (streaming L78): unigram-LM token accounting live — each
    * micro-batch of arriving docs is Viterbi-encoded under a FROZEN
    * unigram model (the production tokenizer contract: the model trains
    * once, the stream never re-trains; the L58/L62 consumers read these
    * counts) and appended to a per-doc ledger. Under a frozen model the
    * (doc_id, n_ws, n_pieces) row is a pure function of the doc text, so
    * the ledger is SET data — a redelivered doc and a crash-replayed
    * append write byte-identical rows, absorbed by distinct on read (the
    * t27/t30 idempotent-algebra class) — and compaction is a plain
    * distinct. Converged read ≡ the one-shot
    * [[graft.operators.Unigram.encode]] over the union of arrivals.
    * Per-batch cost: one Viterbi pass over the BATCH's distinct words
    * against the broadcast vocabulary-bounded model — O(batch), never
    * O(ledger). */
  def unigramEncodeStream(docs: DataFrame, model: DataFrame,
                          ledgerPath: String, checkpoint: String,
                          maxPiece: Int = 6,
                          compactEvery: Int = 0): StreamingQuery = {
    // the model is FROZEN for the stream's lifetime: collect its
    // vocabulary-bounded rows ONCE here, not once per micro-batch
    val um = graft.operators.Unigram.collectModel(model)
    ledgerQuery(docs, checkpoint, compactEvery, ledgerPath, _.distinct()) { (batch, _) =>
      graft.operators.Unigram.encodeWith(spread(batch).select("doc_id", "text"), um, maxPiece)
        .write.mode("append").parquet(ledgerPath)
    }
  }

  /** T33 (streaming L79): byte-level BPE encode of arriving documents
    * under FROZEN merge rules — the [[unigramEncodeStream]] contract for
    * the production tokenizer base: rules are trained once (an input to
    * the stream, a driver-side Seq shipped in the closure — never
    * re-trained per batch), the encoder is TOTAL by construction (byte
    * fallback — no vocabulary, no OOV path), and per-doc rows are pure
    * functions of the text, so the ledger is set data: redelivered docs
    * and crash-replayed appends absorb by `distinct`, compaction is a
    * plain `distinct`. */
  def bpeBytesEncodeStream(docs: DataFrame,
                           merges: Seq[(Int, String, String, Long)],
                           ledgerPath: String, checkpoint: String,
                           compactEvery: Int = 0): StreamingQuery =
    ledgerQuery(docs, checkpoint, compactEvery, ledgerPath, _.distinct()) { (batch, _) =>
      graft.operators.TextAnalysis.bpeEncodeBytes(
          spread(batch).select("doc_id", "text"), merges)
        .write.mode("append").parquet(ledgerPath)
    }

  /** T31 (streaming L30/L60): incremental ExactSubstr dedup live — each
    * micro-batch of NEW docs is scrubbed against the standing corpus's
    * gram-index ledger ([[graft.operators.Dedup.dedupSubstrAgainst]]:
    * any-offset repeated passages whose sequence exists in the corpus,
    * or earlier in the batch, are removed) and then contributes its own
    * grams — "scrub today's crawl against years of corpus" as a running
    * deployment, never re-scrubbing the corpus.
    *
    * At-least-once guards, by hazard:
    *  - redelivered DOCS: screened by the `seen` store (the T25/T28
    *    pattern) — a re-delivered doc must NOT be re-scrubbed against
    *    the LARGER index a later batch sees (it would over-scrub);
    *  - replayed BATCHES: gram rows carry the micro-batch id and the
    *    per-batch index view filters `batch_id < currentBatchId` —
    *    foreachBatch replays reuse the SAME batch id, so a replay
    *    excludes the crashed attempt's own (and any later) gram rows and
    *    recomputes the identical scrub; its re-appended output/gram rows
    *    are exact duplicates absorbed by distinct on read.
    * Append order (out → grams → seen) makes every kill window land in
    * one of those two cases. Converged output ≡ the one-shot batch
    * [[graft.operators.Dedup.dedupSubstr]] when batch order follows doc
    * order (which the file source's ordered staging provides). */
  def substrStream(docs: DataFrame, seenPath: String, gramPath: String,
                   outPath: String, checkpoint: String, minRun: Int = 10,
                   compactEvery: Int = 0): StreamingQuery =
    // gram rows are (batch_id, h) set data — compaction is a plain
    // distinct, crash-safe in the ledger protocol
    ledgerQuery(docs, checkpoint, compactEvery, gramPath, _.distinct()) { (batch, batchId) =>
      val wide = spread(batch)
      val novel = novelAgainst(wide, seenPath, wide.select("doc_id").schema,
        Seq("doc_id")).select("doc_id", "text").localCheckpoint() // scrub + grams + seen
      // r16 optimization (guide §1.2): the batch's every-offset gram set
      // feeds BOTH the scrub join and the ledger append — computed once
      // and checkpointed (O(batch tokens) rows, bounded by the batch),
      // where the previous shape ran the split+explode+md5 pipeline
      // twice per micro-batch
      val toks = novel.select(col("doc_id"),
        split(col("text"), " ").as("toks"))
      val grams = graft.operators.Dedup.gramsOf(toks, minRun)
        .localCheckpoint()
      val gramRows = grams.select(lit(batchId).as("batch_id"), col("h")).distinct()
      val idx = Compact.scanStore(batch.sparkSession, gramPath, gramRows.schema)
        .map(_.filter(col("batch_id") < batchId).select(col("h")))
        .getOrElse(grams.limit(0).select(col("h")))
      graft.operators.Dedup.dedupSubstrAgainstGrams(idx, toks, grams, minRun)
        .write.mode("append").parquet(outPath)
      gramRows.write.mode("append").parquet(gramPath)
      novel.select("doc_id").write.mode("append").parquet(seenPath)
    }

  /** T4: CDC relay into a parquet sink with first-write-wins semantics.
    * Source offsets play the reference's `last_time` cursor; `foreachBatch`
    * re-runs on failure with the same batch, so the idempotent merge
    * ([[Incremental.appendNew]] against what the sink already holds) makes
    * redelivery safe — the streaming analogue of ON CONFLICT DO NOTHING.
    *
    * `perBatch` runs with *batch* semantics inside each micro-batch before
    * the merge — the slot for deterministic per-poll normalization (e.g.
    * [[graft.operators.Ticks.dedupSecond]], whose (time, seq) tie-break the
    * streaming `dropDuplicates` cannot express), exactly where the
    * reference normalizes each poll's rows before its conflict-skipping
    * insert (reference: src/gmo/ws_ticker_server.py:228-243). */
  def relayToParquet(ticks: DataFrame, sinkPath: String, checkpoint: String,
                     keys: Seq[String] = Seq("pair", "time"),
                     perBatch: DataFrame => DataFrame = identity): StreamingQuery =
    ledgerQuery(ticks, checkpoint) { (batch, _) =>
      val staged = perBatch(batch)
      // append-only: anti-join the batch against the sink's existing keys
      // and append just the novel rows — O(batch), never a sink rewrite
      novelAgainst(staged, sinkPath, staged.schema, keys)
        .write.mode("append").parquet(sinkPath)
    }
}
