package graft.operators

import java.sql.Timestamp

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Event row for the backtest fold (top-level for Catalyst codegen access). */
final case class SignalRow(pair: String, time: Timestamp, event_type: String, price: Double)

/** Per-pair backtest result. */
final case class BacktestResult(pair: String, trades: Int, total_pnl: Double,
                                open_position: Boolean)

/** One round-trip trade (exit fields None while the position is still open). */
final case class TradeRow(pair: String, trade_no: Int,
                          entry_time: Timestamp, entry_price: Double,
                          exit_time: Option[Timestamp], exit_price: Option[Double],
                          pnl: Option[Double])

/** One round-trip trade under notional position sizing and per-side fees:
  * `qty = notional / entry`, `gross = qty·(exit − entry)`,
  * `fee = feeRate·qty·(entry + exit)` (both sides' traded value),
  * `net = gross − fee`. Money fields None while the position is open. */
final case class SizedTradeRow(pair: String, trade_no: Int,
                               entry_time: Timestamp, entry_price: Double,
                               qty: Double,
                               exit_time: Option[Timestamp], exit_price: Option[Double],
                               gross: Option[Double], fee: Option[Double],
                               net: Option[Double])

/** One merged backtest input row: `kind` 0 = candle close, 1 = BUY signal,
  * 2 = SELL signal — the kind is the deterministic same-timestamp
  * tie-break (the candle at `t` is processed BEFORE the signals derived
  * from it, so an entry bar can never stop itself out). */
final case class MergedRow(pair: String, time: Timestamp, kind: Int, px: Double)

/** One round-trip trade under stop-loss/take-profit exits: `reason` is
  * 'SL' (close breached `entry·(1−sl)`), 'TP' (close reached
  * `entry·(1+tp)`) or 'SIG' (the strategy's own SELL cross). Exit fields
  * None while the position is open. */
final case class StopTradeRow(pair: String, trade_no: Int,
                              entry_time: Timestamp, entry_price: Double,
                              exit_time: Option[Timestamp], exit_price: Option[Double],
                              reason: Option[String], pnl: Option[Double])

/** Event row of the LIVE stop-managed fold: `kind` -1 = the key's resumed
  * state (sorts first), 0 = candle close, 1 = BUY, 2 = SELL — the same
  * candle-before-signals same-bar tie-break as [[MergedRow]]. */
final case class LiveStopEvent(pair: String, timeframe: String, kind: Int,
                               time: Timestamp, px: Double,
                               entry_time: Timestamp, entry_price: Double,
                               n_closed: Long, open: Boolean)

/** Tagged output of [[Backtest.tradesStoppedIncremental]]: `is_state` =
  * false → one CLOSED stop-managed round trip (`reason` SL/TP/SIG); true →
  * the key's advanced fold state. */
final case class LiveStopFold(pair: String, timeframe: String,
                              is_state: Boolean, trade_no: Long,
                              entry_time: Timestamp, entry_price: Double,
                              exit_time: Option[Timestamp],
                              exit_price: Option[Double],
                              reason: Option[String], pnl: Option[Double],
                              open: Boolean, n_closed: Long, last_time: Timestamp)

/** Event row of the LIVE trade fold: `kind` 0 = the key's resumed state
  * (sorts before every strictly-later signal), 1 = a new signal. */
final case class LiveTradeEvent(pair: String, timeframe: String, kind: Int,
                                time: Timestamp, event_type: String, price: Double,
                                entry_time: Timestamp, entry_price: Double,
                                n_closed: Long, open: Boolean)

/** Tagged output of [[Backtest.tradesIncremental]]: `is_state` = false →
  * one CLOSED round-trip trade; true → the key's advanced fold state
  * (open-position fields + closed-trade count + folded frontier). */
final case class LiveTradeFold(pair: String, timeframe: String,
                               is_state: Boolean, trade_no: Long,
                               entry_time: Timestamp, entry_price: Double,
                               exit_time: Option[Timestamp],
                               exit_price: Option[Double], pnl: Option[Double],
                               open: Boolean, n_closed: Long, last_time: Timestamp)

/** The long-only position machine every backtest fold steps, one instance
  * per key. A BUY opens a position at its price if flat; a SELL closes it
  * if long (exit 'SIG'). With stops, while long a candle close at or below
  * `entry·slMult` exits 'SL', else one at or above `entry·tpMult` exits
  * 'TP'. The default NaN multipliers never stop out: those folds carry no
  * candles. The caller sorts each key's events (candle before BUY before
  * SELL at one instant, so an entry bar cannot stop itself out).
  *
  * The incremental folds resume it from a ledger state row with
  * [[restore]]. The row's `last_time` becomes the folded frontier, and an
  * event at or before it fails loudly rather than re-pairing history: one
  * sorting after the state row fails in [[step]], one sorting before it
  * fails in [[restore]]. The one-shot folds never restore, so they never
  * check. */
private[graft] final class PositionMachine(slMult: Double = Double.NaN,
                                           tpMult: Double = Double.NaN) {
  import PositionMachine._

  private var key: String = null
  private var frontier: Timestamp = null
  private var stepped = false
  /** Long now. */
  var open = false
  /** Entry of the open position, or of the round trip the last step closed. */
  var entryTime: Timestamp = null
  var entryPrice = 0.0
  /** Round trips closed, restored count included. */
  var closed = 0L
  /** Time of the last event folded (the frontier a state row carries). */
  var lastTime: Timestamp = null

  def restore(key: String, open: Boolean, entryTime: Timestamp, entryPrice: Double,
              closed: Long, lastTime: Timestamp): Unit = {
    require(!stepped, broken(key))
    this.key = key
    this.open = open; this.entryTime = entryTime; this.entryPrice = entryPrice
    this.closed = closed; this.lastTime = lastTime; frontier = lastTime
  }

  /** Folds one event of `kind` ([[Candle]], [[Buy]], [[Sell]] or
    * [[Other]], which only advances the frontier); returns the exit reason
    * when it closed the position, else null. */
  def step(kind: Int, time: Timestamp, px: Double): String = {
    require(frontier == null || time.after(frontier), broken(key))
    stepped = true
    lastTime = time
    val reason =
      if (!open) {
        if (kind == Buy) { open = true; entryTime = time; entryPrice = px }
        null
      } else if (kind == Sell) "SIG"
      else if (kind == Candle) {
        if (px <= entryPrice * slMult) "SL"
        else if (px >= entryPrice * tpMult) "TP"
        else null
      } else null
    if (reason != null) { open = false; closed += 1 }
    reason
  }

  /** The entry a state row carries: the open position's, or none. */
  def stateEntryTime: Timestamp = if (open) entryTime else null
  def stateEntryPrice: Double = if (open) entryPrice else 0.0
}

private[graft] object PositionMachine {
  /** Event kinds, also the same-instant sort order of the stop folds. */
  final val Candle = 0
  final val Buy = 1
  final val Sell = 2
  final val Other = 3

  def signalKind(eventType: String): Int = eventType match {
    case "BUY" => Buy
    case "SELL" => Sell
    case _ => Other
  }

  /** `(1.0 − sl, 1.0 + tp)`, computed once in double: the oracle spells
    * `CAST(1.0 AS DOUBLE) − CAST(sl AS DOUBLE)`, so both engines compare
    * against the identical double (the llm_lm_interp pattern). */
  def stopMultipliers(slPct: Double, tpPct: Double): (Double, Double) = {
    require(slPct > 0 && tpPct > 0, s"sl/tp must be positive, got $slPct/$tpPct")
    (1.0 - slPct, 1.0 + tpPct)
  }

  private def broken(key: String): String =
    s"event at or before the folded frontier for $key — " +
      "the live ordering contract broke; refusing to re-fold history"
}

/** F6: event-driven backtest over buy/sell signal events.
  *
  * The reference ships this as a stub that reads `fact_buysell_events` in
  * time order and simulates PnL (src/core/backtest_engine.py:5-44,
  * docs/requirements.md:11-19). Concrete semantics here: the long-only
  * [[PositionMachine]] — a BUY opens a 1-unit position at its price
  * (ignored if already long), a SELL closes it (ignored if flat);
  * PnL = Σ(sell - buy). Every entry point is one emitter over that
  * machine, with the same per-key ordered-fold pattern as EMA/RSI: one
  * shuffle on the key, secondary sort by time, sequential fold.
  */
object Backtest {
  import PositionMachine._

  /** Each pair's signals in (time, event_type) order — BUY before SELL at
    * one instant — folded by `f`. */
  private def foldSignals[T <: Product : TypeTag](signals: DataFrame)(
      f: (String, Iterator[SignalRow]) => Iterator[T]): Dataset[T] = {
    val spark = signals.sparkSession
    import spark.implicits._
    signals.select($"pair", $"event_datetime".as("time"), $"event_type", $"price")
      .as[SignalRow]
      .groupByKey(_.pair)
      .flatMapSortedGroups($"time", $"event_type")(f)
  }

  def run(signals: DataFrame): Dataset[BacktestResult] =
    foldSignals(signals) { (pair, rows) =>
      val m = new PositionMachine()
      var pnl = 0.0
      rows.foreach { r =>
        if (m.step(signalKind(r.event_type), r.time, r.price) != null)
          pnl += r.price - m.entryPrice
      }
      Iterator.single(BacktestResult(pair, m.closed.toInt, pnl, m.open))
    }

  /** Per-trade ledger — the reference's user story asks for the individual
    * entry/exit rows behind the per-pair totals (docs/requirements.md:11-19,
    * src/core/backtest_engine.py:5-44). Same machine as [[run]], emitting
    * one row per round trip; a position still open at end-of-data becomes
    * a final row with NULL exit fields. Σpnl and row counts reconcile
    * exactly with [[run]]. */
  def trades(signals: DataFrame): Dataset[TradeRow] =
    foldSignals(signals) { (pair, rows) =>
      val m = new PositionMachine()
      val out = Vector.newBuilder[TradeRow]
      rows.foreach { r =>
        if (m.step(signalKind(r.event_type), r.time, r.price) != null)
          out += TradeRow(pair, m.closed.toInt, m.entryTime, m.entryPrice,
            Some(r.time), Some(r.price), Some(r.price - m.entryPrice))
      }
      if (m.open)
        out += TradeRow(pair, m.closed.toInt + 1, m.entryTime, m.entryPrice, None, None, None)
      out.result().iterator
    }

  /** The [[trades]] ledger under position sizing and transaction costs —
    * the depth the reference's backtest engine declares as intent
    * (src/core/backtest_engine.py:5-44, docs/requirements.md:11-19): each
    * BUY deploys a fixed `notional`, so `qty = notional / entry_price`
    * (constant-notional sizing — the standard FX backtest convention), and
    * each side pays `feeRate` of its traded value:
    * `fee = feeRate · qty · (entry + exit)`; `net = gross − fee`. Same
    * machine as [[trades]]; every money field is plain double algebra in a
    * fixed order, so an oracle spelling the identical expressions over the
    * same trade pairing is bit-exact. */
  def tradesSized(signals: DataFrame, notional: Double,
                  feeRate: Double): Dataset[SizedTradeRow] = {
    require(notional > 0, s"notional must be positive, got $notional")
    require(feeRate >= 0, s"feeRate must be non-negative, got $feeRate")
    foldSignals(signals) { (pair, rows) =>
      val m = new PositionMachine()
      val out = Vector.newBuilder[SizedTradeRow]
      rows.foreach { r =>
        if (m.step(signalKind(r.event_type), r.time, r.price) != null) {
          val entry = m.entryPrice
          val qty = notional / entry
          val gross = qty * (r.price - entry)
          val fee = feeRate * qty * (entry + r.price)
          out += SizedTradeRow(pair, m.closed.toInt, m.entryTime, entry, qty,
            Some(r.time), Some(r.price), Some(gross), Some(fee), Some(gross - fee))
        }
      }
      if (m.open)
        out += SizedTradeRow(pair, m.closed.toInt + 1, m.entryTime, m.entryPrice,
          notional / m.entryPrice, None, None, None, None, None)
      out.result().iterator
    }
  }

  /** F6 risk-managed ledger: the machine of [[trades]] with intra-trade
    * STOP-LOSS and TAKE-PROFIT exits driven by the candle stream — the
    * risk layer every real backtest engine carries (the reference's engine
    * declares PnL simulation as intent, src/core/backtest_engine.py:5-44;
    * exits-by-price-path is its natural depth). The signal stream and the
    * candle stream merge into ONE per-pair time-ordered fold (kind
    * tie-break: candle before signals at the same bar, so the entry bar
    * cannot stop itself out); while long, each candle close is tested
    * `close ≤ entry·(1−sl)` (exit 'SL') else `close ≥ entry·(1+tp)` (exit
    * 'TP'); a strategy SELL still closes at its own price ('SIG'); after
    * any exit the next BUY re-enters. Any event type but BUY acts as a
    * SELL here. Multipliers come from [[PositionMachine.stopMultipliers]].
    * Same single-shuffle sorted-group fold as every recurrence here; state
    * per pair: one bool + three scalars. */
  def tradesStopped(signals: DataFrame, candles: DataFrame,
                    slPct: Double, tpPct: Double): Dataset[StopTradeRow] = {
    val (slMult, tpMult) = stopMultipliers(slPct, tpPct)
    val spark = signals.sparkSession
    import spark.implicits._
    val ev = signals.select($"pair", $"event_datetime".as("time"),
      when($"event_type" === "BUY", Buy).otherwise(Sell).as("kind"),
      $"price".as("px"))
    val cd = candles.select($"pair", $"time", lit(Candle).as("kind"), $"close".as("px"))
    cd.unionByName(ev).as[MergedRow]
      .groupByKey(_.pair)
      .flatMapSortedGroups($"time", $"kind") { (pair, rows) =>
        val m = new PositionMachine(slMult, tpMult)
        val out = Vector.newBuilder[StopTradeRow]
        rows.foreach { r =>
          val reason = m.step(r.kind, r.time, r.px)
          if (reason != null)
            out += StopTradeRow(pair, m.closed.toInt, m.entryTime, m.entryPrice,
              Some(r.time), Some(r.px), Some(reason), Some(r.px - m.entryPrice))
        }
        if (m.open)
          out += StopTradeRow(pair, m.closed.toInt + 1, m.entryTime, m.entryPrice,
            None, None, None, None)
        out.result().iterator
      }
  }

  /** F6 risk layer: per-pair per-trade risk metrics off the [[trades]]
    * ledger — mean PnL, population volatility, downside deviation (vs a
    * zero target, the Sortino convention), and the per-trade Sharpe- and
    * Sortino-style ratios (no annualization — the trade grain is
    * irregular; scale outside if a calendar basis is wanted).
    *
    * ENGINE-PORTABLE NUMERICS: per-trade PnL is rounded to the 6-dp grid
    * and every Σp, Σp², Σmin(p,0)² accumulates as EXACT DECIMAL —
    * order-free — so the only float work is one identical
    * mean/variance/sqrt/ratio chain at the end (the [[Indicators.bollinger]]
    * discipline). Ratios are NULL when their denominator is zero (a
    * constant or all-winning PnL series). One aggregation shuffle on the
    * pair key; open (NULL-pnl) trades are excluded identically on any
    * engine. */
  def riskMetrics(trades: Dataset[TradeRow]): DataFrame = {
    val closed = trades.toDF().filter(col("pnl").isNotNull)
      .select(col("pair"), round(col("pnl"), 6).cast("decimal(18,6)").as("p"))
    val zero = lit(0).cast("decimal(38,12)")
    closed.groupBy(col("pair"))
      .agg(count(lit(1)).as("n_trades"),
        sum(col("p")).as("s"),
        sum((col("p") * col("p")).cast("decimal(38,12)")).as("sq"),
        sum(when(col("p") < 0, (col("p") * col("p")).cast("decimal(38,12)"))
          .otherwise(zero)).as("dsq"))
      .withColumn("mean", col("s").cast("double") / col("n_trades"))
      .withColumn("vol", sqrt(greatest(
        col("sq").cast("double") / col("n_trades") - col("mean") * col("mean"),
        lit(0.0))))
      .withColumn("ddev", sqrt(col("dsq").cast("double") / col("n_trades")))
      .select(col("pair"), col("n_trades"),
        round(col("mean"), 6).as("mean_pnl"),
        round(col("vol"), 6).as("vol"),
        when(col("vol") > 0, round(col("mean") / col("vol"), 6)).as("sharpe"),
        round(col("ddev"), 6).as("downside_dev"),
        when(col("ddev") > 0, round(col("mean") / col("ddev"), 6)).as("sortino"))
  }

  /** F6 live: resume the trade machine from per-key state and fold ONLY
    * the new signals — the [[trades]] semantics as an incremental per-poll
    * pass (the deployment's trade-ledger tail).
    *
    * Inputs: `state` = the previous [[LiveTradeFold]] state rows (empty
    * on first fold); `signals` in the live signal-store shape, every row
    * STRICTLY past its key's folded frontier (the caller bounds the
    * read; a signal at or before the frontier here means the ordering
    * contract broke and the fold FAILS LOUDLY rather than silently
    * re-pairing history). Output: one tagged frame — closed trades plus
    * every key's advanced state (state-only keys re-emit unchanged, so a
    * snapshot overwrite carries all keys forward).
    *
    * Scale shape: one shuffle on (pair, timeframe), secondary-sorted
    * fold (the EMA/RSI pattern); state is O(keys), per-group memory one
    * key's new signals. */
  def tradesIncremental(state: DataFrame, signals: DataFrame): Dataset[LiveTradeFold] = {
    val spark = signals.sparkSession
    import spark.implicits._
    val sigEv = signals.select($"pair",
      $"trigger_indicator_timeframe".as("timeframe"), lit(1).as("kind"),
      $"event_datetime".as("time"), $"event_type", $"price",
      lit(null).cast("timestamp").as("entry_time"),
      lit(0.0).as("entry_price"), lit(0L).as("n_closed"), lit(false).as("open"))
    val stEv = state.select($"pair", $"timeframe", lit(0).as("kind"),
      $"last_time".as("time"), lit(null).cast("string").as("event_type"),
      lit(0.0).as("price"), $"entry_time", $"entry_price", $"n_closed", $"open")
    sigEv.unionByName(stEv).as[LiveTradeEvent]
      .groupByKey(e => (e.pair, e.timeframe))
      .flatMapSortedGroups($"time", $"kind", $"event_type") { case ((pair, tf), rows) =>
        val m = new PositionMachine()
        val out = Vector.newBuilder[LiveTradeFold]
        rows.foreach { e =>
          if (e.kind == 0)
            m.restore(s"$pair/$tf", e.open, e.entry_time, e.entry_price, e.n_closed, e.time)
          else if (m.step(signalKind(e.event_type), e.time, e.price) != null)
            out += LiveTradeFold(pair, tf, is_state = false, m.closed,
              m.entryTime, m.entryPrice, Some(e.time), Some(e.price),
              Some(e.price - m.entryPrice), open = false, m.closed, e.time)
        }
        out += LiveTradeFold(pair, tf, is_state = true, 0L, m.stateEntryTime,
          m.stateEntryPrice, None, None, None, m.open, m.closed, m.lastTime)
        out.result().iterator
      }
  }

  /** F6 risk live: the [[tradesStopped]] semantics as an incremental
    * per-poll fold — candle closes INTERLEAVED with signals per
    * (pair, timeframe), resumed from per-key state (the
    * [[tradesIncremental]] contract: every new event strictly past its
    * key's folded frontier, violations fail loudly; deterministic
    * same-instant order state < candle < BUY < SELL, so an entry bar can
    * never stop itself out and the chunked fold replays the one-shot
    * [[tradesStopped]] machine exactly). Candles of a timeframe drive the
    * stops of that timeframe's ledger.
    *
    * Scale shape: one shuffle on (pair, timeframe), secondary-sorted
    * fold; state O(keys); per-group memory one key's new events. */
  def tradesStoppedIncremental(state: DataFrame, signals: DataFrame,
                               candles: DataFrame, slPct: Double,
                               tpPct: Double): Dataset[LiveStopFold] = {
    val (slMult, tpMult) = stopMultipliers(slPct, tpPct)
    val spark = signals.sparkSession
    import spark.implicits._
    def pad(kind: Column, time: Column, px: Column)(df: DataFrame,
        pairC: Column, tfC: Column) =
      df.select(pairC.as("pair"), tfC.as("timeframe"), kind.as("kind"),
        time.as("time"), px.as("px"),
        lit(null).cast("timestamp").as("entry_time"),
        lit(0.0).as("entry_price"), lit(0L).as("n_closed"), lit(false).as("open"))
    val sigEv = pad(when(col("event_type") === "BUY", Buy).otherwise(Sell),
      col("event_datetime"), col("price"))(
      signals, col("pair"), col("trigger_indicator_timeframe"))
    val cdEv = pad(lit(Candle), col("time"), col("close"))(
      candles, col("pair"), col("timeframe"))
    val stEv = state.select(col("pair"), col("timeframe"),
      lit(-1).as("kind"), col("last_time").as("time"), lit(0.0).as("px"),
      col("entry_time"), col("entry_price"), col("n_closed"), col("open"))
    sigEv.unionByName(cdEv).unionByName(stEv).as[LiveStopEvent]
      .groupByKey(e => (e.pair, e.timeframe))
      .flatMapSortedGroups($"time", $"kind") { case ((pair, tf), rows) =>
        val m = new PositionMachine(slMult, tpMult)
        val out = Vector.newBuilder[LiveStopFold]
        rows.foreach { e =>
          if (e.kind == -1)
            m.restore(s"$pair/$tf", e.open, e.entry_time, e.entry_price, e.n_closed, e.time)
          else {
            val reason = m.step(e.kind, e.time, e.px)
            if (reason != null)
              out += LiveStopFold(pair, tf, is_state = false, m.closed,
                m.entryTime, m.entryPrice, Some(e.time), Some(e.px), Some(reason),
                Some(e.px - m.entryPrice), open = false, m.closed, e.time)
          }
        }
        out += LiveStopFold(pair, tf, is_state = true, 0L, m.stateEntryTime,
          m.stateEntryPrice, None, None, None, None, m.open, m.closed, m.lastTime)
        out.result().iterator
      }
  }
}
