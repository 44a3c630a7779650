package graft

import java.sql.Timestamp

import graft.model.Timeframe
import graft.operators._
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Earlier, directly written forms of the spine operators, kept as the
  * specification the current ones are checked against: the 1m candles
  * bucketed by `window`, derived candles resampled from the 1m candles
  * (src/etl/flows/transform.py:42-76), the SMA-cross input as a self-join
  * of the fact table (src/etl/flows/transform_services.py:401-505), and
  * the six backtest folds each with its own inline position machine. */
object ReferenceForms {

  /** 1m candles bucketed by `window(time, "1 minute")`. */
  def ohlcBase(ticks: DataFrame): DataFrame =
    ticks
      .groupBy(col("pair"), window(col("time"), "1 minute"))
      .agg(
        min_by(col("bid"), col("time")).as("open"),
        max(col("bid")).as("high"),
        min(col("bid")).as("low"),
        max_by(col("bid"), col("time")).as("close"))
      .select(col("pair"), lit(Timeframe.Base.code).as("timeframe"),
        col("window.start").as("time"),
        col("open"), col("high"), col("low"), col("close"))

  /** [[ohlcBase]] plus the tick count per candle as `vol`. */
  def ohlcBaseWithVol(ticks: DataFrame): DataFrame =
    ticks
      .groupBy(col("pair"), window(col("time"), "1 minute"))
      .agg(
        min_by(col("bid"), col("time")).as("open"),
        max(col("bid")).as("high"),
        min(col("bid")).as("low"),
        max_by(col("bid"), col("time")).as("close"),
        count(lit(1)).as("vol"))
      .select(col("pair"), lit(Timeframe.Base.code).as("timeframe"),
        col("window.start").as("time"),
        col("open"), col("high"), col("low"), col("close"), col("vol"))

  /** 1m candles unioned with one [[Ohlc.resample]] per derived timeframe
    * (one shuffle per timeframe). A timeframe listed twice is built twice. */
  def allTimeframes(ticks: DataFrame, tfs: Seq[Timeframe]): DataFrame = {
    val base = ohlcBase(ticks)
    tfs.filter(_.durationSeconds > Timeframe.Base.durationSeconds)
      .map(Ohlc.resample(base, _))
      .foldLeft(base)(_ unionByName _)
  }

  /** Inner self-join of the short- and long-period rows on
    * (pair, timeframe, time, calc_version), then a lag window. */
  def smaCrossInput(sma: DataFrame, shortPeriod: Int, longPeriod: Int): DataFrame = {
    val keys = Seq("pair", "timeframe", "time", "calc_version")
    val s = sma.filter(col("period") === shortPeriod)
      .select(keys.map(col) :+ col("value").as("short_value"): _*)
    val l = sma.filter(col("period") === longPeriod)
      .select(keys.map(col) :+ col("value").as("long_value"): _*)
    val w = Window.partitionBy(col("pair"), col("timeframe"), col("calc_version"))
      .orderBy(col("time"))
    s.join(l, keys)
      .withColumn("prev_short", lag(col("short_value"), 1).over(w))
      .withColumn("prev_long", lag(col("long_value"), 1).over(w))
  }

  // ---- the six backtest folds, each with its own position machine ----

  def backtestRun(signals: DataFrame): Dataset[BacktestResult] = {
    val spark = signals.sparkSession
    import spark.implicits._
    signals.select($"pair", $"event_datetime".as("time"), $"event_type", $"price")
      .as[SignalRow]
      .groupByKey(_.pair)
      .flatMapSortedGroups($"time", $"event_type") { (pair, rows) =>
        var entry = 0.0
        var long = false
        var trades = 0
        var pnl = 0.0
        rows.foreach { r =>
          r.event_type match {
            case "BUY" if !long => entry = r.price; long = true
            case "SELL" if long => pnl += r.price - entry; trades += 1; long = false
            case _ => // already long on BUY / flat on SELL: ignore
          }
        }
        Iterator.single(BacktestResult(pair, trades, pnl, long))
      }
  }

  def trades(signals: DataFrame): Dataset[TradeRow] = {
    val spark = signals.sparkSession
    import spark.implicits._
    signals.select($"pair", $"event_datetime".as("time"), $"event_type", $"price")
      .as[SignalRow]
      .groupByKey(_.pair)
      .flatMapSortedGroups($"time", $"event_type") { (pair, rows) =>
        val out = Vector.newBuilder[TradeRow]
        var entryTime: Timestamp = null
        var entry = 0.0
        var long = false
        var n = 0
        rows.foreach { r =>
          r.event_type match {
            case "BUY" if !long =>
              entryTime = r.time; entry = r.price; long = true
            case "SELL" if long =>
              n += 1
              out += TradeRow(pair, n, entryTime, entry,
                Some(r.time), Some(r.price), Some(r.price - entry))
              long = false
            case _ => // already long on BUY / flat on SELL: ignore
          }
        }
        if (long) out += TradeRow(pair, n + 1, entryTime, entry, None, None, None)
        out.result().iterator
      }
  }

  def tradesSized(signals: DataFrame, notional: Double,
                  feeRate: Double): Dataset[SizedTradeRow] = {
    require(notional > 0, s"notional must be positive, got $notional")
    require(feeRate >= 0, s"feeRate must be non-negative, got $feeRate")
    val spark = signals.sparkSession
    import spark.implicits._
    signals.select($"pair", $"event_datetime".as("time"), $"event_type", $"price")
      .as[SignalRow]
      .groupByKey(_.pair)
      .flatMapSortedGroups($"time", $"event_type") { (pair, rows) =>
        val out = Vector.newBuilder[SizedTradeRow]
        var entryTime: Timestamp = null
        var entry = 0.0
        var long = false
        var n = 0
        rows.foreach { r =>
          r.event_type match {
            case "BUY" if !long =>
              entryTime = r.time; entry = r.price; long = true
            case "SELL" if long =>
              n += 1
              val qty = notional / entry
              val gross = qty * (r.price - entry)
              val fee = feeRate * qty * (entry + r.price)
              out += SizedTradeRow(pair, n, entryTime, entry, qty,
                Some(r.time), Some(r.price), Some(gross), Some(fee),
                Some(gross - fee))
              long = false
            case _ => // already long on BUY / flat on SELL: ignore
          }
        }
        if (long)
          out += SizedTradeRow(pair, n + 1, entryTime, entry, notional / entry,
            None, None, None, None, None)
        out.result().iterator
      }
  }

  def tradesStopped(signals: DataFrame, candles: DataFrame,
                    slPct: Double, tpPct: Double): Dataset[StopTradeRow] = {
    require(slPct > 0 && tpPct > 0, s"sl/tp must be positive, got $slPct/$tpPct")
    val spark = signals.sparkSession
    import spark.implicits._
    val slMult = 1.0 - slPct
    val tpMult = 1.0 + tpPct
    val ev = signals.select($"pair", $"event_datetime".as("time"),
      when($"event_type" === "BUY", 1).otherwise(2).as("kind"),
      $"price".as("px"))
    val cd = candles.select($"pair", $"time", lit(0).as("kind"), $"close".as("px"))
    cd.unionByName(ev).as[MergedRow]
      .groupByKey(_.pair)
      .flatMapSortedGroups($"time", $"kind") { (pair, rows) =>
        val out = Vector.newBuilder[StopTradeRow]
        var entryTime: Timestamp = null
        var entry = 0.0
        var long = false
        var n = 0
        rows.foreach { r =>
          if (!long) {
            if (r.kind == 1) { entryTime = r.time; entry = r.px; long = true }
          } else {
            val reason =
              if (r.kind == 0) {
                if (r.px <= entry * slMult) "SL"
                else if (r.px >= entry * tpMult) "TP"
                else null
              } else if (r.kind == 2) "SIG"
              else null
            if (reason != null) {
              n += 1
              out += StopTradeRow(pair, n, entryTime, entry,
                Some(r.time), Some(r.px), Some(reason), Some(r.px - entry))
              long = false
            }
          }
        }
        if (long)
          out += StopTradeRow(pair, n + 1, entryTime, entry, None, None, None, None)
        out.result().iterator
      }
  }

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
        val out = Vector.newBuilder[LiveTradeFold]
        var open = false
        var entryT: Timestamp = null
        var entryP = 0.0
        var n = 0L
        var last: Timestamp = null
        var frontier: Timestamp = null
        var sigSeen = false
        rows.foreach { e =>
          if (e.kind == 0) {
            // a signal sorting BEFORE the state row is strictly earlier
            // than the frontier — caught here via sigSeen
            require(!sigSeen,
              s"signal at or before the folded frontier for $pair/$tf — " +
                "the live ordering contract broke; refusing to re-pair history")
            open = e.open; entryT = e.entry_time; entryP = e.entry_price
            n = e.n_closed; last = e.time; frontier = e.time
          } else {
            sigSeen = true
            // a signal AT the frontier sorts after the kind-0 state row
            // (same time, kind 1 > 0) — catch the equality case here so
            // "at or before" fails loudly as documented, not just "before"
            require(frontier == null || e.time.after(frontier),
              s"signal at or before the folded frontier for $pair/$tf — " +
                "the live ordering contract broke; refusing to re-pair history")
            e.event_type match {
              case "BUY" if !open =>
                open = true; entryT = e.time; entryP = e.price
              case "SELL" if open =>
                n += 1
                out += LiveTradeFold(pair, tf, is_state = false, n,
                  entryT, entryP, Some(e.time), Some(e.price),
                  Some(e.price - entryP), open = false, n, e.time)
                open = false; entryT = null; entryP = 0.0
              case _ => // already long on BUY / flat on SELL: ignore
            }
            last = e.time
          }
        }
        out += LiveTradeFold(pair, tf, is_state = true, 0L,
          entryT, entryP, None, None, None, open, n, last)
        out.result().iterator
      }
  }

  def tradesStoppedIncremental(state: DataFrame, signals: DataFrame,
                               candles: DataFrame, slPct: Double,
                               tpPct: Double): Dataset[LiveStopFold] = {
    require(slPct > 0 && tpPct > 0, s"sl/tp must be positive, got $slPct/$tpPct")
    val spark = signals.sparkSession
    import spark.implicits._
    val slMult = 1.0 - slPct
    val tpMult = 1.0 + tpPct
    def pad(kind: Column, time: Column, px: Column)(df: DataFrame,
        pairC: Column, tfC: Column) =
      df.select(pairC.as("pair"), tfC.as("timeframe"), kind.as("kind"),
        time.as("time"), px.as("px"),
        lit(null).cast("timestamp").as("entry_time"),
        lit(0.0).as("entry_price"), lit(0L).as("n_closed"), lit(false).as("open"))
    val sigEv = pad(when(col("event_type") === "BUY", 1).otherwise(2),
      col("event_datetime"), col("price"))(
      signals, col("pair"), col("trigger_indicator_timeframe"))
    val cdEv = pad(lit(0), col("time"), col("close"))(
      candles, col("pair"), col("timeframe"))
    val stEv = state.select(col("pair"), col("timeframe"),
      lit(-1).as("kind"), col("last_time").as("time"), lit(0.0).as("px"),
      col("entry_time"), col("entry_price"), col("n_closed"), col("open"))
    sigEv.unionByName(cdEv).unionByName(stEv).as[LiveStopEvent]
      .groupByKey(e => (e.pair, e.timeframe))
      .flatMapSortedGroups($"time", $"kind") { case ((pair, tf), rows) =>
        val out = Vector.newBuilder[LiveStopFold]
        var open = false
        var entryT: Timestamp = null
        var entryP = 0.0
        var n = 0L
        var last: Timestamp = null
        var frontier: Timestamp = null
        var evSeen = false
        rows.foreach { e =>
          if (e.kind == -1) {
            require(!evSeen,
              s"event at or before the folded frontier for $pair/$tf — " +
                "the live ordering contract broke; refusing to re-fold history")
            open = e.open; entryT = e.entry_time; entryP = e.entry_price
            n = e.n_closed; last = e.time; frontier = e.time
          } else {
            evSeen = true
            require(frontier == null || e.time.after(frontier),
              s"event at or before the folded frontier for $pair/$tf — " +
                "the live ordering contract broke; refusing to re-fold history")
            if (!open) {
              if (e.kind == 1) { open = true; entryT = e.time; entryP = e.px }
            } else {
              val reason =
                if (e.kind == 0) {
                  if (e.px <= entryP * slMult) "SL"
                  else if (e.px >= entryP * tpMult) "TP"
                  else null
                } else if (e.kind == 2) "SIG"
                else null
              if (reason != null) {
                n += 1
                out += LiveStopFold(pair, tf, is_state = false, n,
                  entryT, entryP, Some(e.time), Some(e.px), Some(reason),
                  Some(e.px - entryP), open = false, n, e.time)
                open = false; entryT = null; entryP = 0.0
              }
            }
            last = e.time
          }
        }
        out += LiveStopFold(pair, tf, is_state = true, 0L,
          entryT, entryP, None, None, None, None, open, n, last)
        out.result().iterator
      }
  }
}
