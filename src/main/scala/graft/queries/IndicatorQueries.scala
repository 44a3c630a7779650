package graft.queries

import graft.operators.{Indicators, Signals}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver-checkable queries for indicators (U1-U3) and SMA-cross signals
  * (J1+W1) over the canonical event-derived 1m candles.
  *
  * SMA is oracle-checked (expressible as a DuckDB frame aggregate); values
  * are rounded to 6 decimals on both sides because the two engines sum the
  * window in different orders (Spark sequential, DuckDB segment tree) and can
  * differ in the last ulp. EMA/RSI are recursive (TA-Lib semantics) with no
  * frame-aggregate form — their oracles are DuckDB *recursive CTEs* that run
  * the identical sequential recurrence (same double ops in the same order ⇒
  * bit-identical values, including the seed accumulation), stepping one row
  * per pair per iteration.
  */
object IndicatorQueries {

  import TradingQueries.{c1mCte, candles1m, dedupCte, ticksCte}

  private val prelude = s"WITH $ticksCte, $dedupCte, $c1mCte"

  private def smaSelect(p: Int): String =
    s"""SELECT pair, '1m' AS timeframe, epoch(time)::BIGINT AS time_s, $p AS period,
       |       CASE WHEN row_number() OVER (PARTITION BY pair ORDER BY time) >= $p
       |            THEN round((avg(close) OVER (PARTITION BY pair ORDER BY time
       |                 ROWS BETWEEN ${p - 1} PRECEDING AND CURRENT ROW))::VARCHAR::DECIMAL(38,23), 6)::DOUBLE
       |       END AS value
       |FROM c1m""".stripMargin

  private def indOut(df: DataFrame): DataFrame =
    df.select(col("pair"), col("timeframe"), unix_timestamp(col("time")).as("time_s"),
      col("period"), round(col("value"), 6).as("value"))

  private def signalOut(df: DataFrame): DataFrame =
    df.select(col("pair"), unix_timestamp(col("event_datetime")).as("time_s"),
      col("event_type"), round(col("price"), 6).as("price"),
      col("trigger_indicator_period").as("period"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "u42_tsi_25_13_1m" -> ((s, d) => indOut(Indicators.tsi(candles1m(s, d)).toDF())),
    // the dual-stack recursion on RESAMPLED bars (two aggregations feed it)
    "u42b_tsi_30m" -> ((s, d) => indOut(Indicators.tsi(
      graft.operators.Ohlc.resample(candles1m(s, d),
        graft.model.Timeframe.byCode("30m"))).toDF())),
    "u43_kst_1m" -> ((s, d) => indOut(Indicators.kst(candles1m(s, d)))),
    "u44_stochrsi_14_1m" -> ((s, d) => indOut(Indicators.stochRsi(candles1m(s, d)))),
    "u45_ppo_1m" -> ((s, d) => indOut(Indicators.ppo(candles1m(s, d)).toDF())),
    "u48_bop_14_1m" -> ((s, d) => indOut(Indicators.bop(candles1m(s, d), 14))),
    "u49_stc_1m" -> ((s, d) => indOut(Indicators.stc(candles1m(s, d)).toDF())),
    "u47_klinger_1m" -> ((s, d) => indOut(Indicators.klinger(
      graft.operators.Ohlc.ohlcBaseWithVol(TradingQueries.ticks(s, d))).toDF())),
    "u46_vhf_28_1m" -> ((s, d) => indOut(Indicators.vhf(candles1m(s, d), 28))),
    "u40_ulcer_14_1m" -> ((s, d) => indOut(Indicators.ulcer(candles1m(s, d), 14))),
    "u41_cmo_14_1m" -> ((s, d) => indOut(Indicators.cmo(candles1m(s, d), 14))),
    "w23_var_100_1m" -> ((s, d) =>
      Indicators.rollingVar(candles1m(s, d), window = 100, m = 5)
        .select(col("pair"), col("timeframe"), unix_timestamp(col("time")).as("time_s"),
          col("window"), col("m"), col("var_m"))),
    "u38_dpo_20_1m" -> ((s, d) => indOut(Indicators.dpo(candles1m(s, d), 20))),
    "u39_mass_9_1m" -> ((s, d) => indOut(Indicators.massIndex(candles1m(s, d)))),
    "u36_pvo_1m" -> ((s, d) =>
      indOut(Indicators.pvo(
        graft.operators.Ohlc.ohlcBaseWithVol(TradingQueries.ticks(s, d))).toDF())),
    "u37_eom_14_1m" -> ((s, d) =>
      indOut(Indicators.eom(
        graft.operators.Ohlc.ohlcBaseWithVol(TradingQueries.ticks(s, d)), 14))),
    "u35_chaikin_1m" -> ((s, d) =>
      indOut(Indicators.chaikin(
        graft.operators.Ohlc.ohlcBaseWithVol(TradingQueries.ticks(s, d))).toDF())),
    "u29_awesome_1m" -> ((s, d) =>
      Indicators.awesome(candles1m(s, d))
        .select(col("pair"), col("timeframe"), unix_timestamp(col("time")).as("time_s"),
          round(col("value"), 6).as("value"))),
    "u30_cmf_20_1m" -> ((s, d) =>
      indOut(Indicators.cmf(
        graft.operators.Ohlc.ohlcBaseWithVol(TradingQueries.ticks(s, d)), 20))),
    "u31_adline_1m" -> ((s, d) =>
      Indicators.adLine(
        graft.operators.Ohlc.ohlcBaseWithVol(TradingQueries.ticks(s, d)))
        .select(col("pair"), col("timeframe"), unix_timestamp(col("time")).as("time_s"),
          round(col("close"), 6).as("close"), col("vol"),
          round(col("ad"), 6).as("ad"))),
    "u32_force_13_1m" -> ((s, d) =>
      indOut(Indicators.forceIndex(
        graft.operators.Ohlc.ohlcBaseWithVol(TradingQueries.ticks(s, d)), 13).toDF())),
    "u33_hma_9_1m" -> ((s, d) => indOut(Indicators.hullMa(candles1m(s, d), 9))),
    "u34_coppock_1m" -> ((s, d) =>
      Indicators.coppock(candles1m(s, d))
        .select(col("pair"), col("timeframe"), unix_timestamp(col("time")).as("time_s"),
          round(col("value"), 6).as("value"))),
    "w21_fractals_1m" -> ((s, d) =>
      Indicators.fractals(candles1m(s, d), 2)
        .select(col("pair"), col("timeframe"), unix_timestamp(col("time")).as("time_s"),
          col("up_fractal"), col("down_fractal"),
          round(col("high"), 6).as("high"), round(col("low"), 6).as("low"))),
    "w19_realized_vol" -> ((s, d) => Indicators.realizedVol(candles1m(s, d))),
    "u28_elder_ray_13_1m" -> ((s, d) =>
      Indicators.elderRay(candles1m(s, d), 13)
        .select(col("pair"), col("timeframe"), unix_timestamp(col("time")).as("time_s"),
          col("period"), round(col("bull"), 6).as("bull"),
          round(col("bear"), 6).as("bear"))),
    "w20_zigzag_10_1m" -> ((s, d) =>
      Indicators.zigzag(candles1m(s, d), rev = 0.1).toDF()
        .select(col("pair"), col("timeframe"), col("pivot_no"),
          unix_timestamp(col("time")).as("time_s"), col("kind"),
          round(col("price"), 6).as("price"),
          unix_timestamp(col("confirm_time")).as("confirm_s"))),
    "w18_renko_50_1m" -> ((s, d) =>
      Indicators.renko(candles1m(s, d), brick = 50.0).toDF()
        .select(col("pair"), col("timeframe"), unix_timestamp(col("time")).as("time_s"),
          col("brick_no"), col("dir"), round(col("open"), 6).as("open"),
          round(col("close"), 6).as("close"))),
    "u25_linreg_20_1m" -> ((s, d) =>
      Indicators.linreg(candles1m(s, d), 20)
        .select(col("pair"), col("timeframe"), unix_timestamp(col("time")).as("time_s"),
          col("period"), round(col("slope"), 6).as("slope"),
          round(col("forecast"), 6).as("forecast"))),
    "u21_trix_15_1m" -> ((s, d) => indOut(Indicators.trix(candles1m(s, d), 15).toDF())),
    "u22_kama_10_1m" -> ((s, d) => indOut(Indicators.kama(candles1m(s, d), 10).toDF())),
    "u26_dema_10_1m" -> ((s, d) => indOut(Indicators.dema(candles1m(s, d), 10).toDF())),
    "u27_tema_10_1m" -> ((s, d) => indOut(Indicators.tema(candles1m(s, d), 10).toDF())),
    "u23_vortex_14_1m" -> ((s, d) =>
      Indicators.vortex(candles1m(s, d), 14)
        .select(col("pair"), col("timeframe"), unix_timestamp(col("time")).as("time_s"),
          col("period"), round(col("vi_plus"), 6).as("vi_plus"),
          round(col("vi_minus"), 6).as("vi_minus"))),
    "u24_ultosc_1m" -> ((s, d) =>
      indOut(Indicators.ultimateOscillator(candles1m(s, d)))),
    "u1_sma_14_1m" -> ((s, d) => indOut(Indicators.sma(candles1m(s, d), 14))),
    "u1_sma_multi" -> ((s, d) => {
      val c = candles1m(s, d)
      indOut(Indicators.sma(c, 14).unionByName(Indicators.sma(c, 28)))
    }),
    "u2_ema_14_1m" -> ((s, d) => indOut(Indicators.ema(candles1m(s, d), 14).toDF())),
    "u3_rsi_14_1m" -> ((s, d) => indOut(Indicators.rsi(candles1m(s, d), 14).toDF())),
    // derived-timeframe composition (reference transform.py:79-121 grid):
    // the recursive fold runs on RESAMPLED bars, so every input close has
    // come through TWO aggregations (tick→1m candling, 1m→tf resample)
    "u2b_ema_14_4h" -> ((s, d) => indOut(Indicators.ema(
      graft.operators.Ohlc.resample(candles1m(s, d),
        graft.model.Timeframe.byCode("4h")), 14).toDF())),
    "u3b_rsi_14_30m" -> ((s, d) => indOut(Indicators.rsi(
      graft.operators.Ohlc.resample(candles1m(s, d),
        graft.model.Timeframe.byCode("30m")), 14).toDF())),
    // F3: the reference's 45-task indicator fan-out as ONE unioned plan —
    // {RSI,SMA,EMA} × {14,28} × {1m,5m} through Flows.indicatorFlow (P12
    // config-driven), candled from raw ticks inside the flow itself
    "f3_indicator_grid" -> ((s, d) =>
      graft.operators.Flows.indicatorFlow(TradingQueries.ticks(s, d),
        new graft.Config(Map("DEFAULT_PERIODS" -> "14,28",
          "DEFAULT_TIMEFRAMES" -> "1m,5m")))
        .select(col("indicator"), col("pair"), col("timeframe"),
          unix_timestamp(col("time")).as("time_s"), col("period"),
          round(col("value"), 6).as("value"))),
    // the grid's FAR corner — long periods on coarse derived bars, where a
    // close reaches the recursion through two aggregations and the warm-up
    // spans hours of base data ({RSI,SMA,EMA} × {14,56} × {30m,4h})
    "f3b_indicator_grid_wide" -> ((s, d) =>
      graft.operators.Flows.indicatorFlow(TradingQueries.ticks(s, d),
        new graft.Config(Map("DEFAULT_PERIODS" -> "14,56",
          "DEFAULT_TIMEFRAMES" -> "30m,4h")))
        .select(col("indicator"), col("pair"), col("timeframe"),
          unix_timestamp(col("time")).as("time_s"), col("period"),
          round(col("value"), 6).as("value"))),
    // the reference's FULL default grid, literally replayed: {RSI,SMA,EMA}
    // × {14,28,56} × {1m,5m,30m,1h,4h} = 45 Prefect tasks
    // (reference: src/etl/flows/transform.py:79-121, src/config/config.py:
    // 18-19) as ONE fused plan under the stock Config defaults — the
    // candles are exchanged once for all 45 combos, not once per task
    "f3c_indicator_grid_full" -> ((s, d) =>
      graft.operators.Flows.indicatorFlow(TradingQueries.ticks(s, d),
        new graft.Config(Map.empty))
        .select(col("indicator"), col("pair"), col("timeframe"),
          unix_timestamp(col("time")).as("time_s"), col("period"),
          round(col("value"), 6).as("value"))),
    // S8 at the fused-grid shape (E2 as the reference's production loop
    // runs it, transform_services.py:146-182, but over ONE plan instead of
    // 45 tasks): the previous run persisted the grid facts AND a per-cell
    // fold-state snapshot; the incremental run folds ONLY candles past the
    // per-key watermark with each (indicator,period) machine restored from
    // its snapshot, then merges first-write-wins. Resume is BIT-exact (no
    // truncated-warm-up approximation), so the oracle is the PLAIN f3
    // grid — incremental ≡ full is exactly what the hash match proves.
    "s8j_incremental_grid" -> ((s, d) => {
      val inds = Seq("RSI", "SMA", "EMA")
      val ps = Seq(14, 28)
      val cfg = new graft.Config(Map("DEFAULT_PERIODS" -> "14,28",
        "DEFAULT_TIMEFRAMES" -> "1m,5m"))
      val candAll = graft.operators.Flows.candleFlow(TradingQueries.ticks(s, d), cfg)
      // the prior run's world: every bar strictly before the cutoff (the
      // cutoff sits on a bar boundary of every configured timeframe, so
      // prefix bars are final — never partial)
      val candPrefix = candAll.filter(col("time") < lit(PipelineQueries.Cutoff))
      val existing = Indicators.indicatorFactsFused(candPrefix, inds, ps)
      val state = Indicators.indicatorGridSnapshot(candPrefix, inds, ps)
      // one watermark per (pair, timeframe): bounded, so pinned broadcast
      // (its input descends from the candle flow's explode)
      val wms = graft.operators.Incremental.watermarks(existing)
      val tail = candAll.join(broadcast(wms), Seq("pair", "timeframe"), "left")
        .filter(col("watermark").isNull || col("time") > col("watermark"))
        .drop("watermark")
      val merged = existing.unionByName(
        Indicators.indicatorFactsFusedResume(tail, inds, ps, state))
      merged.select(col("indicator"), col("pair"), col("timeframe"),
        unix_timestamp(col("time")).as("time_s"), col("period"),
        round(col("value"), 6).as("value"))
    }),
    "u5_macd_1m" -> ((s, d) =>
      Indicators.macd(candles1m(s, d)).toDF()
        .select(col("pair"), col("timeframe"), unix_timestamp(col("time")).as("time_s"),
          round(col("macd"), 6).as("macd"), round(col("signal"), 6).as("signal"),
          round(col("hist"), 6).as("hist"))),
    "u6_bollinger_20_1m" -> ((s, d) =>
      Indicators.bollinger(candles1m(s, d), 20)
        .select(col("pair"), col("timeframe"), unix_timestamp(col("time")).as("time_s"),
          col("period"), round(col("mid"), 6).as("mid"),
          round(col("upper"), 6).as("upper"), round(col("lower"), 6).as("lower"))),
    "u7_atr_14_1m" -> ((s, d) => indOut(Indicators.atr(candles1m(s, d), 14).toDF())),
    "u8_stoch_14_1m" -> ((s, d) =>
      Indicators.stochastic(candles1m(s, d), 14)
        .select(col("pair"), col("timeframe"), unix_timestamp(col("time")).as("time_s"),
          col("period"), round(col("k"), 6).as("k"), round(col("d"), 6).as("d"))),
    "u9_williams_r_14_1m" -> ((s, d) => indOut(Indicators.williamsR(candles1m(s, d), 14))),
    "u10_donchian_20_1m" -> ((s, d) =>
      Indicators.donchian(candles1m(s, d), 20)
        .select(col("pair"), col("timeframe"), unix_timestamp(col("time")).as("time_s"),
          col("period"), round(col("upper"), 6).as("upper"),
          round(col("mid"), 6).as("mid"), round(col("lower"), 6).as("lower"))),
    "u11_roc_10_1m" -> ((s, d) => indOut(Indicators.roc(candles1m(s, d), 10))),
    "u12_mfi_14_1m" -> ((s, d) =>
      indOut(Indicators.mfi(
        graft.operators.Ohlc.ohlcBaseWithVol(TradingQueries.ticks(s, d)), 14))),
    "u13_adx_14_1m" -> ((s, d) =>
      Indicators.adx(candles1m(s, d), 14).toDF()
        .select(col("pair"), col("timeframe"), unix_timestamp(col("time")).as("time_s"),
          lit(14).as("period"), round(col("pdi"), 6).as("pdi"),
          round(col("ndi"), 6).as("ndi"), round(col("adx"), 6).as("adx"))),
    "u15_cci_20_1m" -> ((s, d) => indOut(Indicators.cci(candles1m(s, d), 20))),
    "u20_chandelier_1m" -> ((s, d) =>
      Indicators.chandelier(candles1m(s, d), period = 22, mult = 3.0)
        .filter(col("long_stop").isNotNull) // oracle emits ATR-warm rows only
        .select(col("pair"), col("timeframe"), unix_timestamp(col("time")).as("time_s"),
          col("period"), round(col("long_stop"), 6).as("long_stop"),
          round(col("short_stop"), 6).as("short_stop"))),
    "u19_aroon_14_1m" -> ((s, d) =>
      Indicators.aroon(candles1m(s, d), 14)
        .filter(col("aroon_up").isNotNull) // oracle emits full-frame rows only
        .select(col("pair"), col("timeframe"), unix_timestamp(col("time")).as("time_s"),
          col("period"), round(col("aroon_up"), 6).as("aroon_up"),
          round(col("aroon_down"), 6).as("aroon_down"))),
    "u18_supertrend_1m" -> ((s, d) =>
      Indicators.supertrend(candles1m(s, d), period = 10, mult = 3.0)
        .filter(col("value").isNotNull) // oracle emits warm rows only
        .select(col("pair"), col("timeframe"), unix_timestamp(col("time")).as("time_s"),
          round(col("value"), 6).as("value"), col("dir_up"))),
    "u17_sar_1m" -> ((s, d) =>
      Indicators.sar(candles1m(s, d))
        .select(col("pair"), col("timeframe"), unix_timestamp(col("time")).as("time_s"),
          round(col("value"), 6).as("value"))),
    "u16_keltner_1m" -> ((s, d) =>
      Indicators.keltner(candles1m(s, d), emaPeriod = 20, atrPeriod = 10)
        .select(col("pair"), col("timeframe"), unix_timestamp(col("time")).as("time_s"),
          round(col("mid"), 6).as("mid"), round(col("upper"), 6).as("upper"),
          round(col("lower"), 6).as("lower"))),
    "u14_ichimoku_1m" -> ((s, d) =>
      Indicators.ichimoku(candles1m(s, d))
        .select(col("pair"), col("timeframe"), unix_timestamp(col("time")).as("time_s"),
          round(col("tenkan"), 6).as("tenkan"), round(col("kijun"), 6).as("kijun"),
          round(col("senkou_a"), 6).as("senkou_a"),
          round(col("senkou_b"), 6).as("senkou_b"),
          round(col("chikou"), 6).as("chikou"))),
    "w1_golden_cross" -> ((s, d) =>
      signalOut(Signals.goldenCross(Indicators.indicatorFacts(candles1m(s, d), Seq("SMA"), Seq(14, 28)), 14, 28))),
    "w1_dead_cross" -> ((s, d) =>
      signalOut(Signals.deadCross(Indicators.indicatorFacts(candles1m(s, d), Seq("SMA"), Seq(14, 28)), 14, 28))))

  private def crossSql(op1: String, op2: String, eventType: String): String =
    s"""$prelude,
       |sma AS (
       |  SELECT pair, time,
       |         CASE WHEN row_number() OVER (PARTITION BY pair ORDER BY time) >= 14
       |              THEN avg(close) OVER (PARTITION BY pair ORDER BY time
       |                   ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) END AS s14,
       |         CASE WHEN row_number() OVER (PARTITION BY pair ORDER BY time) >= 28
       |              THEN avg(close) OVER (PARTITION BY pair ORDER BY time
       |                   ROWS BETWEEN 27 PRECEDING AND CURRENT ROW) END AS s28
       |  FROM c1m
       |),
       |x AS (
       |  SELECT pair, time, s14, s28,
       |         lag(s14) OVER (PARTITION BY pair ORDER BY time) AS ps,
       |         lag(s28) OVER (PARTITION BY pair ORDER BY time) AS pl
       |  FROM sma
       |)
       |SELECT pair, epoch(time)::BIGINT AS time_s, '$eventType' AS event_type,
       |       round((s14)::VARCHAR::DECIMAL(38,23), 6)::DOUBLE AS price, 14 AS period
       |FROM x WHERE ps $op1 pl AND s14 $op2 s28""".stripMargin

  /** Candle source CTE exposing `(pair, ts, close)` for a timeframe: the
    * 1m base, or its A2 epoch-floor resample (derived-timeframe close =
    * the bucket's LAST 1m close — [[graft.operators.Ohlc.resample]]). */
  private def tfCloseCte(name: String, tf: String, d: Int): String =
    if (tf == "1m")
      s"$name AS (SELECT pair, epoch(time)::BIGINT AS ts, close FROM c1m)"
    else
      s"""$name AS (
         |  SELECT pair, (epoch(time)::BIGINT // $d) * $d AS ts,
         |         max_by(close, time) AS close
         |  FROM c1m GROUP BY 1, 2)""".stripMargin

  /** Recursive-CTE EMA oracle replicating [[graft.operators.Indicators.ema]]
    * step-for-step: accumulate the seed sum over the first `p-1` closes,
    * seed with `(sum+close)/p` at row `p`, then `(close-prev)*k + prev`.
    * `tf`/`d` select the candle timeframe (the F3 grid's A2→U2
    * composition: a derived bar's close arrives through two aggregations). */
  private def emaSql(p: Int, tf: String = "1m", d: Int = 60): String =
    s"""WITH RECURSIVE $ticksCte, $dedupCte, $c1mCte,
       |${tfCloseCte("b", tf, d)},
       |c AS MATERIALIZED (SELECT pair, ts, close,
       |             row_number() OVER (PARTITION BY pair ORDER BY ts) AS rn
       |      FROM b),
       |r AS (
       |  SELECT pair, rn, ts, close AS seed_sum, CAST(NULL AS DOUBLE) AS prev
       |  FROM c WHERE rn = 1
       |  UNION ALL
       |  SELECT c.pair, c.rn, c.ts,
       |         CASE WHEN c.rn < $p THEN r.seed_sum + c.close
       |              ELSE CAST(0.0 AS DOUBLE) END,
       |         CASE WHEN c.rn < $p THEN NULL
       |              WHEN c.rn = $p THEN (r.seed_sum + c.close) / $p
       |              ELSE (c.close - r.prev) * (2.0 / ${p + 1}) + r.prev END
       |  FROM r JOIN c ON c.pair = r.pair AND c.rn = r.rn + 1)
       |SELECT pair, '$tf' AS timeframe, ts AS time_s,
       |       $p AS period, round((prev)::VARCHAR::DECIMAL(38,23), 6)::DOUBLE AS value
       |FROM r""".stripMargin

  /** Recursive-CTE Wilder RSI oracle replicating
    * [[graft.operators.Indicators.rsi]]: simple-mean seed of the first `p`
    * gains/losses at row `p+1`, Wilder smoothing after. */
  private def rsiSql(p: Int, tf: String = "1m", d: Int = 60): String =
    s"""WITH RECURSIVE $ticksCte, $dedupCte, $c1mCte,
       |${tfCloseCte("b", tf, d)},
       |c AS MATERIALIZED (SELECT pair, ts, close,
       |             row_number() OVER (PARTITION BY pair ORDER BY ts) AS rn
       |      FROM b),
       |r AS (
       |  SELECT pair, rn, ts, close AS prev_close,
       |         CAST(0.0 AS DOUBLE) AS avg_gain, CAST(0.0 AS DOUBLE) AS avg_loss
       |  FROM c WHERE rn = 1
       |  UNION ALL
       |  SELECT c.pair, c.rn, c.ts, c.close,
       |         CASE WHEN c.rn <= $p
       |                THEN r.avg_gain + greatest(c.close - r.prev_close, 0.0)
       |              WHEN c.rn = ${p + 1}
       |                THEN (r.avg_gain + greatest(c.close - r.prev_close, 0.0)) / $p
       |              ELSE (r.avg_gain * ${p - 1}
       |                    + greatest(c.close - r.prev_close, 0.0)) / $p END,
       |         CASE WHEN c.rn <= $p
       |                THEN r.avg_loss + greatest(r.prev_close - c.close, 0.0)
       |              WHEN c.rn = ${p + 1}
       |                THEN (r.avg_loss + greatest(r.prev_close - c.close, 0.0)) / $p
       |              ELSE (r.avg_loss * ${p - 1}
       |                    + greatest(r.prev_close - c.close, 0.0)) / $p END
       |  FROM r JOIN c ON c.pair = r.pair AND c.rn = r.rn + 1)
       |SELECT pair, '$tf' AS timeframe, ts AS time_s,
       |       $p AS period,
       |       CASE WHEN rn > $p THEN
       |         CASE WHEN avg_gain + avg_loss = 0.0 THEN 0.0
       |              ELSE round((100.0 * avg_gain / (avg_gain + avg_loss))::VARCHAR::DECIMAL(38,23), 6)::DOUBLE END
       |       END AS value
       |FROM r""".stripMargin

  /** Recursive-CTE MACD oracle replicating [[graft.operators.Indicators.macd]]
    * step-for-step: both EMA seeds, the MACD difference, and the signal EMA
    * seeded over the first `sig` defined MACD values. The recursive term
    * computes the updated EMAs in a nested subquery so the MACD/signal
    * updates can reference them without re-deriving the expressions. */
  private def macdSql(fast: Int, slow: Int, sig: Int): String =
    s"""WITH RECURSIVE $ticksCte, $dedupCte, $c1mCte,
       |c AS MATERIALIZED (SELECT pair, time, close,
       |             row_number() OVER (PARTITION BY pair ORDER BY time) AS rn
       |      FROM c1m),
       |r AS (
       |  SELECT pair, rn, time,
       |         close AS sum_f, CAST(NULL AS DOUBLE) AS ema_f,
       |         close AS sum_s, CAST(NULL AS DOUBLE) AS ema_s,
       |         0 AS n_macd, CAST(0.0 AS DOUBLE) AS sum_g,
       |         CAST(NULL AS DOUBLE) AS sig, CAST(NULL AS DOUBLE) AS macd
       |  FROM c WHERE rn = 1
       |  UNION ALL
       |  SELECT pair, rn, time, sum_f, ema_f, sum_s, ema_s,
       |         CASE WHEN macd IS NULL THEN n0 ELSE n0 + 1 END AS n_macd,
       |         CASE WHEN macd IS NULL THEN g0
       |              WHEN n0 + 1 < $sig THEN g0 + macd
       |              ELSE CAST(0.0 AS DOUBLE) END AS sum_g,
       |         CASE WHEN macd IS NULL THEN sig0
       |              WHEN n0 + 1 < $sig THEN NULL
       |              WHEN n0 + 1 = $sig THEN (g0 + macd) / $sig
       |              ELSE (macd - sig0) * (2.0 / ${sig + 1}) + sig0 END AS sig,
       |         macd
       |  FROM (
       |    SELECT *, CASE WHEN rn >= $slow THEN ema_f - ema_s END AS macd
       |    FROM (
       |      SELECT c.pair, c.rn, c.time, c.close,
       |             r.n_macd AS n0, r.sum_g AS g0, r.sig AS sig0,
       |             CASE WHEN c.rn < $fast THEN r.sum_f + c.close
       |                  ELSE CAST(0.0 AS DOUBLE) END AS sum_f,
       |             CASE WHEN c.rn < $fast THEN NULL
       |                  WHEN c.rn = $fast THEN (r.sum_f + c.close) / $fast
       |                  ELSE (c.close - r.ema_f) * (2.0 / ${fast + 1}) + r.ema_f END AS ema_f,
       |             CASE WHEN c.rn < $slow THEN r.sum_s + c.close
       |                  ELSE CAST(0.0 AS DOUBLE) END AS sum_s,
       |             CASE WHEN c.rn < $slow THEN NULL
       |                  WHEN c.rn = $slow THEN (r.sum_s + c.close) / $slow
       |                  ELSE (c.close - r.ema_s) * (2.0 / ${slow + 1}) + r.ema_s END AS ema_s
       |      FROM r JOIN c ON c.pair = r.pair AND c.rn = r.rn + 1) t1) t2)
       |SELECT pair, '1m' AS timeframe, epoch(time)::BIGINT AS time_s,
       |       round((macd)::VARCHAR::DECIMAL(38,23), 6)::DOUBLE AS macd, round((sig)::VARCHAR::DECIMAL(38,23), 6)::DOUBLE AS signal,
       |       round((macd - sig)::VARCHAR::DECIMAL(38,23), 6)::DOUBLE AS hist
       |FROM r""".stripMargin

  /** Recursive-CTE Wilder ATR oracle replicating
    * [[graft.operators.Indicators.atr]]: TR from row 2 (needs the previous
    * close), simple-mean seed of the first `p` TRs at row `p+1`, Wilder
    * smoothing after. `greatest` of three doubles is an exact comparison —
    * nesting-order-free, so it matches the Scala `math.max` chain. */
  private def atrSql(p: Int): String =
    s"""WITH RECURSIVE $ticksCte, $dedupCte, $c1mCte,
       |c AS MATERIALIZED (SELECT pair, time, high, low, close,
       |             row_number() OVER (PARTITION BY pair ORDER BY time) AS rn
       |      FROM c1m),
       |r AS (
       |  SELECT pair, rn, time, close AS prev_close,
       |         CAST(0.0 AS DOUBLE) AS tr_sum, CAST(NULL AS DOUBLE) AS atr
       |  FROM c WHERE rn = 1
       |  UNION ALL
       |  SELECT pair, rn, time, close,
       |         CASE WHEN rn <= $p THEN tr_sum + tr
       |              ELSE CAST(0.0 AS DOUBLE) END,
       |         CASE WHEN rn <= $p THEN NULL
       |              WHEN rn = ${p + 1} THEN (tr_sum + tr) / $p
       |              ELSE (atr * ${p - 1} + tr) / $p END
       |  FROM (
       |    SELECT c.pair, c.rn, c.time, c.close, r.tr_sum, r.atr,
       |           greatest(c.high - c.low, abs(c.high - r.prev_close),
       |                    abs(c.low - r.prev_close)) AS tr
       |    FROM r JOIN c ON c.pair = r.pair AND c.rn = r.rn + 1) t)
       |SELECT pair, '1m' AS timeframe, epoch(time)::BIGINT AS time_s,
       |       $p AS period, round((atr)::VARCHAR::DECIMAL(38,23), 6)::DOUBLE AS value
       |FROM r""".stripMargin

  /** Chandelier-exit oracle: the atrSql recursion joined to frame
    * extremes; `hh − 3.0·atr` / `ll + 3.0·atr` spelled identically. */
  private def chandelierSql(p: Int, mult: String): String =
    s"""WITH RECURSIVE $ticksCte, $dedupCte, $c1mCte,
       |c AS MATERIALIZED (SELECT pair, time, high, low, close,
       |             row_number() OVER (PARTITION BY pair ORDER BY time) AS rn
       |      FROM c1m),
       |r AS (
       |  SELECT pair, rn, time, close AS prev_close,
       |         CAST(0.0 AS DOUBLE) AS tr_sum, CAST(NULL AS DOUBLE) AS atr
       |  FROM c WHERE rn = 1
       |  UNION ALL
       |  SELECT pair, rn, time, close,
       |         CASE WHEN rn <= $p THEN tr_sum + tr
       |              ELSE CAST(0.0 AS DOUBLE) END,
       |         CASE WHEN rn <= $p THEN NULL
       |              WHEN rn = ${p + 1} THEN (tr_sum + tr) / $p
       |              ELSE (atr * ${p - 1} + tr) / $p END
       |  FROM (
       |    SELECT c.pair, c.rn, c.time, c.close, r.tr_sum, r.atr,
       |           greatest(c.high - c.low, abs(c.high - r.prev_close),
       |                    abs(c.low - r.prev_close)) AS tr
       |    FROM r JOIN c ON c.pair = r.pair AND c.rn = r.rn + 1) t),
       |d AS MATERIALIZED (SELECT pair, time,
       |             max(high) OVER wf AS hh, min(low) OVER wf AS ll
       |      FROM c1m
       |      WINDOW wf AS (PARTITION BY pair ORDER BY time
       |                    ROWS BETWEEN ${p - 1} PRECEDING AND CURRENT ROW))
       |SELECT r.pair, '1m' AS timeframe, epoch(r.time)::BIGINT AS time_s,
       |       $p AS period,
       |       round((d.hh - $mult * r.atr)::VARCHAR::DECIMAL(38,23), 6)::DOUBLE AS long_stop,
       |       round((d.ll + $mult * r.atr)::VARCHAR::DECIMAL(38,23), 6)::DOUBLE AS short_stop
       |FROM r JOIN d ON d.pair = r.pair AND d.time = r.time
       |WHERE r.atr IS NOT NULL""".stripMargin

  /** Stochastic-oscillator oracle: window min/max mirror of
    * [[graft.operators.Indicators.stochastic]] — identical expression text
    * (and so identical IEEE operation order) on both engines. */
  /** CCI oracle — mirrors [[graft.operators.Indicators.cci]]'s
    * division-free exact-decimal form: every moment (window sum, the
    * per-element deviations against the CURRENT row's sum, their sum) is
    * exact decimal, so the list fold order is irrelevant; the one float
    * expression is spelled identically. */
  private def cciSql(p: Int): String =
    s"""$prelude,
       |b AS (
       |  SELECT pair, time,
       |         row_number() OVER w AS rn,
       |         CAST(round(((high + low + close) / 3.0)::VARCHAR::DECIMAL(38,23), 6) AS DECIMAL(18,6)) AS tpd,
       |         sum(CAST(round(((high + low + close) / 3.0)::VARCHAR::DECIMAL(38,23), 6) AS DECIMAL(18,6)))
       |           OVER wf AS sum_tp,
       |         list(CAST(round(((high + low + close) / 3.0)::VARCHAR::DECIMAL(38,23), 6) AS DECIMAL(18,6)))
       |           OVER wf AS arr
       |  FROM c1m
       |  WINDOW w AS (PARTITION BY pair ORDER BY time),
       |         wf AS (PARTITION BY pair ORDER BY time
       |                ROWS BETWEEN ${p - 1} PRECEDING AND CURRENT ROW)),
       |m AS (
       |  SELECT pair, time, rn, tpd, sum_tp,
       |         list_aggregate(list_transform(arr, x -> abs(x * $p - sum_tp)),
       |                        'sum') AS md_num
       |  FROM b)
       |SELECT pair, '1m' AS timeframe, epoch(time)::BIGINT AS time_s, $p AS period,
       |       CASE WHEN rn >= $p AND md_num <> 0
       |            THEN round((($p.0 * CAST(tpd * $p - sum_tp AS DOUBLE))
       |                 / (0.015 * CAST(md_num AS DOUBLE)))::VARCHAR::DECIMAL(38,23), 6)::DOUBLE END AS value
       |FROM m""".stripMargin

  /** Keltner oracle — the u2 EMA and u7 ATR recursive CTEs composed in one
    * statement, joined on the series row; band arithmetic spelled
    * identically to [[graft.operators.Indicators.keltner]]. */
  private def keltnerSql(ep: Int, ap: Int, mult: String): String =
    s"""WITH RECURSIVE $ticksCte, $dedupCte, $c1mCte,
       |c AS MATERIALIZED (SELECT pair, time, high, low, close,
       |             row_number() OVER (PARTITION BY pair ORDER BY time) AS rn
       |      FROM c1m),
       |re AS (
       |  SELECT pair, rn, time, close AS seed_sum, CAST(NULL AS DOUBLE) AS prev
       |  FROM c WHERE rn = 1
       |  UNION ALL
       |  SELECT c.pair, c.rn, c.time,
       |         CASE WHEN c.rn < $ep THEN re.seed_sum + c.close
       |              ELSE CAST(0.0 AS DOUBLE) END,
       |         CASE WHEN c.rn < $ep THEN NULL
       |              WHEN c.rn = $ep THEN (re.seed_sum + c.close) / $ep
       |              ELSE (c.close - re.prev) * (2.0 / ${ep + 1}) + re.prev END
       |  FROM re JOIN c ON c.pair = re.pair AND c.rn = re.rn + 1),
       |ra AS (
       |  SELECT pair, rn, time, close AS prev_close,
       |         CAST(0.0 AS DOUBLE) AS tr_sum, CAST(NULL AS DOUBLE) AS atr
       |  FROM c WHERE rn = 1
       |  UNION ALL
       |  SELECT pair, rn, time, close,
       |         CASE WHEN rn <= $ap THEN tr_sum + tr
       |              ELSE CAST(0.0 AS DOUBLE) END,
       |         CASE WHEN rn <= $ap THEN NULL
       |              WHEN rn = ${ap + 1} THEN (tr_sum + tr) / $ap
       |              ELSE (atr * ${ap - 1} + tr) / $ap END
       |  FROM (
       |    SELECT c.pair, c.rn, c.time, c.close, ra.tr_sum, ra.atr,
       |           greatest(c.high - c.low, abs(c.high - ra.prev_close),
       |                    abs(c.low - ra.prev_close)) AS tr
       |    FROM ra JOIN c ON c.pair = ra.pair AND c.rn = ra.rn + 1) t)
       |SELECT re.pair, '1m' AS timeframe, epoch(re.time)::BIGINT AS time_s,
       |       round((re.prev)::VARCHAR::DECIMAL(38,23), 6)::DOUBLE AS mid,
       |       round((re.prev + $mult * ra.atr)::VARCHAR::DECIMAL(38,23), 6)::DOUBLE AS upper,
       |       round((re.prev - $mult * ra.atr)::VARCHAR::DECIMAL(38,23), 6)::DOUBLE AS lower
       |FROM re JOIN ra ON re.pair = ra.pair AND re.rn = ra.rn""".stripMargin

  /** Parabolic SAR oracle — the full stop-and-reverse path (ratchet,
    * two-bar clamp, trend flip, af reset/step) replayed by a recursive
    * CTE carrying the identical 8-value state in the identical operation
    * order as [[graft.operators.Indicators.sar]]; every step is +, ×,
    * least/greatest and comparisons, so the whole path is bit-exact. */
  private def sarSql(afStep: String, afMax: String): String =
    s"""WITH RECURSIVE $ticksCte, $dedupCte, $c1mCte,
       |c AS MATERIALIZED (SELECT pair, time, high, low, close,
       |             row_number() OVER (PARTITION BY pair ORDER BY time) AS rn
       |      FROM c1m),
       |r AS (
       |  SELECT c2.pair, c2.rn, c2.time,
       |         (c2.close >= c1.close) AS up,
       |         CASE WHEN c2.close >= c1.close THEN c1.low ELSE c1.high END AS sar,
       |         CASE WHEN c2.close >= c1.close THEN c2.high ELSE c2.low END AS ep,
       |         CAST($afStep AS DOUBLE) AS af,
       |         c2.low AS pl1, c1.low AS pl2, c2.high AS ph1, c1.high AS ph2
       |  FROM c c1 JOIN c c2 ON c1.pair = c2.pair AND c1.rn = 1 AND c2.rn = 2
       |  UNION ALL
       |  SELECT pair, rn, time,
       |         CASE WHEN flip THEN NOT up ELSE up END,
       |         CASE WHEN flip THEN ep ELSE s1 END,
       |         CASE WHEN flip AND up THEN low
       |              WHEN flip THEN high
       |              WHEN up AND high > ep THEN high
       |              WHEN NOT up AND low < ep THEN low
       |              ELSE ep END,
       |         CASE WHEN flip THEN CAST($afStep AS DOUBLE)
       |              WHEN up AND high > ep THEN least(af + $afStep, $afMax)
       |              WHEN NOT up AND low < ep THEN least(af + $afStep, $afMax)
       |              ELSE af END,
       |         low, pl1, high, ph1
       |  FROM (
       |    SELECT r.pair, c.rn, c.time, r.up, r.ep, r.af, r.pl1, r.ph1,
       |           c.low, c.high,
       |           CASE WHEN r.up
       |                THEN c.low < least(r.sar + r.af * (r.ep - r.sar), r.pl1, r.pl2)
       |                ELSE c.high > greatest(r.sar + r.af * (r.ep - r.sar), r.ph1, r.ph2)
       |           END AS flip,
       |           CASE WHEN r.up
       |                THEN least(r.sar + r.af * (r.ep - r.sar), r.pl1, r.pl2)
       |                ELSE greatest(r.sar + r.af * (r.ep - r.sar), r.ph1, r.ph2)
       |           END AS s1
       |    FROM r JOIN c ON c.pair = r.pair AND c.rn = r.rn + 1) t)
       |SELECT pair, '1m' AS timeframe, epoch(time)::BIGINT AS time_s,
       |       round((sar)::VARCHAR::DECIMAL(38,23), 6)::DOUBLE AS value
       |FROM r""".stripMargin

  /** SuperTrend oracle — the atrSql recursion extended with the two band
    * ratchets and the direction flip, in the same operation order as
    * [[graft.operators.Indicators.supertrend]]. fub'/flb' are computed in
    * an inner layer because the flip test reads the UPDATED bands. */
  private def supertrendSql(p: Int, mult: String): String =
    s"""WITH RECURSIVE $ticksCte, $dedupCte, $c1mCte,
       |c AS MATERIALIZED (SELECT pair, time, high, low, close,
       |             row_number() OVER (PARTITION BY pair ORDER BY time) AS rn
       |      FROM c1m),
       |r AS (
       |  SELECT pair, rn, time, close AS prev_close,
       |         CAST(0.0 AS DOUBLE) AS tr_sum, CAST(NULL AS DOUBLE) AS atr,
       |         CAST(NULL AS DOUBLE) AS fub, CAST(NULL AS DOUBLE) AS flb,
       |         CAST(NULL AS BOOLEAN) AS dir_up
       |  FROM c WHERE rn = 1
       |  UNION ALL
       |  SELECT pair, rn, time, close,
       |         CASE WHEN rn <= $p THEN tr_sum + tr ELSE CAST(0.0 AS DOUBLE) END,
       |         atr2,
       |         fub2, flb2,
       |         CASE WHEN rn <= $p THEN NULL
       |              WHEN rn = ${p + 1} THEN close > fub2
       |              WHEN dir_up AND close < flb2 THEN FALSE
       |              WHEN NOT dir_up AND close > fub2 THEN TRUE
       |              ELSE dir_up END
       |  FROM (
       |    SELECT pair, rn, time, close, tr_sum, tr, dir_up, prev_close,
       |           atr2,
       |           CASE WHEN rn <= $p THEN NULL
       |                WHEN rn = ${p + 1} THEN (high + low) / 2.0 + $mult * atr2
       |                WHEN ((high + low) / 2.0 + $mult * atr2) < fub
       |                     OR prev_close > fub
       |                THEN (high + low) / 2.0 + $mult * atr2
       |                ELSE fub END AS fub2,
       |           CASE WHEN rn <= $p THEN NULL
       |                WHEN rn = ${p + 1} THEN (high + low) / 2.0 - $mult * atr2
       |                WHEN ((high + low) / 2.0 - $mult * atr2) > flb
       |                     OR prev_close < flb
       |                THEN (high + low) / 2.0 - $mult * atr2
       |                ELSE flb END AS flb2
       |    FROM (
       |      SELECT c.pair, c.rn, c.time, c.close, c.high, c.low,
       |             r.tr_sum, r.fub, r.flb, r.dir_up, r.prev_close,
       |             greatest(c.high - c.low, abs(c.high - r.prev_close),
       |                      abs(c.low - r.prev_close)) AS tr,
       |             CASE WHEN c.rn <= $p THEN NULL
       |                  WHEN c.rn = ${p + 1}
       |                  THEN (r.tr_sum + greatest(c.high - c.low,
       |                         abs(c.high - r.prev_close),
       |                         abs(c.low - r.prev_close))) / $p
       |                  ELSE (r.atr * ${p - 1} + greatest(c.high - c.low,
       |                         abs(c.high - r.prev_close),
       |                         abs(c.low - r.prev_close))) / $p END AS atr2
       |      FROM r JOIN c ON c.pair = r.pair AND c.rn = r.rn + 1) t1) t2)
       |SELECT pair, '1m' AS timeframe, epoch(time)::BIGINT AS time_s,
       |       round((CASE WHEN dir_up THEN flb ELSE fub END)::VARCHAR::DECIMAL(38,23), 6)::DOUBLE AS value,
       |       dir_up
       |FROM r WHERE rn > $p""".stripMargin

  private def stochSql(p: Int): String =
    s"""$prelude,
       |b AS (
       |  SELECT pair, time, close,
       |         row_number() OVER (PARTITION BY pair ORDER BY time) AS rn,
       |         max(high) OVER (PARTITION BY pair ORDER BY time
       |              ROWS BETWEEN ${p - 1} PRECEDING AND CURRENT ROW) AS hh,
       |         min(low) OVER (PARTITION BY pair ORDER BY time
       |              ROWS BETWEEN ${p - 1} PRECEDING AND CURRENT ROW) AS ll
       |  FROM c1m),
       |k AS (
       |  SELECT pair, time,
       |         CASE WHEN rn >= $p AND hh <> ll
       |              THEN (close - ll) * 100.0 / (hh - ll) END AS k
       |  FROM b),
       |d AS (
       |  SELECT pair, time, k,
       |         (k + lag(k, 1) OVER (PARTITION BY pair ORDER BY time)
       |            + lag(k, 2) OVER (PARTITION BY pair ORDER BY time)) / 3.0 AS d
       |  FROM k)
       |SELECT pair, '1m' AS timeframe, epoch(time)::BIGINT AS time_s,
       |       $p AS period, round((k)::VARCHAR::DECIMAL(38,23), 6)::DOUBLE AS k, round((d)::VARCHAR::DECIMAL(38,23), 6)::DOUBLE AS d
       |FROM d""".stripMargin

  private[queries] def bollingerSql(p: Int, width: String): String =
    s"""$prelude,
       |b AS (
       |  SELECT pair, time,
       |         row_number() OVER (PARTITION BY pair ORDER BY time) AS rn,
       |         sum(CAST(close AS DECIMAL(18,6))) OVER
       |           (PARTITION BY pair ORDER BY time
       |            ROWS BETWEEN ${p - 1} PRECEDING AND CURRENT ROW) AS sum_c,
       |         sum(CAST(close AS DECIMAL(18,6)) * CAST(close AS DECIMAL(18,6))) OVER
       |           (PARTITION BY pair ORDER BY time
       |            ROWS BETWEEN ${p - 1} PRECEDING AND CURRENT ROW) AS sum_sq
       |  FROM c1m)
       |SELECT pair, '1m' AS timeframe, epoch(time)::BIGINT AS time_s, $p AS period,
       |  CASE WHEN rn >= $p THEN round((CAST(sum_c AS DOUBLE) / $p)::VARCHAR::DECIMAL(38,23), 6)::DOUBLE END AS mid,
       |  CASE WHEN rn >= $p THEN round((CAST(sum_c AS DOUBLE) / $p
       |    + $width * sqrt(greatest(CAST(sum_sq AS DOUBLE) / $p
       |        - (CAST(sum_c AS DOUBLE) / $p) * (CAST(sum_c AS DOUBLE) / $p),
       |      CAST(0.0 AS DOUBLE))))::VARCHAR::DECIMAL(38,23), 6)::DOUBLE END AS upper,
       |  CASE WHEN rn >= $p THEN round((CAST(sum_c AS DOUBLE) / $p
       |    - $width * sqrt(greatest(CAST(sum_sq AS DOUBLE) / $p
       |        - (CAST(sum_c AS DOUBLE) / $p) * (CAST(sum_c AS DOUBLE) / $p),
       |      CAST(0.0 AS DOUBLE))))::VARCHAR::DECIMAL(38,23), 6)::DOUBLE END AS lower
       |FROM b""".stripMargin

  /** Williams %R oracle — identical expression text (⇒ identical IEEE
    * operation order) to [[graft.operators.Indicators.williamsR]]. */
  private def williamsSql(p: Int): String =
    s"""$prelude,
       |b AS (
       |  SELECT pair, time, close,
       |         row_number() OVER (PARTITION BY pair ORDER BY time) AS rn,
       |         max(high) OVER (PARTITION BY pair ORDER BY time
       |              ROWS BETWEEN ${p - 1} PRECEDING AND CURRENT ROW) AS hh,
       |         min(low) OVER (PARTITION BY pair ORDER BY time
       |              ROWS BETWEEN ${p - 1} PRECEDING AND CURRENT ROW) AS ll
       |  FROM c1m)
       |SELECT pair, '1m' AS timeframe, epoch(time)::BIGINT AS time_s, $p AS period,
       |       CASE WHEN rn >= $p AND hh <> ll
       |            THEN round(((close - hh) * 100.0 / (hh - ll))::VARCHAR::DECIMAL(38,23), 6)::DOUBLE END AS value
       |FROM b""".stripMargin

  /** Donchian oracle — min/max are order-free; the midpoint is the one
    * float op, spelled identically on both engines. */
  private def donchianSql(p: Int): String =
    s"""$prelude,
       |b AS (
       |  SELECT pair, time,
       |         row_number() OVER (PARTITION BY pair ORDER BY time) AS rn,
       |         max(high) OVER (PARTITION BY pair ORDER BY time
       |              ROWS BETWEEN ${p - 1} PRECEDING AND CURRENT ROW) AS hh,
       |         min(low) OVER (PARTITION BY pair ORDER BY time
       |              ROWS BETWEEN ${p - 1} PRECEDING AND CURRENT ROW) AS ll
       |  FROM c1m)
       |SELECT pair, '1m' AS timeframe, epoch(time)::BIGINT AS time_s, $p AS period,
       |       CASE WHEN rn >= $p THEN round((hh)::VARCHAR::DECIMAL(38,23), 6)::DOUBLE END AS upper,
       |       CASE WHEN rn >= $p THEN round(((hh + ll) / 2.0)::VARCHAR::DECIMAL(38,23), 6)::DOUBLE END AS mid,
       |       CASE WHEN rn >= $p THEN round((ll)::VARCHAR::DECIMAL(38,23), 6)::DOUBLE END AS lower
       |FROM b""".stripMargin

  private def rocSql(p: Int): String =
    s"""$prelude
       |SELECT pair, '1m' AS timeframe, epoch(time)::BIGINT AS time_s, $p AS period,
       |       CASE WHEN prevp IS NOT NULL AND prevp <> 0
       |            THEN round(((close / prevp - 1.0) * 100.0)::VARCHAR::DECIMAL(38,23), 6)::DOUBLE END AS value
       |FROM (SELECT pair, time, close,
       |             lag(close, $p) OVER (PARTITION BY pair ORDER BY time) AS prevp
       |      FROM c1m) t""".stripMargin

  /** MFI oracle mirror of [[graft.operators.Indicators.mfi]]: 3·TP and the
    * signed flows stay EXACT decimal end-to-end (DECIMAL(12,6) inputs keep
    * the tp3·vol product on DuckDB's int128 path — the w9/w11 width
    * lesson), so the only float op is the identical final division. */
  private def mfiSql(p: Int): String =
    s"""WITH $ticksCte, $dedupCte,
       |c1v AS (
       |  SELECT pair, date_trunc('minute', time) AS time,
       |         max(bid) AS high, min(bid) AS low,
       |         max_by(bid, time) AS close, count(*) AS vol
       |  FROM dedup GROUP BY 1, 2),
       |x AS (
       |  SELECT pair, time, vol,
       |         (high::DECIMAL(12,6) + low::DECIMAL(12,6) + close::DECIMAL(12,6)) AS tp3
       |  FROM c1v),
       |y AS (
       |  SELECT pair, time, vol, tp3,
       |         lag(tp3) OVER (PARTITION BY pair ORDER BY time) AS ptp,
       |         row_number() OVER (PARTITION BY pair ORDER BY time) AS rn
       |  FROM x),
       |f AS (
       |  SELECT pair, time, rn,
       |         CASE WHEN ptp IS NOT NULL AND tp3 > ptp
       |              THEN tp3 * vol::DECIMAL(9,0) END AS pf,
       |         CASE WHEN ptp IS NOT NULL AND tp3 < ptp
       |              THEN tp3 * vol::DECIMAL(9,0) END AS nf
       |  FROM y),
       |s AS (
       |  SELECT pair, time, rn,
       |         coalesce(CAST(sum(pf) OVER w AS DOUBLE), 0.0) AS pos,
       |         coalesce(CAST(sum(nf) OVER w AS DOUBLE), 0.0) AS neg
       |  FROM f
       |  WINDOW w AS (PARTITION BY pair ORDER BY time
       |               ROWS BETWEEN ${p - 1} PRECEDING AND CURRENT ROW))
       |SELECT pair, '1m' AS timeframe, epoch(time)::BIGINT AS time_s, $p AS period,
       |       CASE WHEN rn >= ${p + 1} AND pos + neg <> 0.0
       |            THEN round((100.0 * pos / (pos + neg))::VARCHAR::DECIMAL(38,23), 6)::DOUBLE END AS value
       |FROM s""".stripMargin

  /** Recursive-CTE Wilder ADX oracle replicating
    * [[graft.operators.Indicators.adx]] step-for-step: TR/±DM from row 2,
    * simple-mean seeds for the three smoothed series at row `p+1`, ±DI/DX
    * from row `p+1`, and the ADX's own mean seed over the first `p` DX
    * values at row `2p`. The recursive branch nests four subquery levels so
    * each derived value (tr/dm → smoothed → DI → DX → ADX) can reference
    * the previous level without re-deriving the expression — the same
    * double ops in the same order as the Scala fold ⇒ bit-identical. */
  private def adxSql(p: Int): String =
    s"""WITH RECURSIVE $ticksCte, $dedupCte, $c1mCte,
       |c AS MATERIALIZED (SELECT pair, time, high, low, close,
       |             row_number() OVER (PARTITION BY pair ORDER BY time) AS rn
       |      FROM c1m),
       |r AS (
       |  SELECT pair, rn, time, high AS ph, low AS pl, close AS pc,
       |         CAST(0.0 AS DOUBLE) AS tr_sum, CAST(0.0 AS DOUBLE) AS pdm_sum,
       |         CAST(0.0 AS DOUBLE) AS ndm_sum,
       |         CAST(NULL AS DOUBLE) AS s_tr, CAST(NULL AS DOUBLE) AS s_pdm,
       |         CAST(NULL AS DOUBLE) AS s_ndm,
       |         CAST(0.0 AS DOUBLE) AS dx_sum, CAST(NULL AS DOUBLE) AS adx,
       |         CAST(NULL AS DOUBLE) AS pdi, CAST(NULL AS DOUBLE) AS ndi
       |  FROM c WHERE rn = 1
       |  UNION ALL
       |  SELECT pair, rn, time, ph, pl, pc, tr_sum2, pdm_sum2, ndm_sum2,
       |         s_tr2, s_pdm2, s_ndm2,
       |         CASE WHEN rn >= ${p + 1} AND rn <= ${2 * p - 1} THEN dx_sum + dx
       |              ELSE CAST(0.0 AS DOUBLE) END AS dx_sum,
       |         CASE WHEN rn < ${2 * p} THEN CAST(NULL AS DOUBLE)
       |              WHEN rn = ${2 * p} THEN (dx_sum + dx) / $p
       |              ELSE (adx * ${p - 1} + dx) / $p END AS adx,
       |         pdi2, ndi2
       |  FROM (
       |    SELECT *,
       |           CASE WHEN rn >= ${p + 1} THEN
       |             CASE WHEN pdi2 + ndi2 = 0 THEN CAST(0.0 AS DOUBLE)
       |                  ELSE 100.0 * abs(pdi2 - ndi2) / (pdi2 + ndi2) END END AS dx
       |    FROM (
       |      SELECT *,
       |             CASE WHEN rn >= ${p + 1} THEN
       |               CASE WHEN s_tr2 = 0 THEN CAST(0.0 AS DOUBLE)
       |                    ELSE 100.0 * s_pdm2 / s_tr2 END END AS pdi2,
       |             CASE WHEN rn >= ${p + 1} THEN
       |               CASE WHEN s_tr2 = 0 THEN CAST(0.0 AS DOUBLE)
       |                    ELSE 100.0 * s_ndm2 / s_tr2 END END AS ndi2
       |      FROM (
       |        SELECT pair, rn, time, ph, pl, pc, dx_sum, adx,
       |               CASE WHEN rn <= $p THEN tr_sum + tr
       |                    ELSE CAST(0.0 AS DOUBLE) END AS tr_sum2,
       |               CASE WHEN rn <= $p THEN pdm_sum + pdm
       |                    ELSE CAST(0.0 AS DOUBLE) END AS pdm_sum2,
       |               CASE WHEN rn <= $p THEN ndm_sum + ndm
       |                    ELSE CAST(0.0 AS DOUBLE) END AS ndm_sum2,
       |               CASE WHEN rn <= $p THEN CAST(NULL AS DOUBLE)
       |                    WHEN rn = ${p + 1} THEN (tr_sum + tr) / $p
       |                    ELSE (s_tr * ${p - 1} + tr) / $p END AS s_tr2,
       |               CASE WHEN rn <= $p THEN CAST(NULL AS DOUBLE)
       |                    WHEN rn = ${p + 1} THEN (pdm_sum + pdm) / $p
       |                    ELSE (s_pdm * ${p - 1} + pdm) / $p END AS s_pdm2,
       |               CASE WHEN rn <= $p THEN CAST(NULL AS DOUBLE)
       |                    WHEN rn = ${p + 1} THEN (ndm_sum + ndm) / $p
       |                    ELSE (s_ndm * ${p - 1} + ndm) / $p END AS s_ndm2
       |        FROM (
       |          SELECT c.pair, c.rn, c.time,
       |                 c.high AS ph, c.low AS pl, c.close AS pc,
       |                 r.tr_sum, r.pdm_sum, r.ndm_sum,
       |                 r.s_tr, r.s_pdm, r.s_ndm, r.dx_sum, r.adx,
       |                 greatest(c.high - c.low, abs(c.high - r.pc),
       |                          abs(c.low - r.pc)) AS tr,
       |                 CASE WHEN (c.high - r.ph) > (r.pl - c.low)
       |                           AND (c.high - r.ph) > 0
       |                      THEN c.high - r.ph
       |                      ELSE CAST(0.0 AS DOUBLE) END AS pdm,
       |                 CASE WHEN (r.pl - c.low) > (c.high - r.ph)
       |                           AND (r.pl - c.low) > 0
       |                      THEN r.pl - c.low
       |                      ELSE CAST(0.0 AS DOUBLE) END AS ndm
       |          FROM r JOIN c ON c.pair = r.pair AND c.rn = r.rn + 1) t0) t1) t2) t3)
       |SELECT pair, '1m' AS timeframe, epoch(time)::BIGINT AS time_s, $p AS period,
       |       round((pdi)::VARCHAR::DECIMAL(38,23), 6)::DOUBLE AS pdi, round((ndi)::VARCHAR::DECIMAL(38,23), 6)::DOUBLE AS ndi, round((adx)::VARCHAR::DECIMAL(38,23), 6)::DOUBLE AS adx
       |FROM r""".stripMargin

  /** Ichimoku oracle — window range midpoints with lag/lead displacement;
    * the midpoint division is the only float op, spelled identically. */
  private def ichimokuSql(tp: Int, kp: Int, sp: Int): String =
    s"""$prelude,
       |b AS (
       |  SELECT pair, time, close,
       |         row_number() OVER (PARTITION BY pair ORDER BY time) AS rn,
       |         max(high) OVER (PARTITION BY pair ORDER BY time
       |              ROWS BETWEEN ${tp - 1} PRECEDING AND CURRENT ROW) AS h_t,
       |         min(low) OVER (PARTITION BY pair ORDER BY time
       |              ROWS BETWEEN ${tp - 1} PRECEDING AND CURRENT ROW) AS l_t,
       |         max(high) OVER (PARTITION BY pair ORDER BY time
       |              ROWS BETWEEN ${kp - 1} PRECEDING AND CURRENT ROW) AS h_k,
       |         min(low) OVER (PARTITION BY pair ORDER BY time
       |              ROWS BETWEEN ${kp - 1} PRECEDING AND CURRENT ROW) AS l_k,
       |         max(high) OVER (PARTITION BY pair ORDER BY time
       |              ROWS BETWEEN ${sp - 1} PRECEDING AND CURRENT ROW) AS h_s,
       |         min(low) OVER (PARTITION BY pair ORDER BY time
       |              ROWS BETWEEN ${sp - 1} PRECEDING AND CURRENT ROW) AS l_s
       |  FROM c1m),
       |m AS (
       |  SELECT pair, time, close,
       |         CASE WHEN rn >= $tp THEN (h_t + l_t) / 2.0 END AS tenkan,
       |         CASE WHEN rn >= $kp THEN (h_k + l_k) / 2.0 END AS kijun,
       |         CASE WHEN rn >= $sp THEN (h_s + l_s) / 2.0 END AS span_b0
       |  FROM b),
       |f AS (
       |  SELECT pair, time, tenkan, kijun,
       |         lag((tenkan + kijun) / 2.0, $kp) OVER
       |           (PARTITION BY pair ORDER BY time) AS senkou_a,
       |         lag(span_b0, $kp) OVER
       |           (PARTITION BY pair ORDER BY time) AS senkou_b,
       |         lead(close, $kp) OVER
       |           (PARTITION BY pair ORDER BY time) AS chikou
       |  FROM m)
       |SELECT pair, '1m' AS timeframe, epoch(time)::BIGINT AS time_s,
       |       round((tenkan)::VARCHAR::DECIMAL(38,23), 6)::DOUBLE AS tenkan, round((kijun)::VARCHAR::DECIMAL(38,23), 6)::DOUBLE AS kijun,
       |       round((senkou_a)::VARCHAR::DECIMAL(38,23), 6)::DOUBLE AS senkou_a, round((senkou_b)::VARCHAR::DECIMAL(38,23), 6)::DOUBLE AS senkou_b,
       |       round((chikou)::VARCHAR::DECIMAL(38,23), 6)::DOUBLE AS chikou
       |FROM f""".stripMargin

  /** Recursive-CTE TRIX oracle replicating
    * [[graft.operators.Indicators.trix]]: three chained SMA-seeded EMA
    * recurrences in nested subqueries (each stage referencing the freshly
    * updated predecessor), then the 1-row ROC of the third. Stage
    * boundaries are deterministic in `rn` because each stage's input
    * becomes defined at a fixed row: e1 at `p`, e2 at `2p−1`, e3 at
    * `3p−2`, TRIX at `3p−1`. */
  private def trixSql(p: Int): String =
    s"""WITH RECURSIVE $ticksCte, $dedupCte, $c1mCte,
       |c AS MATERIALIZED (SELECT pair, time, close,
       |             row_number() OVER (PARTITION BY pair ORDER BY time) AS rn
       |      FROM c1m),
       |r AS (
       |  SELECT pair, rn, time,
       |         close AS sum1, CAST(NULL AS DOUBLE) AS e1,
       |         CAST(0.0 AS DOUBLE) AS sum2, CAST(NULL AS DOUBLE) AS e2,
       |         CAST(0.0 AS DOUBLE) AS sum3, CAST(NULL AS DOUBLE) AS e3,
       |         CAST(NULL AS DOUBLE) AS trix
       |  FROM c WHERE rn = 1
       |  UNION ALL
       |  SELECT pair, rn, time, sum1, e1, sum2, e2, sum3, e3,
       |         CASE WHEN rn >= ${3 * p - 1}
       |              THEN 100.0 * (e3 - e3_0) / e3_0 END AS trix
       |  FROM (
       |    SELECT *,
       |           CASE WHEN rn < ${2 * p - 1} THEN sum3_0
       |                WHEN rn < ${3 * p - 2} THEN sum3_0 + e2
       |                ELSE CAST(0.0 AS DOUBLE) END AS sum3,
       |           CASE WHEN rn < ${3 * p - 2} THEN NULL
       |                WHEN rn = ${3 * p - 2} THEN (sum3_0 + e2) / $p
       |                ELSE (e2 - e3_0) * (2.0 / ${p + 1}) + e3_0 END AS e3
       |    FROM (
       |      SELECT *,
       |             CASE WHEN rn < $p THEN sum2_0
       |                  WHEN rn < ${2 * p - 1} THEN sum2_0 + e1
       |                  ELSE CAST(0.0 AS DOUBLE) END AS sum2,
       |             CASE WHEN rn < ${2 * p - 1} THEN NULL
       |                  WHEN rn = ${2 * p - 1} THEN (sum2_0 + e1) / $p
       |                  ELSE (e1 - e2_0) * (2.0 / ${p + 1}) + e2_0 END AS e2
       |      FROM (
       |        SELECT c.pair, c.rn, c.time,
       |               r.sum2 AS sum2_0, r.e2 AS e2_0,
       |               r.sum3 AS sum3_0, r.e3 AS e3_0,
       |               CASE WHEN c.rn < $p THEN r.sum1 + c.close
       |                    ELSE CAST(0.0 AS DOUBLE) END AS sum1,
       |               CASE WHEN c.rn < $p THEN NULL
       |                    WHEN c.rn = $p THEN (r.sum1 + c.close) / $p
       |                    ELSE (c.close - r.e1) * (2.0 / ${p + 1}) + r.e1 END AS e1
       |        FROM r JOIN c ON c.pair = r.pair AND c.rn = r.rn + 1) t1) t2) t3)
       |SELECT pair, '1m' AS timeframe, epoch(time)::BIGINT AS time_s,
       |       $p AS period, round((trix)::VARCHAR::DECIMAL(38,23), 6)::DOUBLE AS value
       |FROM r""".stripMargin

  /** DEMA oracle — the trixSql two-stage chain with `2·e1 − e2` as the
    * final expression (identical stage boundaries: e1 at `p`, e2 at
    * `2p−1`). */
  private def demaSql(p: Int): String =
    s"""WITH RECURSIVE $ticksCte, $dedupCte, $c1mCte,
       |c AS MATERIALIZED (SELECT pair, time, close,
       |             row_number() OVER (PARTITION BY pair ORDER BY time) AS rn
       |      FROM c1m),
       |r AS (
       |  SELECT pair, rn, time,
       |         close AS sum1, CAST(NULL AS DOUBLE) AS e1,
       |         CAST(0.0 AS DOUBLE) AS sum2, CAST(NULL AS DOUBLE) AS e2
       |  FROM c WHERE rn = 1
       |  UNION ALL
       |  SELECT pair, rn, time, sum1, e1,
       |         CASE WHEN rn < $p THEN sum2_0
       |              WHEN rn < ${2 * p - 1} THEN sum2_0 + e1
       |              ELSE CAST(0.0 AS DOUBLE) END AS sum2,
       |         CASE WHEN rn < ${2 * p - 1} THEN NULL
       |              WHEN rn = ${2 * p - 1} THEN (sum2_0 + e1) / $p
       |              ELSE (e1 - e2_0) * (2.0 / ${p + 1}) + e2_0 END AS e2
       |  FROM (
       |    SELECT c.pair, c.rn, c.time,
       |           r.sum2 AS sum2_0, r.e2 AS e2_0,
       |           CASE WHEN c.rn < $p THEN r.sum1 + c.close
       |                ELSE CAST(0.0 AS DOUBLE) END AS sum1,
       |           CASE WHEN c.rn < $p THEN NULL
       |                WHEN c.rn = $p THEN (r.sum1 + c.close) / $p
       |                ELSE (c.close - r.e1) * (2.0 / ${p + 1}) + r.e1 END AS e1
       |    FROM r JOIN c ON c.pair = r.pair AND c.rn = r.rn + 1) t1)
       |SELECT pair, '1m' AS timeframe, epoch(time)::BIGINT AS time_s,
       |       $p AS period,
       |       CASE WHEN rn >= ${2 * p - 1}
       |            THEN round((2.0 * e1 - e2)::VARCHAR::DECIMAL(38,23), 6)::DOUBLE END AS value
       |FROM r""".stripMargin

  /** TEMA oracle — the trixSql three-stage chain with
    * `3·e1 − 3·e2 + e3` as the final expression. */
  private def temaSql(p: Int): String =
    s"""WITH RECURSIVE $ticksCte, $dedupCte, $c1mCte,
       |c AS MATERIALIZED (SELECT pair, time, close,
       |             row_number() OVER (PARTITION BY pair ORDER BY time) AS rn
       |      FROM c1m),
       |r AS (
       |  SELECT pair, rn, time,
       |         close AS sum1, CAST(NULL AS DOUBLE) AS e1,
       |         CAST(0.0 AS DOUBLE) AS sum2, CAST(NULL AS DOUBLE) AS e2,
       |         CAST(0.0 AS DOUBLE) AS sum3, CAST(NULL AS DOUBLE) AS e3
       |  FROM c WHERE rn = 1
       |  UNION ALL
       |  SELECT pair, rn, time, sum1, e1, sum2, e2,
       |         CASE WHEN rn < ${2 * p - 1} THEN sum3_0
       |              WHEN rn < ${3 * p - 2} THEN sum3_0 + e2
       |              ELSE CAST(0.0 AS DOUBLE) END AS sum3,
       |         CASE WHEN rn < ${3 * p - 2} THEN NULL
       |              WHEN rn = ${3 * p - 2} THEN (sum3_0 + e2) / $p
       |              ELSE (e2 - e3_0) * (2.0 / ${p + 1}) + e3_0 END AS e3
       |  FROM (
       |    SELECT *,
       |           CASE WHEN rn < $p THEN sum2_0
       |                WHEN rn < ${2 * p - 1} THEN sum2_0 + e1
       |                ELSE CAST(0.0 AS DOUBLE) END AS sum2,
       |           CASE WHEN rn < ${2 * p - 1} THEN NULL
       |                WHEN rn = ${2 * p - 1} THEN (sum2_0 + e1) / $p
       |                ELSE (e1 - e2_0) * (2.0 / ${p + 1}) + e2_0 END AS e2
       |    FROM (
       |      SELECT c.pair, c.rn, c.time,
       |             r.sum2 AS sum2_0, r.e2 AS e2_0,
       |             r.sum3 AS sum3_0, r.e3 AS e3_0,
       |             CASE WHEN c.rn < $p THEN r.sum1 + c.close
       |                  ELSE CAST(0.0 AS DOUBLE) END AS sum1,
       |             CASE WHEN c.rn < $p THEN NULL
       |                  WHEN c.rn = $p THEN (r.sum1 + c.close) / $p
       |                  ELSE (c.close - r.e1) * (2.0 / ${p + 1}) + r.e1 END AS e1
       |      FROM r JOIN c ON c.pair = r.pair AND c.rn = r.rn + 1) t1) t2)
       |SELECT pair, '1m' AS timeframe, epoch(time)::BIGINT AS time_s,
       |       $p AS period,
       |       CASE WHEN rn >= ${3 * p - 2}
       |            THEN round((3.0 * e1 - 3.0 * e2 + e3)::VARCHAR::DECIMAL(38,23), 6)::DOUBLE END AS value
       |FROM r""".stripMargin

  /** KAMA oracle replicating [[graft.operators.Indicators.kama]]: the
    * efficiency ratio comes from EXACT DECIMAL(12,6) window sums (plain
    * window functions, no recursion needed — order-free on both engines);
    * only the `kama += sc²·(close − kama)` recurrence itself is recursive,
    * with the identical er/sc float expression. */
  private def kamaSql(p: Int): String =
    s"""WITH RECURSIVE $ticksCte, $dedupCte, $c1mCte,
       |c AS (SELECT pair, time, close::DECIMAL(12,6) AS cd,
       |             row_number() OVER (PARTITION BY pair ORDER BY time) AS rn
       |      FROM c1m),
       |e1 AS (SELECT pair, time, rn, cd,
       |              abs(cd - lag(cd) OVER w) AS adiff,
       |              abs(cd - lag(cd, $p) OVER w) AS num
       |       FROM c WINDOW w AS (PARTITION BY pair ORDER BY rn)),
       |e2 AS MATERIALIZED (SELECT pair, time, rn, cd, num,
       |              sum(adiff) OVER (PARTITION BY pair ORDER BY rn
       |                ROWS BETWEEN ${p - 1} PRECEDING AND CURRENT ROW) AS den
       |       FROM e1),
       |r AS (
       |  SELECT pair, rn, time, cd, CAST(NULL AS DOUBLE) AS kama
       |  FROM e2 WHERE rn = 1
       |  UNION ALL
       |  SELECT pair, rn, time, cd,
       |         CASE WHEN rn < ${p + 1} THEN NULL
       |              WHEN rn = ${p + 1} THEN pcd + sc0 * sc0 * (x - pcd)
       |              ELSE pk + sc0 * sc0 * (x - pk) END AS kama
       |  FROM (
       |    SELECT e.pair, e.rn, e.time, e.cd,
       |           CAST(e.cd AS DOUBLE) AS x, CAST(r.cd AS DOUBLE) AS pcd,
       |           r.kama AS pk,
       |           CASE WHEN e.rn <= $p THEN CAST(0.0 AS DOUBLE)
       |                WHEN e.den = 0 THEN 2.0 / 31.0
       |                ELSE (CAST(e.num AS DOUBLE) / CAST(e.den AS DOUBLE))
       |                     * (2.0 / 3.0 - 2.0 / 31.0) + 2.0 / 31.0 END AS sc0
       |    FROM r JOIN e2 e ON e.pair = r.pair AND e.rn = r.rn + 1) t)
       |SELECT pair, '1m' AS timeframe, epoch(time)::BIGINT AS time_s,
       |       $p AS period, round((kama)::VARCHAR::DECIMAL(38,23), 6)::DOUBLE AS value
       |FROM r""".stripMargin

  /** Vortex oracle: per-bar movement/TR terms quantized to DECIMAL(18,6),
    * exact decimal window sums, one double division — the identical
    * pipeline [[graft.operators.Indicators.vortex]] runs. */
  private def vortexSql(p: Int): String =
    s"""$prelude,
       |d AS (SELECT pair, time, high, low,
       |             lag(high) OVER w AS ph, lag(low) OVER w AS pl,
       |             lag(close) OVER w AS pc,
       |             row_number() OVER w AS rn
       |      FROM c1m WINDOW w AS (PARTITION BY pair ORDER BY time)),
       |e AS (SELECT pair, time, rn,
       |             CAST(abs(high - pl) AS DECIMAL(18,6)) AS vmp6,
       |             CAST(abs(low - ph) AS DECIMAL(18,6)) AS vmm6,
       |             CAST(greatest(high - low, abs(high - pc), abs(low - pc))
       |                  AS DECIMAL(18,6)) AS tr6
       |      FROM d),
       |s AS (SELECT pair, time, rn,
       |             sum(vmp6) OVER f AS svmp, sum(vmm6) OVER f AS svmm,
       |             sum(tr6) OVER f AS str
       |      FROM e WINDOW f AS (PARTITION BY pair ORDER BY rn
       |               ROWS BETWEEN ${p - 1} PRECEDING AND CURRENT ROW))
       |SELECT pair, '1m' AS timeframe, epoch(time)::BIGINT AS time_s,
       |       $p AS period,
       |       CASE WHEN rn >= ${p + 1} AND str <> 0
       |            THEN round((CAST(svmp AS DOUBLE) / CAST(str AS DOUBLE))::VARCHAR::DECIMAL(38,23), 6)::DOUBLE
       |       END AS vi_plus,
       |       CASE WHEN rn >= ${p + 1} AND str <> 0
       |            THEN round((CAST(svmm AS DOUBLE) / CAST(str AS DOUBLE))::VARCHAR::DECIMAL(38,23), 6)::DOUBLE
       |       END AS vi_minus
       |FROM s""".stripMargin

  /** Ultimate Oscillator oracle — same exact-decimal window-sum discipline
    * as [[vortexSql]] across the three horizons, and the identical final
    * weighted-ratio float chain. */
  private def ultoscSql(p1: Int, p2: Int, p3: Int): String =
    s"""$prelude,
       |d AS (SELECT pair, time, high, low, close,
       |             lag(close) OVER w AS pc,
       |             row_number() OVER w AS rn
       |      FROM c1m WINDOW w AS (PARTITION BY pair ORDER BY time)),
       |e AS (SELECT pair, time, rn,
       |             CAST(close - least(low, pc) AS DECIMAL(18,6)) AS bp6,
       |             CAST(greatest(high, pc) - least(low, pc)
       |                  AS DECIMAL(18,6)) AS tr6
       |      FROM d),
       |s AS (SELECT pair, time, rn,
       |             sum(bp6) OVER f1 AS sbp1, sum(tr6) OVER f1 AS str1,
       |             sum(bp6) OVER f2 AS sbp2, sum(tr6) OVER f2 AS str2,
       |             sum(bp6) OVER f3 AS sbp3, sum(tr6) OVER f3 AS str3
       |      FROM e
       |      WINDOW f1 AS (PARTITION BY pair ORDER BY rn
       |               ROWS BETWEEN ${p1 - 1} PRECEDING AND CURRENT ROW),
       |             f2 AS (PARTITION BY pair ORDER BY rn
       |               ROWS BETWEEN ${p2 - 1} PRECEDING AND CURRENT ROW),
       |             f3 AS (PARTITION BY pair ORDER BY rn
       |               ROWS BETWEEN ${p3 - 1} PRECEDING AND CURRENT ROW))
       |SELECT pair, '1m' AS timeframe, epoch(time)::BIGINT AS time_s,
       |       $p3 AS period,
       |       CASE WHEN rn >= ${p3 + 1} AND str1 <> 0 AND str2 <> 0 AND str3 <> 0
       |            THEN round((100.0 * (4.0 * (CAST(sbp1 AS DOUBLE) / CAST(str1 AS DOUBLE))
       |                 + 2.0 * (CAST(sbp2 AS DOUBLE) / CAST(str2 AS DOUBLE))
       |                 + (CAST(sbp3 AS DOUBLE) / CAST(str3 AS DOUBLE))) / 7.0)::VARCHAR::DECIMAL(38,23), 6)::DOUBLE
       |       END AS value
       |FROM s""".stripMargin

  /** Linreg oracle — exact decimal/integer window sums, the identical
    * cast-multiply-divide float chain as
    * [[graft.operators.Indicators.linreg]]. */
  private def linregSql(p: Int): String =
    s"""$prelude,
       |b AS (SELECT pair, time,
       |             row_number() OVER w AS rn,
       |             close::DECIMAL(18,6) AS y6
       |      FROM c1m WINDOW w AS (PARTITION BY pair ORDER BY time)),
       |s AS (SELECT pair, time, rn,
       |             sum(y6) OVER f AS sy,
       |             sum(CAST(CAST(rn AS DECIMAL(12,0)) * y6 AS DECIMAL(38,6)))
       |               OVER f AS sxy,
       |             sum(rn::BIGINT) OVER f AS sx,
       |             sum(rn::BIGINT * rn::BIGINT) OVER f AS sxx
       |      FROM b WINDOW f AS (PARTITION BY pair ORDER BY rn
       |               ROWS BETWEEN ${p - 1} PRECEDING AND CURRENT ROW)),
       |m AS (SELECT pair, time, rn,
       |             ($p.0 * CAST(sxy AS DOUBLE)
       |              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
       |             / ($p.0 * CAST(sxx AS DOUBLE)
       |                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS slope,
       |             CAST(sy AS DOUBLE) AS syd, CAST(sx AS DOUBLE) AS sxd
       |      FROM s)
       |SELECT pair, '1m' AS timeframe, epoch(time)::BIGINT AS time_s,
       |       $p AS period,
       |       CASE WHEN rn >= $p THEN round((slope)::VARCHAR::DECIMAL(38,23), 6)::DOUBLE END AS slope,
       |       CASE WHEN rn >= $p
       |            THEN round((syd / $p.0 + slope * ((rn + 1) - sxd / $p.0))::VARCHAR::DECIMAL(38,23), 6)::DOUBLE
       |       END AS forecast
       |FROM m""".stripMargin

  /** Renko oracle — the (a0, m) integer reference recursion with
    * identical floor expressions, bricks emitted via `unnest(range)`. */
  private def renkoSql(b: String): String =
    s"""WITH RECURSIVE $ticksCte, $dedupCte, $c1mCte,
       |c AS MATERIALIZED (SELECT pair, time, close,
       |             row_number() OVER (PARTITION BY pair ORDER BY time) AS rn
       |      FROM c1m),
       |r AS (
       |  SELECT pair, rn, time, close AS a0,
       |         0::BIGINT AS m, 0::BIGINT AS n,
       |         0::BIGINT AS m0, 0::BIGINT AS ku, 0::BIGINT AS kd
       |  FROM c WHERE rn = 1
       |  UNION ALL
       |  SELECT pair, rn, time, a0,
       |         m + ku - kd AS m, n + ku + kd AS n, m AS m0, ku, kd
       |  FROM (
       |    SELECT c.pair, c.rn, c.time, r.a0, r.m, r.n,
       |           greatest(floor((c.close - (r.a0 + r.m * $b)) / $b)::BIGINT,
       |             0) AS ku,
       |           greatest(floor(((r.a0 + r.m * $b) - c.close) / $b)::BIGINT,
       |             0) AS kd
       |    FROM r JOIN c ON c.pair = r.pair AND c.rn = r.rn + 1) t)
       |SELECT pair, '1m' AS timeframe, epoch(time)::BIGINT AS time_s,
       |       (n - ku - kd + i)::BIGINT AS brick_no, 'up' AS dir,
       |       round((a0 + (m0 + i - 1) * $b)::VARCHAR::DECIMAL(38,23), 6)::DOUBLE AS open,
       |       round((a0 + (m0 + i) * $b)::VARCHAR::DECIMAL(38,23), 6)::DOUBLE AS close
       |FROM (SELECT *, unnest(range(1, ku + 1)) AS i FROM r WHERE ku > 0)
       |UNION ALL
       |SELECT pair, '1m', epoch(time)::BIGINT,
       |       (n - ku - kd + i)::BIGINT, 'down',
       |       round((a0 + (m0 - i + 1) * $b)::VARCHAR::DECIMAL(38,23), 6)::DOUBLE,
       |       round((a0 + (m0 - i) * $b)::VARCHAR::DECIMAL(38,23), 6)::DOUBLE
       |FROM (SELECT *, unnest(range(1, kd + 1)) AS i FROM r WHERE kd > 0)""".stripMargin

  /** ZigZag oracle — the identical extremes-then-test state machine
    * (extremes ratchet FIRST, the high test precedes the low test — the
    * dir=0 tie order), replayed recursively with nullable pivot columns. */
  private def zigzagSql(rev: String): String =
    s"""WITH RECURSIVE $ticksCte, $dedupCte, $c1mCte,
       |c AS MATERIALIZED (SELECT pair, time, close,
       |             row_number() OVER (PARTITION BY pair ORDER BY time) AS rn
       |      FROM c1m),
       |r AS (
       |  SELECT pair, rn, time, 0 AS dir,
       |         close AS hip, time AS hit, close AS lop, time AS lot,
       |         0::BIGINT AS n,
       |         CAST(NULL AS BIGINT) AS pno, CAST(NULL AS TIMESTAMP) AS ptime,
       |         CAST(NULL AS VARCHAR) AS pkind, CAST(NULL AS DOUBLE) AS pprice,
       |         CAST(NULL AS TIMESTAMP) AS pconfirm
       |  FROM c WHERE rn = 1
       |  UNION ALL
       |  SELECT pair, rn, t,
       |         CASE WHEN ph THEN -1 WHEN pl THEN 1 ELSE dir END,
       |         CASE WHEN pl THEN cl ELSE hip1 END,
       |         CASE WHEN pl THEN t ELSE hit1 END,
       |         CASE WHEN ph THEN cl ELSE lop1 END,
       |         CASE WHEN ph THEN t ELSE lot1 END,
       |         n + CASE WHEN ph OR pl THEN 1 ELSE 0 END,
       |         CASE WHEN ph OR pl THEN n + 1 END,
       |         CASE WHEN ph THEN hit1 WHEN pl THEN lot1 END,
       |         CASE WHEN ph THEN 'high' WHEN pl THEN 'low' END,
       |         CASE WHEN ph THEN hip1 WHEN pl THEN lop1 END,
       |         CASE WHEN ph OR pl THEN t END
       |  FROM (
       |    SELECT *,
       |           (dir >= 0 AND (hip1 - cl) / hip1 >= $rev) AS ph,
       |           (dir <= 0 AND NOT (dir >= 0 AND (hip1 - cl) / hip1 >= $rev)
       |            AND (cl - lop1) / lop1 >= $rev) AS pl
       |    FROM (
       |      SELECT c.pair, c.rn, c.time AS t, c.close AS cl, r.dir, r.n,
       |             CASE WHEN r.dir >= 0 AND c.close > r.hip
       |                  THEN c.close ELSE r.hip END AS hip1,
       |             CASE WHEN r.dir >= 0 AND c.close > r.hip
       |                  THEN c.time ELSE r.hit END AS hit1,
       |             CASE WHEN r.dir <= 0 AND c.close < r.lop
       |                  THEN c.close ELSE r.lop END AS lop1,
       |             CASE WHEN r.dir <= 0 AND c.close < r.lop
       |                  THEN c.time ELSE r.lot END AS lot1
       |      FROM r JOIN c ON c.pair = r.pair AND c.rn = r.rn + 1) t0) t1)
       |SELECT pair, '1m' AS timeframe, pno AS pivot_no,
       |       epoch(ptime)::BIGINT AS time_s, pkind AS kind,
       |       round((pprice)::VARCHAR::DECIMAL(38,23), 6)::DOUBLE AS price, epoch(pconfirm)::BIGINT AS confirm_s
       |FROM r WHERE pkind IS NOT NULL""".stripMargin

  /** Elder Ray oracle — the emaSql recursion carrying the bar's high/low
    * so `high − ema` / `low − ema` are the identical float ops. */
  private def elderSql(p: Int): String =
    s"""WITH RECURSIVE $ticksCte, $dedupCte, $c1mCte,
       |c AS MATERIALIZED (SELECT pair, time, high, low, close,
       |             row_number() OVER (PARTITION BY pair ORDER BY time) AS rn
       |      FROM c1m),
       |r AS (
       |  SELECT pair, rn, time, high, low,
       |         close AS seed_sum, CAST(NULL AS DOUBLE) AS prev
       |  FROM c WHERE rn = 1
       |  UNION ALL
       |  SELECT c.pair, c.rn, c.time, c.high, c.low,
       |         CASE WHEN c.rn < $p THEN r.seed_sum + c.close
       |              ELSE CAST(0.0 AS DOUBLE) END,
       |         CASE WHEN c.rn < $p THEN NULL
       |              WHEN c.rn = $p THEN (r.seed_sum + c.close) / $p
       |              ELSE (c.close - r.prev) * (2.0 / ${p + 1}) + r.prev END
       |  FROM r JOIN c ON c.pair = r.pair AND c.rn = r.rn + 1)
       |SELECT pair, '1m' AS timeframe, epoch(time)::BIGINT AS time_s,
       |       $p AS period,
       |       round((high - prev)::VARCHAR::DECIMAL(38,23), 6)::DOUBLE AS bull, round((low - prev)::VARCHAR::DECIMAL(38,23), 6)::DOUBLE AS bear
       |FROM r""".stripMargin

  /** Awesome Oscillator: exact-decimal midpoint sums, two float divisions. */
  private def awesomeSql(fast: Int, slow: Int): String =
    s"""$prelude,
       |b AS (SELECT pair, time, round(((high + low) / 2)::VARCHAR::DECIMAL(38,23), 6)::DECIMAL(18,6) AS mp6,
       |             row_number() OVER (PARTITION BY pair ORDER BY time) AS rn
       |      FROM c1m),
       |s AS (SELECT pair, time, rn,
       |             sum(mp6) OVER (PARTITION BY pair ORDER BY time
       |               ROWS BETWEEN ${fast - 1} PRECEDING AND CURRENT ROW) AS sf,
       |             sum(mp6) OVER (PARTITION BY pair ORDER BY time
       |               ROWS BETWEEN ${slow - 1} PRECEDING AND CURRENT ROW) AS ss
       |      FROM b)
       |SELECT pair, '1m' AS timeframe, epoch(time)::BIGINT AS time_s,
       |       CASE WHEN rn >= $slow
       |            THEN round((CAST(sf AS DOUBLE) / $fast - CAST(ss AS DOUBLE) / $slow)::VARCHAR::DECIMAL(38,23), 6)::DOUBLE
       |       END AS value
       |FROM s""".stripMargin

  /** Volume-candle CTE shared by the money-flow oracles (mfiSql's c1v). */
  private val c1vCte: String =
    """c1v AS (
      |  SELECT pair, date_trunc('minute', time) AS time,
      |         max(bid) AS high, min(bid) AS low,
      |         max_by(bid, time) AS close, count(*) AS vol
      |  FROM dedup GROUP BY 1, 2)""".stripMargin

  /** Money-flow volume term: the one float division snaps to the 6-dp grid
    * before the exact decimal·int multiply — the vwap convention. */
  private val mfvExpr: String =
    """round((CASE WHEN high = low THEN 0.0
      |           ELSE (2.0 * close - low - high) / (high - low) END)::VARCHAR::DECIMAL(38,23), 6)::DECIMAL(18,6) * vol::DECIMAL(9,0)""".stripMargin

  private def cmfSql(p: Int): String =
    s"""WITH $ticksCte, $dedupCte, $c1vCte,
       |m AS (SELECT pair, time, vol, $mfvExpr AS mfv,
       |             row_number() OVER (PARTITION BY pair ORDER BY time) AS rn
       |      FROM c1v),
       |s AS (SELECT pair, time, rn,
       |             sum(mfv) OVER w AS num, sum(vol) OVER w AS den
       |      FROM m
       |      WINDOW w AS (PARTITION BY pair ORDER BY time
       |                   ROWS BETWEEN ${p - 1} PRECEDING AND CURRENT ROW))
       |SELECT pair, '1m' AS timeframe, epoch(time)::BIGINT AS time_s, $p AS period,
       |       CASE WHEN rn >= $p
       |            THEN round((CAST(num AS DOUBLE) / CAST(den AS DOUBLE))::VARCHAR::DECIMAL(38,23), 6)::DOUBLE END AS value
       |FROM s""".stripMargin

  private val adlineSql: String =
    s"""WITH $ticksCte, $dedupCte, $c1vCte,
       |m AS (SELECT pair, time, close, vol, $mfvExpr AS mfv FROM c1v),
       |s AS (SELECT pair, time, close, vol,
       |             sum(mfv) OVER (PARTITION BY pair ORDER BY time
       |               ROWS UNBOUNDED PRECEDING) AS ad_dec
       |      FROM m)
       |SELECT pair, '1m' AS timeframe, epoch(time)::BIGINT AS time_s,
       |       round((close)::VARCHAR::DECIMAL(38,23), 6)::DOUBLE AS close, vol, round((CAST(ad_dec AS DOUBLE))::VARCHAR::DECIMAL(38,23), 6)::DOUBLE AS ad
       |FROM s""".stripMargin

  /** Force index: the identical SMA-seeded EMA recurrence as emaSql, over
    * the per-bar force `(close − prevClose)·vol` (defined from row 2 — the
    * CTE carries the previous close alongside the EMA state). */
  private def forceSql(p: Int): String =
    s"""WITH RECURSIVE $ticksCte, $dedupCte,
       |c1v AS (SELECT pair, date_trunc('minute', time) AS time,
       |               max_by(bid, time) AS close, count(*) AS vol
       |        FROM dedup GROUP BY 1, 2),
       |c AS MATERIALIZED (SELECT pair, time, close, vol,
       |             row_number() OVER (PARTITION BY pair ORDER BY time) AS rn
       |      FROM c1v),
       |r AS (
       |  SELECT pair, rn, time, close AS pclose, CAST(0.0 AS DOUBLE) AS seed_sum,
       |         CAST(NULL AS DOUBLE) AS prev
       |  FROM c WHERE rn = 1
       |  UNION ALL
       |  SELECT c.pair, c.rn, c.time, c.close,
       |         CASE WHEN c.rn <= $p
       |              THEN r.seed_sum + (c.close - r.pclose) * c.vol
       |              ELSE CAST(0.0 AS DOUBLE) END,
       |         CASE WHEN c.rn < ${p + 1} THEN NULL
       |              WHEN c.rn = ${p + 1}
       |              THEN (r.seed_sum + (c.close - r.pclose) * c.vol) / $p
       |              ELSE ((c.close - r.pclose) * c.vol - r.prev) * (2.0 / ${p + 1}) + r.prev
       |         END
       |  FROM r JOIN c ON c.pair = r.pair AND c.rn = r.rn + 1)
       |SELECT pair, '1m' AS timeframe, epoch(time)::BIGINT AS time_s,
       |       $p AS period, round((prev)::VARCHAR::DECIMAL(38,23), 6)::DOUBLE AS value
       |FROM r""".stripMargin

  /** Hull MA: every WMA numerator restated via the rn-shift identity
    * `Σ wⱼxⱼ = (p − rnₜ)·Σ xⱼ + Σ rnⱼxⱼ` with exact decimal sums (down-cast
    * to DECIMAL(24,6) so the DuckDB multiply stays inside width 38). */
  private def hmaSql(p: Int): String = {
    val half = p / 2
    val sq = math.floor(math.sqrt(p.toDouble)).toInt
    def den(n: Int) = n * (n + 1) / 2
    s"""$prelude,
       |b AS (SELECT pair, time, close::DECIMAL(18,6) AS x6,
       |             row_number() OVER (PARTITION BY pair ORDER BY time) AS rn
       |      FROM c1m),
       |c AS (SELECT pair, time, rn, x6, rn::DECIMAL(10,0) * x6 AS rx FROM b),
       |s AS (SELECT pair, time, rn,
       |        CAST(sum(x6) OVER wh AS DECIMAL(24,6)) AS sh,
       |        CAST(sum(rx) OVER wh AS DECIMAL(24,6)) AS rh,
       |        CAST(sum(x6) OVER wn AS DECIMAL(24,6)) AS sn,
       |        CAST(sum(rx) OVER wn AS DECIMAL(24,6)) AS rn2
       |      FROM c
       |      WINDOW wh AS (PARTITION BY pair ORDER BY time
       |                    ROWS BETWEEN ${half - 1} PRECEDING AND CURRENT ROW),
       |             wn AS (PARTITION BY pair ORDER BY time
       |                    ROWS BETWEEN ${p - 1} PRECEDING AND CURRENT ROW)),
       |y AS (SELECT pair, time, rn,
       |        CASE WHEN rn >= $p THEN CAST(
       |          ${2 * den(p)}::DECIMAL(4,0)
       |            * CAST(($half - rn)::DECIMAL(10,0) * sh + rh AS DECIMAL(26,6))
       |          - ${den(half)}::DECIMAL(4,0)
       |            * CAST(($p - rn)::DECIMAL(10,0) * sn + rn2 AS DECIMAL(26,6))
       |          AS DECIMAL(26,6))
       |        END AS ny
       |      FROM s),
       |y3 AS (SELECT pair, time, rn, ny, rn::DECIMAL(10,0) * ny AS rny FROM y),
       |t AS (SELECT pair, time, rn,
       |        CAST(sum(ny) OVER ws AS DECIMAL(26,6)) AS sy,
       |        CAST(sum(rny) OVER ws AS DECIMAL(26,6)) AS rys
       |      FROM y3
       |      WINDOW ws AS (PARTITION BY pair ORDER BY time
       |                    ROWS BETWEEN ${sq - 1} PRECEDING AND CURRENT ROW))
       |SELECT pair, '1m' AS timeframe, epoch(time)::BIGINT AS time_s, $p AS period,
       |       CASE WHEN rn >= ${p + sq - 1}
       |            THEN round((CAST(($sq - rn)::DECIMAL(10,0) * sy + rys AS DOUBLE)
       |                       / ${den(half) * den(p) * den(sq)})::VARCHAR::DECIMAL(38,23), 6)::DOUBLE
       |       END AS value
       |FROM t""".stripMargin
  }

  private def coppockSql(longP: Int, shortP: Int, wmaP: Int): String =
    s"""$prelude,
       |b AS (SELECT pair, time, close,
       |        lag(close, $longP) OVER w AS cl, lag(close, $shortP) OVER w AS cs,
       |        row_number() OVER (PARTITION BY pair ORDER BY time) AS rn
       |      FROM c1m WINDOW w AS (PARTITION BY pair ORDER BY time)),
       |x AS (SELECT pair, time, rn,
       |        CASE WHEN rn > $longP THEN
       |          round((100.0 * (close - cl) / cl + 100.0 * (close - cs) / cs)::VARCHAR::DECIMAL(38,23), 6)::DOUBLE
       |        END::DECIMAL(18,6) AS x6
       |      FROM b),
       |c AS (SELECT pair, time, rn, x6, rn::DECIMAL(10,0) * x6 AS rx FROM x),
       |s AS (SELECT pair, time, rn,
       |        CAST(sum(x6) OVER ws AS DECIMAL(24,6)) AS sx,
       |        CAST(sum(rx) OVER ws AS DECIMAL(24,6)) AS rxs
       |      FROM c
       |      WINDOW ws AS (PARTITION BY pair ORDER BY time
       |                    ROWS BETWEEN ${wmaP - 1} PRECEDING AND CURRENT ROW))
       |SELECT pair, '1m' AS timeframe, epoch(time)::BIGINT AS time_s,
       |       CASE WHEN rn >= ${longP + wmaP}
       |            THEN round((CAST(($wmaP - rn)::DECIMAL(10,0) * sx + rxs AS DOUBLE)
       |                       / ${wmaP * (wmaP + 1) / 2})::VARCHAR::DECIMAL(38,23), 6)::DOUBLE
       |       END AS value
       |FROM s""".stripMargin

  private def fractalsSql(wing: Int): String = {
    val hCols = (1 to wing).flatMap(k => Seq(
      s"lag(high, $k) OVER w AS h_m$k", s"lead(high, $k) OVER w AS h_p$k")).mkString(",\n|        ")
    val lCols = (1 to wing).flatMap(k => Seq(
      s"lag(low, $k) OVER w AS l_m$k", s"lead(low, $k) OVER w AS l_p$k")).mkString(",\n|        ")
    val up = (1 to wing).flatMap(k => Seq(
      s"h_m$k IS NOT NULL AND high > h_m$k", s"h_p$k IS NOT NULL AND high > h_p$k"))
      .mkString(" AND ")
    val down = (1 to wing).flatMap(k => Seq(
      s"l_m$k IS NOT NULL AND low < l_m$k", s"l_p$k IS NOT NULL AND low < l_p$k"))
      .mkString(" AND ")
    s"""$prelude,
       |b AS (SELECT pair, time, high, low,
       |        $hCols,
       |        $lCols
       |      FROM c1m WINDOW w AS (PARTITION BY pair ORDER BY time)),
       |x AS (SELECT pair, time, high, low,
       |        ($up) AS up_fractal, ($down) AS down_fractal
       |      FROM b)
       |SELECT pair, '1m' AS timeframe, epoch(time)::BIGINT AS time_s,
       |       up_fractal, down_fractal,
       |       round((high)::VARCHAR::DECIMAL(38,23), 6)::DOUBLE AS high, round((low)::VARCHAR::DECIMAL(38,23), 6)::DOUBLE AS low
       |FROM x WHERE up_fractal OR down_fractal""".stripMargin
  }

  /** Chaikin Oscillator: the adline decimal running sum cast to double per
    * bar, then both SMA-seeded EMA recurrences stepped in ONE recursion
    * (the emaSql state carry, doubled up); input MATERIALIZED so the
    * recursion doesn't re-run the candling chain per step. */
  private def chaikinSql(fast: Int, slow: Int): String =
    s"""WITH RECURSIVE $ticksCte, $dedupCte, $c1vCte,
       |m AS (SELECT pair, time, $mfvExpr AS mfv FROM c1v),
       |s AS MATERIALIZED (
       |  SELECT pair, time,
       |         CAST(sum(mfv) OVER (PARTITION BY pair ORDER BY time
       |           ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS ad,
       |         row_number() OVER (PARTITION BY pair ORDER BY time) AS rn
       |  FROM m),
       |r AS (
       |  SELECT pair, rn, time, ad AS fseed, CAST(NULL AS DOUBLE) AS fprev,
       |         ad AS sseed, CAST(NULL AS DOUBLE) AS sprev
       |  FROM s WHERE rn = 1
       |  UNION ALL
       |  SELECT s.pair, s.rn, s.time,
       |         CASE WHEN s.rn < $fast THEN r.fseed + s.ad
       |              ELSE CAST(0.0 AS DOUBLE) END,
       |         CASE WHEN s.rn < $fast THEN NULL
       |              WHEN s.rn = $fast THEN (r.fseed + s.ad) / $fast
       |              ELSE (s.ad - r.fprev) * (2.0 / ${fast + 1}) + r.fprev END,
       |         CASE WHEN s.rn < $slow THEN r.sseed + s.ad
       |              ELSE CAST(0.0 AS DOUBLE) END,
       |         CASE WHEN s.rn < $slow THEN NULL
       |              WHEN s.rn = $slow THEN (r.sseed + s.ad) / $slow
       |              ELSE (s.ad - r.sprev) * (2.0 / ${slow + 1}) + r.sprev END
       |  FROM r JOIN s ON s.pair = r.pair AND s.rn = r.rn + 1)
       |SELECT pair, '1m' AS timeframe, epoch(time)::BIGINT AS time_s,
       |       $slow AS period, round((fprev - sprev)::VARCHAR::DECIMAL(38,23), 6)::DOUBLE AS value
       |FROM r""".stripMargin

  /** PVO: the chaikinSql dual-EMA recursion over the VOLUME series. */
  private def pvoSql(fast: Int, slow: Int): String =
    s"""WITH RECURSIVE $ticksCte, $dedupCte,
       |cv AS (SELECT pair, date_trunc('minute', time) AS time, count(*) AS vol
       |       FROM dedup GROUP BY 1, 2),
       |s AS MATERIALIZED (
       |  SELECT pair, time, CAST(vol AS DOUBLE) AS v,
       |         row_number() OVER (PARTITION BY pair ORDER BY time) AS rn
       |  FROM cv),
       |r AS (
       |  SELECT pair, rn, time, v AS fseed, CAST(NULL AS DOUBLE) AS fprev,
       |         v AS sseed, CAST(NULL AS DOUBLE) AS sprev
       |  FROM s WHERE rn = 1
       |  UNION ALL
       |  SELECT s.pair, s.rn, s.time,
       |         CASE WHEN s.rn < $fast THEN r.fseed + s.v
       |              ELSE CAST(0.0 AS DOUBLE) END,
       |         CASE WHEN s.rn < $fast THEN NULL
       |              WHEN s.rn = $fast THEN (r.fseed + s.v) / $fast
       |              ELSE (s.v - r.fprev) * (2.0 / ${fast + 1}) + r.fprev END,
       |         CASE WHEN s.rn < $slow THEN r.sseed + s.v
       |              ELSE CAST(0.0 AS DOUBLE) END,
       |         CASE WHEN s.rn < $slow THEN NULL
       |              WHEN s.rn = $slow THEN (r.sseed + s.v) / $slow
       |              ELSE (s.v - r.sprev) * (2.0 / ${slow + 1}) + r.sprev END
       |  FROM r JOIN s ON s.pair = r.pair AND s.rn = r.rn + 1)
       |SELECT pair, '1m' AS timeframe, epoch(time)::BIGINT AS time_s,
       |       $slow AS period,
       |       CASE WHEN sprev IS NOT NULL AND sprev <> 0
       |            THEN round((100.0 * (fprev - sprev) / sprev)::VARCHAR::DECIMAL(38,23), 6)::DOUBLE END AS value
       |FROM r""".stripMargin

  /** STC: the five-layer interleave replayed with LIST-state rings in the
    * recursion — `list_append` + tail-slice keeps the last `cycle` values,
    * `list_min`/`list_max` are the stochastic windows (order statistics:
    * no summation surface), the two smoothers are scalar carries. Flat
    * windows carry the previous %K (init 0), which also covers the first
    * (size-1) window. */
  private def stcSql(fast: Int, slow: Int, cycle: Int): String =
    s"""WITH RECURSIVE $ticksCte, $dedupCte, $c1mCte,
       |c AS MATERIALIZED (SELECT pair, time, close,
       |             row_number() OVER (PARTITION BY pair ORDER BY time) AS rn
       |      FROM c1m),
       |r AS (
       |  SELECT pair, rn, time,
       |         close AS fseed, CAST(NULL AS DOUBLE) AS fprev,
       |         close AS sseed, CAST(NULL AS DOUBLE) AS sprev,
       |         []::DOUBLE[] AS ringm, CAST(0.0 AS DOUBLE) AS k1,
       |         CAST(NULL AS DOUBLE) AS d1,
       |         []::DOUBLE[] AS ringd, CAST(0.0 AS DOUBLE) AS k2,
       |         CAST(NULL AS DOUBLE) AS stc
       |  FROM c WHERE rn = 1
       |  UNION ALL
       |  SELECT pair, rn, time, fseed, fprev, sseed, sprev,
       |         ringm, k1, d1, ringd, k2,
       |         CASE WHEN rn < $slow THEN stc_0
       |              WHEN stc_0 IS NULL THEN k2
       |              ELSE stc_0 + 0.5 * (k2 - stc_0) END AS stc
       |  FROM (
       |    SELECT *,
       |           CASE WHEN rn < $slow THEN ringd_0
       |                ELSE (list_append(ringd_0, d1))[greatest(len(ringd_0) + 2 - $cycle, 1):] END AS ringd,
       |           CASE WHEN rn < $slow THEN k2_0
       |                WHEN list_max((list_append(ringd_0, d1))[greatest(len(ringd_0) + 2 - $cycle, 1):])
       |                     <> list_min((list_append(ringd_0, d1))[greatest(len(ringd_0) + 2 - $cycle, 1):])
       |                THEN 100.0 * (d1 - list_min((list_append(ringd_0, d1))[greatest(len(ringd_0) + 2 - $cycle, 1):]))
       |                     / (list_max((list_append(ringd_0, d1))[greatest(len(ringd_0) + 2 - $cycle, 1):])
       |                        - list_min((list_append(ringd_0, d1))[greatest(len(ringd_0) + 2 - $cycle, 1):]))
       |                ELSE k2_0 END AS k2
       |    FROM (
       |      SELECT *,
       |             CASE WHEN rn < $slow THEN d1_0
       |                  WHEN d1_0 IS NULL THEN k1
       |                  ELSE d1_0 + 0.5 * (k1 - d1_0) END AS d1
       |      FROM (
       |        SELECT *,
       |               CASE WHEN rn < $slow THEN ringm_0
       |                    ELSE (list_append(ringm_0, fprev - sprev))[greatest(len(ringm_0) + 2 - $cycle, 1):] END AS ringm,
       |               CASE WHEN rn < $slow THEN k1_0
       |                    WHEN list_max((list_append(ringm_0, fprev - sprev))[greatest(len(ringm_0) + 2 - $cycle, 1):])
       |                         <> list_min((list_append(ringm_0, fprev - sprev))[greatest(len(ringm_0) + 2 - $cycle, 1):])
       |                    THEN 100.0 * ((fprev - sprev) - list_min((list_append(ringm_0, fprev - sprev))[greatest(len(ringm_0) + 2 - $cycle, 1):]))
       |                         / (list_max((list_append(ringm_0, fprev - sprev))[greatest(len(ringm_0) + 2 - $cycle, 1):])
       |                            - list_min((list_append(ringm_0, fprev - sprev))[greatest(len(ringm_0) + 2 - $cycle, 1):]))
       |                    ELSE k1_0 END AS k1
       |        FROM (
       |          SELECT c.pair, c.rn, c.time,
       |                 r.ringm AS ringm_0, r.k1 AS k1_0, r.d1 AS d1_0,
       |                 r.ringd AS ringd_0, r.k2 AS k2_0, r.stc AS stc_0,
       |                 CASE WHEN c.rn < $fast THEN r.fseed + c.close
       |                      ELSE CAST(0.0 AS DOUBLE) END AS fseed,
       |                 CASE WHEN c.rn < $fast THEN NULL
       |                      WHEN c.rn = $fast THEN (r.fseed + c.close) / $fast
       |                      ELSE (c.close - r.fprev) * (2.0 / ${fast + 1}) + r.fprev END AS fprev,
       |                 CASE WHEN c.rn < $slow THEN r.sseed + c.close
       |                      ELSE CAST(0.0 AS DOUBLE) END AS sseed,
       |                 CASE WHEN c.rn < $slow THEN NULL
       |                      WHEN c.rn = $slow THEN (r.sseed + c.close) / $slow
       |                      ELSE (c.close - r.sprev) * (2.0 / ${slow + 1}) + r.sprev END AS sprev
       |          FROM r JOIN c ON c.pair = r.pair AND c.rn = r.rn + 1) t0) t1) t2) t3)
       |SELECT pair, '1m' AS timeframe, epoch(time)::BIGINT AS time_s,
       |       $slow AS period,
       |       CASE WHEN rn >= $slow
       |            THEN round((stc)::VARCHAR::DECIMAL(38,23), 6)::DOUBLE END AS value
       |FROM r""".stripMargin

  /** BOP: the eom exact chain — %.6f-snapped per-bar ratio, exact decimal
    * sliding sum, integer micro HALF_UP mean. */
  private def bopSql(p: Int): String =
    s"""WITH $ticksCte, $dedupCte, $c1mCte,
       |b AS (SELECT pair, time,
       |        CASE WHEN high = low THEN (0.0)::DECIMAL(18,6)
       |             ELSE round(((close - open) / (high - low))::VARCHAR::DECIMAL(38,23), 6)::DECIMAL(18,6)
       |        END AS b6,
       |        row_number() OVER w AS rn
       |      FROM c1m WINDOW w AS (PARTITION BY pair ORDER BY time)),
       |s AS (SELECT pair, time, rn,
       |        CAST(sum(b6) OVER (PARTITION BY pair ORDER BY time
       |          ROWS BETWEEN ${p - 1} PRECEDING AND CURRENT ROW)
       |             * 1000000 AS BIGINT) AS micro
       |      FROM b),
       |q AS (SELECT pair, time, rn,
       |        CASE WHEN micro >= 0 THEN (micro * 2 + $p) // (2 * $p)
       |             ELSE -(((-micro) * 2 + $p) // (2 * $p)) END AS qv
       |      FROM s)
       |SELECT pair, '1m' AS timeframe, epoch(time)::BIGINT AS time_s,
       |       $p AS period,
       |       CASE WHEN rn >= $p
       |            THEN CAST(qv AS DOUBLE) / 1000000.0 END AS value
       |FROM q""".stripMargin

  /** KVO: the trend state machine (sign of Δhlc, cumulative-measure reset
    * on flips) replayed in the recursion's inner subquery, vf derived per
    * step, dual parallel EMA stages seeded from rn=2 inputs (the tsiSql
    * boundary arithmetic: seeds at fast+1 / slow+1). */
  private def klingerSql(fast: Int, slow: Int): String =
    s"""WITH RECURSIVE $ticksCte, $dedupCte, $c1vCte,
       |c AS MATERIALIZED (SELECT pair, time, high, low, close, vol,
       |             row_number() OVER (PARTITION BY pair ORDER BY time) AS rn
       |      FROM c1v),
       |r AS (
       |  SELECT pair, rn, time,
       |         high + low + close AS hlc, 0 AS trend,
       |         CAST(0.0 AS DOUBLE) AS cm, high - low AS dm,
       |         CAST(0.0 AS DOUBLE) AS fseed, CAST(NULL AS DOUBLE) AS fprev,
       |         CAST(0.0 AS DOUBLE) AS sseed, CAST(NULL AS DOUBLE) AS sprev
       |  FROM c WHERE rn = 1
       |  UNION ALL
       |  SELECT pair, rn, time, hlc, trend, cm, dm,
       |         CASE WHEN rn <= $fast THEN fseed_0 + vf
       |              ELSE CAST(0.0 AS DOUBLE) END AS fseed,
       |         CASE WHEN rn <= $fast THEN NULL
       |              WHEN rn = ${fast + 1} THEN (fseed_0 + vf) / $fast
       |              ELSE (vf - fprev_0) * (2.0 / ${fast + 1}) + fprev_0 END AS fprev,
       |         CASE WHEN rn <= $slow THEN sseed_0 + vf
       |              ELSE CAST(0.0 AS DOUBLE) END AS sseed,
       |         CASE WHEN rn <= $slow THEN NULL
       |              WHEN rn = ${slow + 1} THEN (sseed_0 + vf) / $slow
       |              ELSE (vf - sprev_0) * (2.0 / ${slow + 1}) + sprev_0 END AS sprev
       |  FROM (
       |    SELECT pair, rn, time, hlc, trend, cm, dm,
       |           fseed_0, fprev_0, sseed_0, sprev_0,
       |           CASE WHEN cm = 0.0 THEN 0.0
       |                ELSE vol * abs(2.0 * dm / cm - 1.0) * trend * 100.0
       |           END AS vf
       |    FROM (
       |      SELECT c.pair, c.rn, c.time, c.vol,
       |             c.high + c.low + c.close AS hlc,
       |             CASE WHEN c.high + c.low + c.close > r.hlc THEN 1 ELSE -1 END AS trend,
       |             CASE WHEN (CASE WHEN c.high + c.low + c.close > r.hlc THEN 1 ELSE -1 END) = r.trend
       |                  THEN r.cm + (c.high - c.low)
       |                  ELSE r.dm + (c.high - c.low) END AS cm,
       |             c.high - c.low AS dm,
       |             r.fseed AS fseed_0, r.fprev AS fprev_0,
       |             r.sseed AS sseed_0, r.sprev AS sprev_0
       |      FROM r JOIN c ON c.pair = r.pair AND c.rn = r.rn + 1) t0) t1)
       |SELECT pair, '1m' AS timeframe, epoch(time)::BIGINT AS time_s,
       |       $slow AS period,
       |       CASE WHEN sprev IS NOT NULL
       |            THEN round((fprev - sprev)::VARCHAR::DECIMAL(38,23), 6)::DOUBLE END AS value
       |FROM r""".stripMargin

  /** PPO: the pvoSql dual-EMA recursion over the CLOSE series. */
  private def ppoSql(fast: Int, slow: Int): String =
    s"""WITH RECURSIVE $ticksCte, $dedupCte, $c1mCte,
       |s AS MATERIALIZED (
       |  SELECT pair, time, close AS v,
       |         row_number() OVER (PARTITION BY pair ORDER BY time) AS rn
       |  FROM c1m),
       |r AS (
       |  SELECT pair, rn, time, v AS fseed, CAST(NULL AS DOUBLE) AS fprev,
       |         v AS sseed, CAST(NULL AS DOUBLE) AS sprev
       |  FROM s WHERE rn = 1
       |  UNION ALL
       |  SELECT s.pair, s.rn, s.time,
       |         CASE WHEN s.rn < $fast THEN r.fseed + s.v
       |              ELSE CAST(0.0 AS DOUBLE) END,
       |         CASE WHEN s.rn < $fast THEN NULL
       |              WHEN s.rn = $fast THEN (r.fseed + s.v) / $fast
       |              ELSE (s.v - r.fprev) * (2.0 / ${fast + 1}) + r.fprev END,
       |         CASE WHEN s.rn < $slow THEN r.sseed + s.v
       |              ELSE CAST(0.0 AS DOUBLE) END,
       |         CASE WHEN s.rn < $slow THEN NULL
       |              WHEN s.rn = $slow THEN (r.sseed + s.v) / $slow
       |              ELSE (s.v - r.sprev) * (2.0 / ${slow + 1}) + r.sprev END
       |  FROM r JOIN s ON s.pair = r.pair AND s.rn = r.rn + 1)
       |SELECT pair, '1m' AS timeframe, epoch(time)::BIGINT AS time_s,
       |       $slow AS period,
       |       CASE WHEN sprev IS NOT NULL AND sprev <> 0
       |            THEN round((100.0 * (fprev - sprev) / sprev)::VARCHAR::DECIMAL(38,23), 6)::DOUBLE END AS value
       |FROM r""".stripMargin

  /** VHF: order-statistic numerator over the frame, 6-dp-snapped |Δclose|
    * for an exact decimal denominator — one float division per row. */
  private def vhfSql(p: Int): String =
    s"""WITH $ticksCte, $dedupCte, $c1mCte,
       |b AS (SELECT pair, time, close,
       |        round((abs(close - lag(close) OVER w))::VARCHAR::DECIMAL(38,23), 6)::DECIMAL(18,6) AS d6,
       |        row_number() OVER w AS rn
       |      FROM c1m WINDOW w AS (PARTITION BY pair ORDER BY time)),
       |s AS (SELECT pair, time, rn,
       |        max(close) OVER fr AS mx, min(close) OVER fr AS mn,
       |        sum(d6) OVER fr AS den
       |      FROM b WINDOW fr AS (PARTITION BY pair ORDER BY time
       |        ROWS BETWEEN ${p - 1} PRECEDING AND CURRENT ROW))
       |SELECT pair, '1m' AS timeframe, epoch(time)::BIGINT AS time_s,
       |       $p AS period,
       |       CASE WHEN rn >= ${p + 1} AND den <> 0
       |            THEN round(((mx - mn) / den::DOUBLE)::VARCHAR::DECIMAL(38,23), 6)::DOUBLE END AS value
       |FROM s""".stripMargin

  /** StochRSI: the rsiSql Wilder recursion kept RAW (no per-row rounding),
    * then a rolling min/max frame over the DEFINED rsi rows — order
    * statistics compose with the bit-exact recursion without any new
    * float-summation surface. */
  private def stochRsiSql(p: Int, n: Int): String =
    s"""WITH RECURSIVE $ticksCte, $dedupCte, $c1mCte,
       |c AS MATERIALIZED (SELECT pair, time, close,
       |             row_number() OVER (PARTITION BY pair ORDER BY time) AS rn
       |      FROM c1m),
       |r AS (
       |  SELECT pair, rn, time, close AS prev_close,
       |         CAST(0.0 AS DOUBLE) AS avg_gain, CAST(0.0 AS DOUBLE) AS avg_loss
       |  FROM c WHERE rn = 1
       |  UNION ALL
       |  SELECT c.pair, c.rn, c.time, c.close,
       |         CASE WHEN c.rn <= $p
       |                THEN r.avg_gain + greatest(c.close - r.prev_close, 0.0)
       |              WHEN c.rn = ${p + 1}
       |                THEN (r.avg_gain + greatest(c.close - r.prev_close, 0.0)) / $p
       |              ELSE (r.avg_gain * ${p - 1}
       |                    + greatest(c.close - r.prev_close, 0.0)) / $p END,
       |         CASE WHEN c.rn <= $p
       |                THEN r.avg_loss + greatest(r.prev_close - c.close, 0.0)
       |              WHEN c.rn = ${p + 1}
       |                THEN (r.avg_loss + greatest(r.prev_close - c.close, 0.0)) / $p
       |              ELSE (r.avg_loss * ${p - 1}
       |                    + greatest(r.prev_close - c.close, 0.0)) / $p END
       |  FROM r JOIN c ON c.pair = r.pair AND c.rn = r.rn + 1),
       |v AS (
       |  SELECT pair, time,
       |         CASE WHEN avg_gain + avg_loss = 0.0 THEN 0.0
       |              ELSE 100.0 * avg_gain / (avg_gain + avg_loss) END AS rsi
       |  FROM r WHERE rn > $p),
       |s AS (
       |  SELECT pair, time, rsi,
       |         row_number() OVER w AS rn2,
       |         min(rsi) OVER (w ROWS BETWEEN ${n - 1} PRECEDING AND CURRENT ROW) AS mn,
       |         max(rsi) OVER (w ROWS BETWEEN ${n - 1} PRECEDING AND CURRENT ROW) AS mx
       |  FROM v WINDOW w AS (PARTITION BY pair ORDER BY time))
       |SELECT pair, '1m' AS timeframe, epoch(time)::BIGINT AS time_s,
       |       $p AS period,
       |       CASE WHEN rn2 >= $n AND mx <> mn
       |            THEN round((100.0 * (rsi - mn) / (mx - mn))::VARCHAR::DECIMAL(38,23), 6)::DOUBLE END AS value
       |FROM s""".stripMargin

  /** KST: four %.6f-snapped ROCs → exact-decimal sliding sums → integer
    * micro HALF_UP means → weighted long sum. The only float op on either
    * engine is the final /1e6, so parity is structural. */
  private def kstSql(rocs: Seq[Int], smas: Seq[Int]): String = {
    val defFrom = rocs.lazyZip(smas).map(_ + _).max
    val rocCols = rocs.zipWithIndex.map { case (n, i) =>
      s"""round((100.0 * (close - lag(close, $n) OVER w) / lag(close, $n) OVER w)::VARCHAR::DECIMAL(38,23), 6)::DECIMAL(18,6) AS roc$i"""
    }.mkString(",\n|        ")
    val sumCols = smas.zipWithIndex.map { case (l, i) =>
      s"""CAST(sum(roc$i) OVER (PARTITION BY pair ORDER BY time
         |          ROWS BETWEEN ${l - 1} PRECEDING AND CURRENT ROW) * 1000000 AS BIGINT) AS m$i""".stripMargin
    }.mkString(",\n|        ")
    val qCols = smas.zipWithIndex.map { case (l, i) =>
      s"""CASE WHEN m$i >= 0 THEN (m$i * 2 + $l) // (2 * $l)
         |             ELSE -(((-m$i) * 2 + $l) // (2 * $l)) END AS q$i""".stripMargin
    }.mkString(",\n|        ")
    val kst = smas.indices.map(i => s"${i + 1} * q$i").mkString(" + ")
    s"""WITH $ticksCte, $dedupCte, $c1mCte,
       |b AS (SELECT pair, time, row_number() OVER w AS rn,
       |        $rocCols
       |      FROM c1m WINDOW w AS (PARTITION BY pair ORDER BY time)),
       |s AS (SELECT pair, time, rn,
       |        $sumCols
       |      FROM b),
       |q AS (SELECT pair, time, rn,
       |        $qCols
       |      FROM s)
       |SELECT pair, '1m' AS timeframe, epoch(time)::BIGINT AS time_s,
       |       $defFrom AS period,
       |       CASE WHEN rn >= $defFrom
       |            THEN CAST($kst AS DOUBLE) / 1000000.0 END AS value
       |FROM q""".stripMargin
  }

  /** TSI: TWO chained EMA stacks (slow→fast) run in parallel over the
    * lag-derived momentum series `mom = close − prev_close` and its
    * absolute value. Inputs start at rn=2, so the slow stages seed at
    * rn=slow+1 and the fast stages at rn=slow+fast (the [[trixSql]]
    * chained-stage pattern with a 1-row input offset). */
  private def tsiSql(slow: Int, fast: Int, tf: String = "1m", d: Int = 60): String =
    s"""WITH RECURSIVE $ticksCte, $dedupCte, $c1mCte,
       |${tfCloseCte("b", tf, d)},
       |c AS MATERIALIZED (SELECT pair, ts AS time, close,
       |             row_number() OVER (PARTITION BY pair ORDER BY ts) AS rn
       |      FROM b),
       |r AS (
       |  SELECT pair, rn, time, close,
       |         CAST(0.0 AS DOUBLE) AS msum, CAST(NULL AS DOUBLE) AS me1,
       |         CAST(0.0 AS DOUBLE) AS msum2, CAST(NULL AS DOUBLE) AS me2,
       |         CAST(0.0 AS DOUBLE) AS asum, CAST(NULL AS DOUBLE) AS ae1,
       |         CAST(0.0 AS DOUBLE) AS asum2, CAST(NULL AS DOUBLE) AS ae2
       |  FROM c WHERE rn = 1
       |  UNION ALL
       |  SELECT pair, rn, time, close, msum, me1,
       |         CASE WHEN rn <= $slow THEN msum2_0
       |              WHEN rn < ${slow + fast} THEN msum2_0 + me1
       |              ELSE CAST(0.0 AS DOUBLE) END AS msum2,
       |         CASE WHEN rn < ${slow + fast} THEN NULL
       |              WHEN rn = ${slow + fast} THEN (msum2_0 + me1) / $fast
       |              ELSE (me1 - me2_0) * (2.0 / ${fast + 1}) + me2_0 END AS me2,
       |         asum, ae1,
       |         CASE WHEN rn <= $slow THEN asum2_0
       |              WHEN rn < ${slow + fast} THEN asum2_0 + ae1
       |              ELSE CAST(0.0 AS DOUBLE) END AS asum2,
       |         CASE WHEN rn < ${slow + fast} THEN NULL
       |              WHEN rn = ${slow + fast} THEN (asum2_0 + ae1) / $fast
       |              ELSE (ae1 - ae2_0) * (2.0 / ${fast + 1}) + ae2_0 END AS ae2
       |  FROM (
       |    SELECT c.pair, c.rn, c.time, c.close,
       |           r.msum2 AS msum2_0, r.me2 AS me2_0,
       |           r.asum2 AS asum2_0, r.ae2 AS ae2_0,
       |           CASE WHEN c.rn <= $slow THEN r.msum + (c.close - r.close)
       |                ELSE CAST(0.0 AS DOUBLE) END AS msum,
       |           CASE WHEN c.rn <= $slow THEN NULL
       |                WHEN c.rn = ${slow + 1} THEN (r.msum + (c.close - r.close)) / $slow
       |                ELSE ((c.close - r.close) - r.me1) * (2.0 / ${slow + 1}) + r.me1 END AS me1,
       |           CASE WHEN c.rn <= $slow THEN r.asum + abs(c.close - r.close)
       |                ELSE CAST(0.0 AS DOUBLE) END AS asum,
       |           CASE WHEN c.rn <= $slow THEN NULL
       |                WHEN c.rn = ${slow + 1} THEN (r.asum + abs(c.close - r.close)) / $slow
       |                ELSE (abs(c.close - r.close) - r.ae1) * (2.0 / ${slow + 1}) + r.ae1 END AS ae1
       |    FROM r JOIN c ON c.pair = r.pair AND c.rn = r.rn + 1) t1)
       |SELECT pair, '$tf' AS timeframe, time AS time_s,
       |       $slow AS period,
       |       CASE WHEN ae2 IS NOT NULL AND ae2 <> 0
       |            THEN round((100.0 * me2 / ae2)::VARCHAR::DECIMAL(38,23), 6)::DOUBLE END AS value
       |FROM r""".stripMargin

  private def eomSql(p: Int): String =
    s"""WITH $ticksCte, $dedupCte, $c1vCte,
       |b AS (SELECT pair, time,
       |        round((((high + low) / 2
       |               - (lag(high) OVER w + lag(low) OVER w) / 2)
       |              * (high - low) / vol)::VARCHAR::DECIMAL(38,23), 6)::DECIMAL(18,6) AS emv6,
       |        row_number() OVER w AS rn
       |      FROM c1v WINDOW w AS (PARTITION BY pair ORDER BY time)),
       |s AS (SELECT pair, time, rn,
       |        CAST(sum(emv6) OVER (PARTITION BY pair ORDER BY time
       |          ROWS BETWEEN ${p - 1} PRECEDING AND CURRENT ROW)
       |             * 1000000 AS BIGINT) AS micro
       |      FROM b),
       |q AS (SELECT pair, time, rn,
       |        CASE WHEN micro >= 0 THEN (micro * 2 + $p) // (2 * $p)
       |             ELSE -(((-micro) * 2 + $p) // (2 * $p)) END AS qv
       |      FROM s)
       |SELECT pair, '1m' AS timeframe, epoch(time)::BIGINT AS time_s,
       |       $p AS period,
       |       CASE WHEN rn >= ${p + 1}
       |            THEN CAST(qv AS DOUBLE) / 1000000.0 END AS value
       |FROM q""".stripMargin

  /** DPO: pure integer micro-unit chain — grid closes, HALF_UP SMA mean
    * (the `(2a+d) // 2d` form), exact micro difference, one final /1e6. */
  private def dpoSql(p: Int): String = {
    val shift = p / 2 + 1
    s"""$prelude,
       |b AS (SELECT pair, time, close::DECIMAL(18,6) AS c6,
       |             row_number() OVER (PARTITION BY pair ORDER BY time) AS rn
       |      FROM c1m),
       |s AS (SELECT pair, time, rn, c6,
       |        CAST(sum(c6) OVER (PARTITION BY pair ORDER BY time
       |          ROWS BETWEEN ${p - 1} PRECEDING AND CURRENT ROW)
       |             * 1000000 AS BIGINT) AS smicro
       |      FROM b),
       |q AS (SELECT pair, time, rn, c6,
       |        CASE WHEN rn >= $p THEN
       |          CASE WHEN smicro >= 0 THEN (smicro * 2 + $p) // (2 * $p)
       |               ELSE -(((-smicro) * 2 + $p) // (2 * $p)) END
       |        END AS qv
       |      FROM s),
       |l AS (SELECT pair, time, rn, c6,
       |        lag(qv, $shift) OVER (PARTITION BY pair ORDER BY time) AS lq
       |      FROM q)
       |SELECT pair, '1m' AS timeframe, epoch(time)::BIGINT AS time_s,
       |       $p AS period,
       |       CASE WHEN rn >= ${p + shift}
       |            THEN CAST(CAST(c6 * 1000000 AS BIGINT) - lq AS DOUBLE) / 1000000.0
       |       END AS value
       |FROM l""".stripMargin
  }

  /** Mass index: the chained e1/e2 EMA recursion over the bar range, then
    * an exact decimal trailing sum of the 6-dp-snapped ratio (the emitted
    * value IS the sum — no division, no tie). */
  private def massSql(emaP: Int, sumP: Int): String =
    s"""WITH RECURSIVE $ticksCte, $dedupCte, $c1mCte,
       |c AS MATERIALIZED (
       |  SELECT pair, time, high - low AS x,
       |         row_number() OVER (PARTITION BY pair ORDER BY time) AS rn
       |  FROM c1m),
       |r AS (
       |  SELECT pair, rn, time, x AS s1, CAST(NULL AS DOUBLE) AS e1,
       |         CAST(0.0 AS DOUBLE) AS s2, CAST(NULL AS DOUBLE) AS e2
       |  FROM c WHERE rn = 1
       |  UNION ALL
       |  SELECT pair, rn, time, ns1, ne1,
       |         CASE WHEN rn < $emaP THEN s2
       |              WHEN rn < ${2 * emaP - 1} THEN s2 + ne1
       |              ELSE CAST(0.0 AS DOUBLE) END,
       |         CASE WHEN rn < ${2 * emaP - 1} THEN NULL
       |              WHEN rn = ${2 * emaP - 1} THEN (s2 + ne1) / $emaP
       |              ELSE (ne1 - e2) * (2.0 / ${emaP + 1}) + e2 END
       |  FROM (
       |    SELECT c.pair, c.rn, c.time, r.s2, r.e2,
       |           CASE WHEN c.rn < $emaP THEN r.s1 + c.x
       |                ELSE CAST(0.0 AS DOUBLE) END AS ns1,
       |           CASE WHEN c.rn < $emaP THEN NULL
       |                WHEN c.rn = $emaP THEN (r.s1 + c.x) / $emaP
       |                ELSE (c.x - r.e1) * (2.0 / ${emaP + 1}) + r.e1 END AS ne1
       |    FROM r JOIN c ON c.pair = r.pair AND c.rn = r.rn + 1) t),
       |m AS (SELECT pair, time,
       |        row_number() OVER (PARTITION BY pair ORDER BY time) AS rn,
       |        CASE WHEN e2 IS NOT NULL AND e2 <> 0
       |             THEN round((e1 / e2)::VARCHAR::DECIMAL(38,23), 6)::DECIMAL(18,6) END AS r6
       |      FROM r),
       |s AS (SELECT pair, time, rn,
       |        sum(r6) OVER (PARTITION BY pair ORDER BY time
       |          ROWS BETWEEN ${sumP - 1} PRECEDING AND CURRENT ROW) AS sm
       |      FROM m)
       |SELECT pair, '1m' AS timeframe, epoch(time)::BIGINT AS time_s,
       |       $emaP AS period,
       |       CASE WHEN rn >= ${2 * emaP - 2 + sumP}
       |            THEN round((CAST(sm AS DOUBLE))::VARCHAR::DECIMAL(38,23), 6)::DOUBLE END AS value
       |FROM s""".stripMargin

  private def ulcerSql(p: Int): String =
    s"""$prelude,
       |b AS (SELECT pair, time, close,
       |        max(close) OVER w AS mx,
       |        row_number() OVER (PARTITION BY pair ORDER BY time) AS rn
       |      FROM c1m
       |      WINDOW w AS (PARTITION BY pair ORDER BY time
       |                   ROWS BETWEEN ${p - 1} PRECEDING AND CURRENT ROW)),
       |d AS (SELECT pair, time, rn,
       |        round((100.0 * (close - mx) / mx)::VARCHAR::DECIMAL(38,23), 6)::DECIMAL(18,6) AS dd6
       |      FROM b),
       |s AS (SELECT pair, time, rn,
       |        sum(dd6 * CAST(dd6 AS DECIMAL(19,6))) OVER
       |          (PARTITION BY pair ORDER BY time
       |           ROWS BETWEEN ${p - 1} PRECEDING AND CURRENT ROW) AS sq
       |      FROM d)
       |SELECT pair, '1m' AS timeframe, epoch(time)::BIGINT AS time_s,
       |       $p AS period,
       |       CASE WHEN rn >= $p
       |            THEN round((sqrt(CAST(sq AS DOUBLE) / $p))::VARCHAR::DECIMAL(38,23), 6)::DOUBLE END AS value
       |FROM s""".stripMargin

  /** Rolling VaR: the m-th smallest of the trailing list of 6-dp returns —
    * exact decimal selection, no quantile interpolation anywhere. */
  private def varSql(window: Int, m: Int): String =
    s"""$prelude,
       |b AS (SELECT pair, time, close,
       |        lag(close) OVER w AS pc,
       |        row_number() OVER w AS rn
       |      FROM c1m WINDOW w AS (PARTITION BY pair ORDER BY time)),
       |r AS (SELECT pair, time, rn,
       |        round(((close - pc) / pc)::VARCHAR::DECIMAL(38,23), 6)::DECIMAL(18,6) AS r6
       |      FROM b),
       |v AS (SELECT pair, time, rn,
       |        list(r6) OVER (PARTITION BY pair ORDER BY time
       |          ROWS BETWEEN $window PRECEDING AND 1 PRECEDING) AS vs
       |      FROM r)
       |SELECT pair, '1m' AS timeframe, epoch(time)::BIGINT AS time_s,
       |       $window AS window, $m AS m,
       |       CASE WHEN rn >= ${window + 2}
       |            THEN CAST(list_sort(vs)[$m] AS DOUBLE) END AS var_m
       |FROM v""".stripMargin

  private def cmoSql(p: Int): String =
    s"""$prelude,
       |x AS (SELECT pair, time, close::DECIMAL(18,6) AS c6 FROM c1m),
       |y AS (SELECT pair, time, c6 - lag(c6) OVER w AS d6,
       |        row_number() OVER w AS rn
       |      FROM x WINDOW w AS (PARTITION BY pair ORDER BY time)),
       |f AS (SELECT pair, time, rn,
       |        CASE WHEN d6 > 0 THEN d6 END AS up,
       |        CASE WHEN d6 < 0 THEN -d6 END AS dn
       |      FROM y),
       |s AS (SELECT pair, time, rn,
       |        coalesce(CAST(sum(up) OVER w AS DOUBLE), 0.0) AS sup,
       |        coalesce(CAST(sum(dn) OVER w AS DOUBLE), 0.0) AS sdn
       |      FROM f
       |      WINDOW w AS (PARTITION BY pair ORDER BY time
       |                   ROWS BETWEEN ${p - 1} PRECEDING AND CURRENT ROW))
       |SELECT pair, '1m' AS timeframe, epoch(time)::BIGINT AS time_s,
       |       $p AS period,
       |       CASE WHEN rn >= ${p + 1} AND sup + sdn <> 0.0
       |            THEN round((100.0 * (sup - sdn) / (sup + sdn))::VARCHAR::DECIMAL(38,23), 6)::DOUBLE END AS value
       |FROM s""".stripMargin

  /** F3 grid oracle: every (indicator, period, timeframe) branch of the
    * flow's one-plan union — SMA as a frame aggregate, EMA/RSI each as its
    * own recursive CTE — over shared per-timeframe candle CTEs. Mirrors
    * [[graft.operators.Flows.indicatorFlow]]'s fan-out (the reference's
    * 45 Prefect tasks, transform.py:79-121). */
  /** The fused-grid oracle. With `cutoff` set, replays the LIVE pipeline's
    * semantics instead of the batch flow's: ticks restricted below the
    * cutoff, and every timeframe's bar series truncated to bars whose
    * window has CLOSED against the pair's max tick time (`ts + dur <=
    * max_tick`) — the e2e pipeline's finality rule. The finality cut is a
    * per-pair series SUFFIX, so row numbers and every recursion prefix
    * are unchanged. */
  private def gridSql(periods: Seq[Int], tfs: Seq[(String, Int)],
                      cutoff: Option[String] = None): String = {
    val closes = tfs.flatMap { case (tf, d) =>
      cutoff match {
        case None => Seq(tfCloseCte(s"b_$tf", tf, d))
        case Some(_) => Seq(tfCloseCte(s"raw_$tf", tf, d),
          s"""b_$tf AS (SELECT r.pair, r.ts, r.close FROM raw_$tf r
             |  JOIN mx ON r.pair = mx.pair
             |  WHERE r.ts + $d <= epoch(mx.mt)::BIGINT)""".stripMargin)
      }
    }
    val rns = tfs.map { case (tf, _) =>
      s"""n_$tf AS MATERIALIZED (SELECT pair, ts, close,
         |       row_number() OVER (PARTITION BY pair ORDER BY ts) AS rn
         |  FROM b_$tf)""".stripMargin
    }
    def emaRec(p: Int, tf: String) =
      s"""r_ema_${p}_$tf AS (
         |  SELECT pair, rn, ts, close AS seed_sum, CAST(NULL AS DOUBLE) AS prev
         |  FROM n_$tf WHERE rn = 1
         |  UNION ALL
         |  SELECT c.pair, c.rn, c.ts,
         |         CASE WHEN c.rn < $p THEN r.seed_sum + c.close
         |              ELSE CAST(0.0 AS DOUBLE) END,
         |         CASE WHEN c.rn < $p THEN NULL
         |              WHEN c.rn = $p THEN (r.seed_sum + c.close) / $p
         |              ELSE (c.close - r.prev) * (2.0 / ${p + 1}) + r.prev END
         |  FROM r_ema_${p}_$tf r JOIN n_$tf c
         |    ON c.pair = r.pair AND c.rn = r.rn + 1)""".stripMargin
    def rsiRec(p: Int, tf: String) =
      s"""r_rsi_${p}_$tf AS (
         |  SELECT pair, rn, ts, close AS prev_close,
         |         CAST(0.0 AS DOUBLE) AS avg_gain, CAST(0.0 AS DOUBLE) AS avg_loss
         |  FROM n_$tf WHERE rn = 1
         |  UNION ALL
         |  SELECT c.pair, c.rn, c.ts, c.close,
         |         CASE WHEN c.rn <= $p
         |                THEN r.avg_gain + greatest(c.close - r.prev_close, 0.0)
         |              WHEN c.rn = ${p + 1}
         |                THEN (r.avg_gain + greatest(c.close - r.prev_close, 0.0)) / $p
         |              ELSE (r.avg_gain * ${p - 1}
         |                    + greatest(c.close - r.prev_close, 0.0)) / $p END,
         |         CASE WHEN c.rn <= $p
         |                THEN r.avg_loss + greatest(r.prev_close - c.close, 0.0)
         |              WHEN c.rn = ${p + 1}
         |                THEN (r.avg_loss + greatest(r.prev_close - c.close, 0.0)) / $p
         |              ELSE (r.avg_loss * ${p - 1}
         |                    + greatest(r.prev_close - c.close, 0.0)) / $p END
         |  FROM r_rsi_${p}_$tf r JOIN n_$tf c
         |    ON c.pair = r.pair AND c.rn = r.rn + 1)""".stripMargin
    val recs = for { (tf, _) <- tfs; p <- periods; r <- Seq(emaRec(p, tf), rsiRec(p, tf)) } yield r
    def smaBranch(p: Int, tf: String) =
      s"""SELECT 'SMA' AS indicator, pair, '$tf' AS timeframe, ts AS time_s, $p AS period,
         |       CASE WHEN rn >= $p
         |            THEN round((avg(close) OVER (PARTITION BY pair ORDER BY ts
         |                 ROWS BETWEEN ${p - 1} PRECEDING AND CURRENT ROW))::VARCHAR::DECIMAL(38,23), 6)::DOUBLE
         |       END AS value
         |FROM n_$tf""".stripMargin
    def emaBranch(p: Int, tf: String) =
      s"""SELECT 'EMA' AS indicator, pair, '$tf' AS timeframe, ts AS time_s, $p AS period,
         |       round((prev)::VARCHAR::DECIMAL(38,23), 6)::DOUBLE AS value
         |FROM r_ema_${p}_$tf""".stripMargin
    def rsiBranch(p: Int, tf: String) =
      s"""SELECT 'RSI' AS indicator, pair, '$tf' AS timeframe, ts AS time_s, $p AS period,
         |       CASE WHEN rn > $p THEN
         |         CASE WHEN avg_gain + avg_loss = 0.0 THEN 0.0
         |              ELSE round((100.0 * avg_gain / (avg_gain + avg_loss))::VARCHAR::DECIMAL(38,23), 6)::DOUBLE END
         |       END AS value
         |FROM r_rsi_${p}_$tf""".stripMargin
    val branches = for {
      (tf, _) <- tfs; p <- periods
      b <- Seq(smaBranch(p, tf), emaBranch(p, tf), rsiBranch(p, tf))
    } yield b
    val prelude = cutoff match {
      case None => s"$ticksCte, $dedupCte, $c1mCte"
      case Some(ts) => livePrelude(ts)
    }
    s"""WITH RECURSIVE $prelude,
       |${(closes ++ rns ++ recs).mkString(",\n")}
       |${branches.mkString("\nUNION ALL\n")}""".stripMargin
  }

  /** The live deployment's tick→candle prelude: wire %.6f rounding, the
    * cutoff, per-pair max tick time (bar finality), and the 1m base —
    * shared by the e2e grid oracle and the e2e signals oracle. */
  private def livePrelude(ts: String): String =
    s"""$ticksCte, $dedupCte,
       |-- the live pipeline's ticks crossed the wire as %.6f text
       |-- (Relay.toWireMessages), so the oracle replays that rounding
       |dcut AS (SELECT pair, time,
       |                printf('%.6f', bid)::DOUBLE AS bid,
       |                printf('%.6f', ask)::DOUBLE AS ask
       |         FROM dedup WHERE time < TIMESTAMP '$ts'),
       |mx AS (SELECT pair, max(time) AS mt FROM dcut GROUP BY 1),
       |c1m AS (
       |  SELECT pair, date_trunc('minute', time) AS time,
       |         min_by(bid, time) AS open, max(bid) AS high,
       |         min(bid) AS low, max_by(bid, time) AS close
       |  FROM dcut GROUP BY 1, 2)""".stripMargin

  /** The `e2e_live_pipeline` gate's oracle: the (14,28)×(1m,5m) grid with
    * the live pipeline's tick cutoff + bar-finality semantics. */
  private[queries] def liveGridOracle(wireEnd: String): String =
    gridSql(Seq(14, 28), Seq(("1m", 60), ("5m", 300)), cutoff = Some(wireEnd))

  /** The `e2e_live_signals` gate's oracle: golden/dead SMA crosses
    * (short × long) over the live deployment's FINAL bars per timeframe —
    * the one-shot restatement of [[graft.operators.Signals.strategy]]
    * composed over the live grid's SMA facts at the same cutoff. */
  private[queries] def liveSignalsOracle(wireEnd: String, shortP: Int,
                                         longP: Int,
                                         tfs: Seq[(String, Int)]): String = {
    val closes = tfs.flatMap { case (tf, d) =>
      Seq(tfCloseCte(s"raw_$tf", tf, d),
        s"""b_$tf AS (SELECT r.pair, r.ts, r.close FROM raw_$tf r
           |  JOIN mx ON r.pair = mx.pair
           |  WHERE r.ts + $d <= epoch(mx.mt)::BIGINT)""".stripMargin)
    }
    val xs = tfs.map { case (tf, _) =>
      s"""n_$tf AS (SELECT pair, ts, close,
         |       row_number() OVER (PARTITION BY pair ORDER BY ts) AS rn
         |  FROM b_$tf),
         |s_$tf AS (SELECT pair, ts,
         |  CASE WHEN rn >= $shortP
         |       THEN avg(close) OVER (PARTITION BY pair ORDER BY ts
         |            ROWS BETWEEN ${shortP - 1} PRECEDING AND CURRENT ROW)
         |  END AS ss,
         |  CASE WHEN rn >= $longP
         |       THEN avg(close) OVER (PARTITION BY pair ORDER BY ts
         |            ROWS BETWEEN ${longP - 1} PRECEDING AND CURRENT ROW)
         |  END AS sl
         |  FROM n_$tf),
         |x_$tf AS (SELECT pair, ts, ss, sl,
         |  lag(ss) OVER (PARTITION BY pair ORDER BY ts) AS ps,
         |  lag(sl) OVER (PARTITION BY pair ORDER BY ts) AS pl
         |  FROM s_$tf)""".stripMargin
    }
    val branches = tfs.map { case (tf, _) =>
      s"""SELECT pair, '$tf' AS timeframe, ts AS time_s,
         |       CASE WHEN ps <= pl AND ss > sl THEN 'BUY' ELSE 'SELL' END
         |         AS event_type,
         |       round((ss)::VARCHAR::DECIMAL(38,23), 6)::DOUBLE AS price,
         |       $shortP AS period
         |FROM x_$tf
         |WHERE (ps <= pl AND ss > sl) OR (ps >= pl AND ss < sl)""".stripMargin
    }
    s"""WITH ${livePrelude(wireEnd)},
       |${(closes ++ xs).mkString(",\n")}
       |${branches.mkString("\nUNION ALL\n")}""".stripMargin
  }

  /** The `e2e_live_trades` gate's oracle: the alternating trade machine
    * over [[liveSignalsOracle]]'s crosses, per (pair, timeframe). Crosses
    * strictly alternate, so the fold is the f6b pairing — drop events
    * before the first BUY, then each odd row pairs with its successor;
    * the trailing unpaired BUY is the open position (NULL exit). */
  private[queries] def liveTradesOracle(wireEnd: String, shortP: Int,
                                        longP: Int,
                                        tfs: Seq[(String, Int)]): String = {
    val closes = tfs.flatMap { case (tf, d) =>
      Seq(tfCloseCte(s"raw_$tf", tf, d),
        s"""b_$tf AS (SELECT r.pair, r.ts, r.close FROM raw_$tf r
           |  JOIN mx ON r.pair = mx.pair
           |  WHERE r.ts + $d <= epoch(mx.mt)::BIGINT)""".stripMargin)
    }
    val xs = tfs.map { case (tf, _) =>
      s"""n_$tf AS (SELECT pair, ts, close,
         |       row_number() OVER (PARTITION BY pair ORDER BY ts) AS rn
         |  FROM b_$tf),
         |s_$tf AS (SELECT pair, ts,
         |  CASE WHEN rn >= $shortP
         |       THEN avg(close) OVER (PARTITION BY pair ORDER BY ts
         |            ROWS BETWEEN ${shortP - 1} PRECEDING AND CURRENT ROW)
         |  END AS ss,
         |  CASE WHEN rn >= $longP
         |       THEN avg(close) OVER (PARTITION BY pair ORDER BY ts
         |            ROWS BETWEEN ${longP - 1} PRECEDING AND CURRENT ROW)
         |  END AS sl
         |  FROM n_$tf),
         |x_$tf AS (SELECT pair, ts, ss, sl,
         |  lag(ss) OVER (PARTITION BY pair ORDER BY ts) AS ps,
         |  lag(sl) OVER (PARTITION BY pair ORDER BY ts) AS pl
         |  FROM s_$tf)""".stripMargin
    }
    val pairing = tfs.map { case (tf, _) =>
      s"""ev_$tf AS (SELECT pair, ts,
         |  CASE WHEN ps <= pl AND ss > sl THEN 'BUY' ELSE 'SELL' END AS et,
         |  ss AS price
         |  FROM x_$tf
         |  WHERE (ps <= pl AND ss > sl) OR (ps >= pl AND ss < sl)),
         |fb_$tf AS (SELECT pair, min(ts) FILTER (et = 'BUY') AS fbt
         |           FROM ev_$tf GROUP BY pair),
         |kept_$tf AS (
         |  SELECT e.pair, e.ts, e.price,
         |         row_number() OVER (PARTITION BY e.pair ORDER BY e.ts) AS rn,
         |         lead(e.ts) OVER (PARTITION BY e.pair ORDER BY e.ts) AS x_ts,
         |         lead(e.price) OVER (PARTITION BY e.pair ORDER BY e.ts) AS x_price
         |  FROM ev_$tf e JOIN fb_$tf USING (pair) WHERE e.ts >= fbt)""".stripMargin
    }
    val branches = tfs.map { case (tf, _) =>
      s"""SELECT pair, '$tf' AS timeframe, ((rn + 1) // 2)::BIGINT AS trade_no,
         |       ts AS entry_s,
         |       round((price)::VARCHAR::DECIMAL(38,23), 6)::DOUBLE AS entry_price,
         |       x_ts::BIGINT AS exit_s,
         |       round((x_price)::VARCHAR::DECIMAL(38,23), 6)::DOUBLE AS exit_price,
         |       round((x_price - price)::VARCHAR::DECIMAL(38,23), 6)::DOUBLE AS pnl
         |FROM kept_$tf WHERE rn % 2 = 1""".stripMargin
    }
    s"""WITH ${livePrelude(wireEnd)},
       |${(closes ++ xs ++ pairing).mkString(",\n")}
       |${branches.mkString("\nUNION ALL\n")}""".stripMargin
  }

  /** The `e2e_live_trades_stopped` gate's oracle: the f6f stop-managed
    * state machine (candle closes of each timeframe interleaved with that
    * timeframe's crosses, candle-before-signal same-instant order)
    * replayed per (pair, timeframe) as a recursive CTE over the live
    * deployment's final bars — multipliers spelled
    * `CAST(1.0) − CAST(sl)` so both engines compare the identical double
    * (the f6f_trades_stopped pattern at the live cutoff). */
  private[queries] def liveStoppedOracle(wireEnd: String, shortP: Int,
                                         longP: Int, tfs: Seq[(String, Int)],
                                         sl: String, tp: String): String = {
    val msl = s"(CAST(1.0 AS DOUBLE) - CAST($sl AS DOUBLE))"
    val mtp = s"(CAST(1.0 AS DOUBLE) + CAST($tp AS DOUBLE))"
    val closes = tfs.flatMap { case (tf, d) =>
      Seq(tfCloseCte(s"raw_$tf", tf, d),
        s"""b_$tf AS (SELECT r.pair, r.ts, r.close FROM raw_$tf r
           |  JOIN mx ON r.pair = mx.pair
           |  WHERE r.ts + $d <= epoch(mx.mt)::BIGINT)""".stripMargin)
    }
    val xs = tfs.map { case (tf, _) =>
      s"""nb_$tf AS (SELECT pair, ts, close,
         |       row_number() OVER (PARTITION BY pair ORDER BY ts) AS rn
         |  FROM b_$tf),
         |s_$tf AS (SELECT pair, ts,
         |  CASE WHEN rn >= $shortP
         |       THEN avg(close) OVER (PARTITION BY pair ORDER BY ts
         |            ROWS BETWEEN ${shortP - 1} PRECEDING AND CURRENT ROW)
         |  END AS ss,
         |  CASE WHEN rn >= $longP
         |       THEN avg(close) OVER (PARTITION BY pair ORDER BY ts
         |            ROWS BETWEEN ${longP - 1} PRECEDING AND CURRENT ROW)
         |  END AS sl
         |  FROM nb_$tf),
         |x_$tf AS (SELECT pair, ts, ss, sl,
         |  lag(ss) OVER (PARTITION BY pair ORDER BY ts) AS ps,
         |  lag(sl) OVER (PARTITION BY pair ORDER BY ts) AS pl
         |  FROM s_$tf)""".stripMargin
    }
    val machines = tfs.map { case (tf, _) =>
      val exit = s"(n.kind = 2 OR (n.kind = 0 AND " +
        s"(n.px <= r.entry * $msl OR n.px >= r.entry * $mtp)))"
      s"""ev_$tf AS (
         |  SELECT pair, ts, 1 AS kind, ss AS px FROM x_$tf
         |  WHERE ps <= pl AND ss > sl
         |  UNION ALL
         |  SELECT pair, ts, 2, ss FROM x_$tf
         |  WHERE ps >= pl AND ss < sl),
         |m_$tf AS (
         |  SELECT pair, ts, 0 AS kind, close AS px FROM b_$tf
         |  UNION ALL
         |  SELECT pair, ts, kind, px FROM ev_$tf),
         |n_$tf AS MATERIALIZED (
         |  SELECT pair, ts, kind, px,
         |         row_number() OVER (PARTITION BY pair ORDER BY ts, kind) AS rn
         |  FROM m_$tf),
         |st_$tf AS (
         |  SELECT pair, CAST(0 AS BIGINT) AS rn, CAST(NULL AS BIGINT) AS etime,
         |         CAST(0.0 AS DOUBLE) AS entry, FALSE AS lng, 0 AS n_closed,
         |         CAST(NULL AS BIGINT) AS o_entry_s,
         |         CAST(NULL AS DOUBLE) AS o_entry_px,
         |         CAST(NULL AS BIGINT) AS o_exit_s,
         |         CAST(NULL AS DOUBLE) AS o_exit_px,
         |         CAST(NULL AS VARCHAR) AS o_reason
         |  FROM (SELECT DISTINCT pair FROM n_$tf)
         |  UNION ALL
         |  SELECT n.pair, n.rn,
         |         CASE WHEN NOT r.lng AND n.kind = 1 THEN n.ts
         |              WHEN r.lng AND $exit THEN NULL
         |              ELSE r.etime END,
         |         CASE WHEN NOT r.lng AND n.kind = 1 THEN n.px
         |              WHEN r.lng AND $exit THEN CAST(0.0 AS DOUBLE)
         |              ELSE r.entry END,
         |         CASE WHEN NOT r.lng THEN n.kind = 1 ELSE NOT $exit END,
         |         r.n_closed + CASE WHEN r.lng AND $exit THEN 1 ELSE 0 END,
         |         CASE WHEN r.lng AND $exit THEN r.etime END,
         |         CASE WHEN r.lng AND $exit THEN r.entry END,
         |         CASE WHEN r.lng AND $exit THEN n.ts END,
         |         CASE WHEN r.lng AND $exit THEN n.px END,
         |         CASE WHEN r.lng AND $exit THEN
         |           CASE WHEN n.kind = 2 THEN 'SIG'
         |                WHEN n.px <= r.entry * $msl THEN 'SL'
         |                ELSE 'TP' END END
         |  FROM st_$tf r JOIN n_$tf n ON n.pair = r.pair AND n.rn = r.rn + 1),
         |last_$tf AS (SELECT pair, max(rn) AS mx FROM n_$tf GROUP BY 1)""".stripMargin
    }
    val branches = tfs.map { case (tf, _) =>
      s"""SELECT pair, '$tf' AS timeframe, n_closed::BIGINT AS trade_no,
         |       o_entry_s AS entry_s,
         |       round((o_entry_px)::VARCHAR::DECIMAL(38,23), 6)::DOUBLE AS entry_price,
         |       o_exit_s AS exit_s,
         |       round((o_exit_px)::VARCHAR::DECIMAL(38,23), 6)::DOUBLE AS exit_price,
         |       o_reason AS reason,
         |       round((o_exit_px - o_entry_px)::VARCHAR::DECIMAL(38,23), 6)::DOUBLE AS pnl
         |FROM st_$tf WHERE o_exit_s IS NOT NULL
         |UNION ALL
         |SELECT r.pair, '$tf', (r.n_closed + 1)::BIGINT, r.etime,
         |       round((r.entry)::VARCHAR::DECIMAL(38,23), 6)::DOUBLE,
         |       CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE),
         |       CAST(NULL AS VARCHAR), CAST(NULL AS DOUBLE)
         |FROM st_$tf r JOIN last_$tf l ON r.pair = l.pair AND r.rn = l.mx
         |WHERE r.lng""".stripMargin
    }
    s"""WITH RECURSIVE ${livePrelude(wireEnd)},
       |${(closes ++ xs ++ machines).mkString(",\n")}
       |${branches.mkString("\nUNION ALL\n")}""".stripMargin
  }

  val oracleSql: Map[String, String] = Map(
    "u2b_ema_14_4h" -> emaSql(14, "4h", 14400),
    "u3b_rsi_14_30m" -> rsiSql(14, "30m", 1800),
    "f3_indicator_grid" -> gridSql(Seq(14, 28), Seq(("1m", 60), ("5m", 300))),
    // candleFlow always carries the 1m base alongside the configured
    // derived timeframes, so the oracle grid lists it too
    "f3b_indicator_grid_wide" ->
      gridSql(Seq(14, 56), Seq(("1m", 60), ("30m", 1800), ("4h", 14400))),
    // the full 45-combo default grid (15 recursive CTE pairs + 15 SMA
    // frame branches over 5 shared candle CTEs)
    "f3c_indicator_grid_full" ->
      gridSql(Seq(14, 28, 56), Seq(("1m", 60), ("5m", 300), ("30m", 1800),
        ("1h", 3600), ("4h", 14400))),
    // snapshot-resume is bit-exact, so incremental ≡ the plain full grid
    "s8j_incremental_grid" ->
      gridSql(Seq(14, 28), Seq(("1m", 60), ("5m", 300))),
    "u42_tsi_25_13_1m" -> tsiSql(25, 13),
    "u42b_tsi_30m" -> tsiSql(25, 13, "30m", 1800),
    "u43_kst_1m" -> kstSql(Seq(10, 15, 20, 30), Seq(10, 10, 10, 15)),
    "u44_stochrsi_14_1m" -> stochRsiSql(14, 14),
    "u45_ppo_1m" -> ppoSql(12, 26),
    "u47_klinger_1m" -> klingerSql(34, 55),
    "u48_bop_14_1m" -> bopSql(14),
    "u49_stc_1m" -> stcSql(23, 50, 10),
    "u46_vhf_28_1m" -> vhfSql(28),
    "u41_cmo_14_1m" -> cmoSql(14),
    "w23_var_100_1m" -> varSql(100, 5),
    "u40_ulcer_14_1m" -> ulcerSql(14),
    "u38_dpo_20_1m" -> dpoSql(20),
    "u39_mass_9_1m" -> massSql(9, 25),
    "u36_pvo_1m" -> pvoSql(12, 26),
    "u37_eom_14_1m" -> eomSql(14),
    "u35_chaikin_1m" -> chaikinSql(3, 10),
    "u29_awesome_1m" -> awesomeSql(5, 34),
    "u30_cmf_20_1m" -> cmfSql(20),
    "u31_adline_1m" -> adlineSql,
    "u32_force_13_1m" -> forceSql(13),
    "u33_hma_9_1m" -> hmaSql(9),
    "u34_coppock_1m" -> coppockSql(14, 11, 10),
    "w21_fractals_1m" -> fractalsSql(2),
    "u28_elder_ray_13_1m" -> elderSql(13),
    "w20_zigzag_10_1m" -> zigzagSql("0.1"),
    // 6-dp simple returns, exact decimal square sums, IEEE sqrt — the
    // identical chain as Indicators.realizedVol
    "w19_realized_vol" ->
      s"""$prelude,
         |d AS (SELECT pair, time, close, CAST(time AS DATE) AS day,
         |             lag(close) OVER (PARTITION BY pair, CAST(time AS DATE)
         |               ORDER BY time) AS pc
         |      FROM c1m),
         |e AS (SELECT pair, day,
         |             round(((close - pc) / pc)::VARCHAR::DECIMAL(38,23), 6)::DECIMAL(18,6) AS r6
         |      FROM d WHERE pc IS NOT NULL),
         |a AS (SELECT pair, day, count(*) AS n_returns,
         |             -- 19+19 = 38 digits forces DuckDB's int128 multiply
         |             -- (the 18-digit int64 fast path overflows on large
         |             -- unscaled squares); the product is exact either way
         |             sum(CAST(r6 AS DECIMAL(19,6))
         |                 * CAST(r6 AS DECIMAL(19,6))) AS rv_dec
         |      FROM e GROUP BY 1, 2)
         |SELECT pair, day, n_returns::BIGINT AS n_returns,
         |       round((CAST(rv_dec AS DOUBLE))::VARCHAR::DECIMAL(38,23), 6)::DOUBLE AS rv,
         |       round((sqrt(CAST(rv_dec AS DOUBLE)))::VARCHAR::DECIMAL(38,23), 6)::DOUBLE AS vol
         |FROM a""".stripMargin,
    "w18_renko_50_1m" -> renkoSql("50.0"),
    "u25_linreg_20_1m" -> linregSql(20),
    "u26_dema_10_1m" -> demaSql(10),
    "u27_tema_10_1m" -> temaSql(10),
    "u21_trix_15_1m" -> trixSql(15),
    "u22_kama_10_1m" -> kamaSql(10),
    "u23_vortex_14_1m" -> vortexSql(14),
    "u24_ultosc_1m" -> ultoscSql(7, 14, 28),
    "u13_adx_14_1m" -> adxSql(14),
    "u14_ichimoku_1m" -> ichimokuSql(9, 26, 52),
    "u15_cci_20_1m" -> cciSql(20),
    "u17_sar_1m" -> sarSql("0.02", "0.2"),
    "u18_supertrend_1m" -> supertrendSql(10, "3.0"),
    "u16_keltner_1m" -> keltnerSql(20, 10, "2.0"),
    "u9_williams_r_14_1m" -> williamsSql(14),
    "u10_donchian_20_1m" -> donchianSql(20),
    "u11_roc_10_1m" -> rocSql(10),
    "u20_chandelier_1m" -> chandelierSql(22, "3.0"),

    // frame lists + index arithmetic restate the engine's struct-argmax:
    // the CASE keeps the LAST index of the frame extreme (most-recent tie
    // convention), and 100·(p − bars_since)/p is the identical float chain
    "u19_aroon_14_1m" ->
      s"""$prelude,
         |b AS (
         |  SELECT pair, time,
         |         row_number() OVER (PARTITION BY pair ORDER BY time) AS rn,
         |         list(high) OVER w AS lh, list(low) OVER w AS ll
         |  FROM c1m
         |  WINDOW w AS (PARTITION BY pair ORDER BY time
         |               ROWS BETWEEN 14 PRECEDING AND CURRENT ROW)),
         |x AS (
         |  SELECT pair, time, rn, len(lh) AS m,
         |         list_max(list_transform(range(1, len(lh) + 1),
         |           i -> CASE WHEN lh[i] = list_max(lh) THEN i ELSE 0 END)) AS hi_i,
         |         list_max(list_transform(range(1, len(ll) + 1),
         |           i -> CASE WHEN ll[i] = list_min(ll) THEN i ELSE 0 END)) AS lo_i
         |  FROM b)
         |SELECT pair, '1m' AS timeframe, epoch(time)::BIGINT AS time_s,
         |       14 AS period,
         |       round((100.0 * (14.0 - (m - hi_i)) / 14.0)::VARCHAR::DECIMAL(38,23), 6)::DOUBLE AS aroon_up,
         |       round((100.0 * (14.0 - (m - lo_i)) / 14.0)::VARCHAR::DECIMAL(38,23), 6)::DOUBLE AS aroon_down
         |FROM x WHERE rn > 14""".stripMargin,
    "u12_mfi_14_1m" -> mfiSql(14),
    "u1_sma_14_1m" -> s"$prelude\n${smaSelect(14)}",
    "u5_macd_1m" -> macdSql(12, 26, 9),
    "u6_bollinger_20_1m" -> bollingerSql(20, "CAST(2.0 AS DOUBLE)"),
    "u2_ema_14_1m" -> emaSql(14),
    "u3_rsi_14_1m" -> rsiSql(14),
    "u7_atr_14_1m" -> atrSql(14),
    "u8_stoch_14_1m" -> stochSql(14),
    "u1_sma_multi" -> s"$prelude\n${smaSelect(14)}\nUNION ALL\n${smaSelect(28)}",
    "w1_golden_cross" -> crossSql("<=", ">", "BUY"),
    "w1_dead_cross" -> crossSql(">=", "<", "SELL"))
}
