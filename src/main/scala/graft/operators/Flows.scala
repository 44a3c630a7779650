package graft.operators

import graft.Config
import graft.model.Timeframe
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Config-driven flow construction (P12 + F2/F3/F4): the reference's Prefect
  * flows expand env-configured parameter grids into task fan-outs
  * (reference: src/etl/flows/transform.py:28-129 driven by
  * src/config/config.py:71-113); here the same parameters drive *plan*
  * construction — one declarative DataFrame whose branches Spark schedules
  * in parallel, instead of 45 orchestrated tasks.
  */
object Flows {

  /** F2: candles for every configured timeframe (base 1m + derived), one
    * aggregate over the ticks. */
  def candleFlow(ticks: DataFrame, cfg: Config = Config.default): DataFrame = {
    val tfs = cfg.timeframes.map(c => Timeframe.byCode.getOrElse(c,
      throw new IllegalArgumentException(s"unknown timeframe code: $c")))
    Ohlc.allTimeframes(ticks, tfs)
  }

  /** F3: the indicator grid {RSI, SMA, EMA} × cfg.periods × cfg.timeframes
    * as one unioned fact set — the FUSED single-shuffle form (every
    * (indicator, period) state machine steps in one sorted-group fold, so
    * the candles are exchanged once for the whole grid, not once per
    * combo; bit-identical to the per-branch ops, pinned by FlowsSpec). */
  def indicatorFlow(ticks: DataFrame, cfg: Config = Config.default): DataFrame = {
    val candles = candleFlow(ticks, cfg)
    Indicators.indicatorFactsFused(candles, Seq("RSI", "SMA", "EMA"), cfg.periods)
  }

  /** F4: SMA-cross strategy over the configured short/long periods on the
    * base timeframe. */
  def strategyFlow(ticks: DataFrame, cfg: Config = Config.default): DataFrame = {
    val sma = Indicators.indicatorFacts(
      Ohlc.ohlcBase(ticks), Seq("SMA"),
      Seq(cfg.shortPeriod, cfg.longPeriod).distinct)
    Signals.strategy(sma.filter(col("timeframe") === Timeframe.Base.code),
      cfg.shortPeriod, cfg.longPeriod)
  }
}
