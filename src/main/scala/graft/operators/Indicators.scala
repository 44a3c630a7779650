package graft.operators

import java.sql.Timestamp

import graft.model.IndicatorValue
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Close-series row for the recursive indicator fold. Public (not nested
  * private) because Catalyst's generated deserializer must access it. */
final case class CloseRow(pair: String, timeframe: String, time: Timestamp, close: Double)

/** One MACD output row: fast/slow EMA difference, its signal EMA, and the
  * histogram; all None during the respective warm-ups. */
final case class MacdRow(pair: String, timeframe: String, time: Timestamp,
                         macd: Option[Double], signal: Option[Double],
                         hist: Option[Double])

/** Full-candle row for folds that need the high/low range (ATR). Public for
  * the same Catalyst-deserializer reason as [[CloseRow]]. */
final case class OhlcRow(pair: String, timeframe: String, time: Timestamp,
                         open: Double, high: Double, low: Double, close: Double)
final case class HlcRow(pair: String, timeframe: String, time: Timestamp,
                        high: Double, low: Double, close: Double)

/** One confirmed ZigZag pivot ([[Indicators.zigzag]]): the extreme's own
  * time/price, the kind ('high'/'low'), and the close that CONFIRMED the
  * reversal. */
final case class ZigzagPivot(pair: String, timeframe: String,
                             pivot_no: Long, time: Timestamp, kind: String,
                             price: Double, confirm_time: Timestamp)

/** One Renko brick ([[Indicators.renko]]): `time` is the triggering
  * close's timestamp, `brick_no` the per-series sequence. */
final case class RenkoBrick(pair: String, timeframe: String, time: Timestamp,
                            brick_no: Long, dir: String,
                            open: Double, close: Double)

/** Close + volume row for folds that need both (force index). Public for
  * the same Catalyst-deserializer reason as [[CloseRow]]. */
final case class HlcvRow(pair: String, timeframe: String, time: Timestamp,
                         high: Double, low: Double, close: Double, vol: Long)

final case class CloseVolRow(pair: String, timeframe: String, time: Timestamp,
                             close: Double, vol: Long)

/** One ADX output row: ±DI and the ADX, all None during their respective
  * warm-ups (DI from row `period+1`, ADX from row `2·period`). */
final case class AdxRow(pair: String, timeframe: String, time: Timestamp,
                        pdi: Option[Double], ndi: Option[Double],
                        adx: Option[Double])

/** Technical-indicator operators (SURVEY.md §2.9 U1-U3, §2.5 W3).
  *
  * The reference round-trips the ordered close series into Python/NumPy and
  * calls TA-Lib (reference: src/etl/flows/transform_services.py:186-188,
  * 268-270, 347-349) — its scalability ceiling. Here:
  *
  *  - SMA is a pure window aggregate (whole-stage-codegen'd, no UDF);
  *  - EMA/RSI are order-dependent recurrences, not expressible as frame
  *    aggregates — computed with `flatMapSortedGroups` (shuffle once on the
  *    series key, secondary-sort by time, single sequential fold per group).
  *    MEMORY CONTRACT: every fold in this file streams the group's sorted
  *    iterator through O(period) scalars of state — no fold materializes a
  *    per-key collection — so a series of ANY length (tick grain, decades)
  *    holds constant executor heap; the sort itself is Spark's spillable
  *    external sort, not an in-memory buffer.
  *
  * Numerics replicate TA-Lib exactly (SURVEY.md §7.4): SMA/EMA have
  * `period-1` warm-up rows, RSI has `period`; warm-up emits NULL (the
  * reference stores NaN — we standardize on NULL).
  */
object Indicators {

  val CalcVersion = "0" // reference writes calc_version='0' (transform_services.py:138,223,301)

  /** U1: simple moving average of `close` over the last `period` rows per
    * (pair, timeframe) series, NULL until a full window exists. */
  def sma(candles: DataFrame, period: Int, calcVersion: String = CalcVersion): DataFrame = {
    val w = Window.partitionBy(col("pair"), col("timeframe")).orderBy(col("time"))
    val frame = w.rowsBetween(-(period - 1), Window.currentRow)
    candles
      .withColumn("value",
        when(row_number().over(w) >= period, avg(col("close")).over(frame)))
      .select(lit("SMA").as("indicator"), col("pair"), col("timeframe"), col("time"),
        lit(period).as("period"), lit(calcVersion).as("calc_version"), col("value"))
  }

  /** U2: exponential moving average, TA-Lib semantics — seeded with the SMA
    * of the first `period` closes, then `ema = k*close + (1-k)*prev` with
    * `k = 2/(period+1)`. State per series: an index and two doubles. */
  def ema(candles: DataFrame, period: Int, calcVersion: String = CalcVersion): Dataset[IndicatorValue] =
    foldSeries(candles, "EMA", period, calcVersion) { () =>
      val k = 2.0 / (period + 1)
      var i = -1
      var seedSum = 0.0
      var prev = 0.0
      c => {
        i += 1
        if (i < period - 1) { seedSum += c; None }
        else if (i == period - 1) { prev = (seedSum + c) / period; Some(prev) }
        else { prev = (c - prev) * k + prev; Some(prev) }
      }
    }

  /** U3: Wilder RSI, TA-Lib semantics — first value at index `period` uses
    * the simple mean of the first `period` gains/losses; afterwards Wilder
    * smoothing `avg = (prevAvg*(period-1) + cur)/period`;
    * `rsi = 100*gain/(gain+loss)`, 0 when both averages are 0. */
  def rsi(candles: DataFrame, period: Int, calcVersion: String = CalcVersion): Dataset[IndicatorValue] =
    foldSeries(candles, "RSI", period, calcVersion) { () =>
      var i = -1
      var prevClose = 0.0
      var avgGain = 0.0
      var avgLoss = 0.0
      c => {
        i += 1
        val out =
          if (i == 0) None
          else {
            val diff = c - prevClose
            val gain = math.max(diff, 0.0)
            val loss = math.max(-diff, 0.0)
            if (i < period) { avgGain += gain; avgLoss += loss; None }
            else {
              if (i == period) { avgGain = (avgGain + gain) / period; avgLoss = (avgLoss + loss) / period }
              else {
                avgGain = (avgGain * (period - 1) + gain) / period
                avgLoss = (avgLoss * (period - 1) + loss) / period
              }
              val denom = avgGain + avgLoss
              Some(if (denom == 0.0) 0.0 else 100.0 * avgGain / denom)
            }
          }
        prevClose = c
        out
      }
    }

  /** U5: MACD — fast EMA − slow EMA, with a `sig`-period signal EMA over
    * the MACD line and the histogram (macd − signal). TA-Lib-style seeds:
    * each EMA seeds with the SMA of its first `period` inputs (the signal
    * EMA seeds over the first `sig` *defined* MACD values), so
    * macd is defined from row `slow`, signal/hist from row `slow+sig−1`.
    * Same single-shuffle sorted-group fold as EMA/RSI — three recurrences
    * carried through one pass, state is six numbers per series. */
  def macd(candles: DataFrame, fast: Int = 12, slow: Int = 26, sig: Int = 9): Dataset[MacdRow] = {
    require(2 <= fast && fast < slow, s"need 2 <= fast < slow, got $fast/$slow")
    require(sig >= 2, s"sig must be >= 2, got $sig")
    val spark = candles.sparkSession
    import spark.implicits._
    val kF = 2.0 / (fast + 1); val kS = 2.0 / (slow + 1); val kG = 2.0 / (sig + 1)
    candles.select($"pair", $"timeframe", $"time", $"close").as[CloseRow]
      .groupByKey(r => (r.pair, r.timeframe))
      .flatMapSortedGroups($"time") { case ((pair, tf), rows) =>
        var sumF = 0.0; var sumS = 0.0; var emaF = 0.0; var emaS = 0.0
        var nMacd = 0; var sumG = 0.0; var sigV = 0.0
        rows.zipWithIndex.map { case (r, i) =>
          val c = r.close
          if (i < fast - 1) sumF += c
          else if (i == fast - 1) emaF = (sumF + c) / fast
          else emaF = (c - emaF) * kF + emaF
          if (i < slow - 1) sumS += c
          else if (i == slow - 1) emaS = (sumS + c) / slow
          else emaS = (c - emaS) * kS + emaS
          val macdO = if (i >= slow - 1) Some(emaF - emaS) else None
          val sigO = macdO.flatMap { m =>
            nMacd += 1
            if (nMacd < sig) { sumG += m; None }
            else if (nMacd == sig) { sigV = (sumG + m) / sig; Some(sigV) }
            else { sigV = (m - sigV) * kG + sigV; Some(sigV) }
          }
          MacdRow(pair, tf, r.time, macdO, sigO,
            sigO.map(s => macdO.get - s))
        }
      }
  }

  /** U6: Bollinger bands — `period`-row SMA ± `width`·σ (population stddev
    * over the same window). Engine-portable numerics: Σx and Σx² are EXACT
    * decimal window sums (close has fixed scale, so x² does too); the only
    * float work is one identical mean/variance/sqrt expression at the end —
    * never a running float accumulation, so any engine computing the same
    * formula over the same exact sums agrees bit-for-bit. Pure window
    * aggregate: whole-stage codegen, one shuffle on the series key. */
  def bollinger(candles: DataFrame, period: Int = 20, width: Double = 2.0,
                calcVersion: String = CalcVersion): DataFrame = {
    require(period >= 2, s"period must be >= 2, got $period")
    val w = Window.partitionBy(col("pair"), col("timeframe")).orderBy(col("time"))
    val frame = w.rowsBetween(-(period - 1), Window.currentRow)
    val dec = col("close").cast("decimal(18,6)")
    val mean = col("sum_c").cast("double") / period
    val variance = col("sum_sq").cast("double") / period - mean * mean
    val sd = sqrt(greatest(variance, lit(0.0)))
    candles
      // materialize the cast/square in a plain projection so both sums
      // and row_number share ONE Window node (sums over derived
      // expressions stage one Window pass each — see CrossPair)
      .withColumn("c6", dec)
      .withColumn("c6sq", dec * dec)
      .withColumn("rn", row_number().over(w))
      .withColumn("sum_c", sum(col("c6")).over(frame))
      .withColumn("sum_sq", sum(col("c6sq")).over(frame))
      .select(col("pair"), col("timeframe"), col("time"),
        lit(period).as("period"), lit(calcVersion).as("calc_version"),
        when(col("rn") >= period, mean).as("mid"),
        when(col("rn") >= period, mean + lit(width) * sd).as("upper"),
        when(col("rn") >= period, mean - lit(width) * sd).as("lower"))
  }

  /** U7: Wilder Average True Range, TA-Lib semantics. True range needs the
    * previous close (`TR = max(high−low, |high−prevClose|, |low−prevClose|)`)
    * so the first TR exists at row 2; the seed at row `period+1` is the
    * simple mean of the first `period` TRs, then Wilder smoothing
    * `atr = (prevAtr·(period−1) + tr)/period` — the same recurrence family
    * as [[rsi]], and the same single-shuffle sorted-group fold (state per
    * series: three doubles). */
  def atr(candles: DataFrame, period: Int, calcVersion: String = CalcVersion): Dataset[IndicatorValue] = {
    require(period >= 2, s"period must be >= 2, got $period")
    val spark = candles.sparkSession
    import spark.implicits._
    candles.select($"pair", $"timeframe", $"time", $"high", $"low", $"close").as[HlcRow]
      .groupByKey(r => (r.pair, r.timeframe))
      .flatMapSortedGroups($"time") { case ((pair, tf), rows) =>
        var prevClose = 0.0
        var trSum = 0.0
        var atrV = 0.0
        rows.zipWithIndex.map { case (r, i) =>
          val out =
            if (i == 0) None
            else {
              val tr = math.max(r.high - r.low,
                math.max(math.abs(r.high - prevClose), math.abs(r.low - prevClose)))
              if (i < period) { trSum += tr; None }
              else {
                if (i == period) atrV = (trSum + tr) / period
                else atrV = (atrV * (period - 1) + tr) / period
                Some(atrV)
              }
            }
          prevClose = r.close
          IndicatorValue("ATR", pair, tf, r.time, period, calcVersion, out)
        }
      }
  }

  /** U8: stochastic oscillator — `%K = 100·(close − LL) / (HH − LL)` over the
    * trailing `period` rows (NULL while the window is short or flat) and
    * `%D` = 3-row simple mean of %K (NULL until three %K values exist).
    * Pure window aggregates — codegen'd, one shuffle on the series key; the
    * O(period)/row frame re-scan is fine at period=14 (the w8 prefix-
    * subtraction rewrite only pays above ~50-row frames, and min/max have no
    * exact inverse anyway). */
  def stochastic(candles: DataFrame, period: Int = 14): DataFrame = {
    require(period >= 2, s"period must be >= 2, got $period")
    val w = Window.partitionBy(col("pair"), col("timeframe")).orderBy(col("time"))
    val frame = w.rowsBetween(-(period - 1), Window.currentRow)
    candles
      .withColumn("rn", row_number().over(w))
      .withColumn("hh", max(col("high")).over(frame))
      .withColumn("ll", min(col("low")).over(frame))
      .withColumn("k",
        when(col("rn") >= period && col("hh") =!= col("ll"),
          (col("close") - col("ll")) * lit(100.0) / (col("hh") - col("ll"))))
      .withColumn("d",
        (col("k") + lag(col("k"), 1).over(w) + lag(col("k"), 2).over(w)) / lit(3.0))
      .select(col("pair"), col("timeframe"), col("time"),
        lit(period).as("period"), col("k"), col("d"))
  }

  /** U9: Williams %R — `%R = (close − HH) · 100 / (HH − LL)` over the
    * trailing `period` rows: the stochastic %K reflected to the [−100, 0]
    * convention chartists expect. Spelled `(close − HH)` rather than the
    * textbook `−(HH − close)` so a close AT the window high yields +0.0 on
    * every engine (the negated form emits −0.0 on engines that preserve
    * the zero sign through `round`, which hash-splits from +0.0). NULL
    * while the window is short or flat. Pure window aggregate — codegen'd,
    * one shuffle on the series key. */
  def williamsR(candles: DataFrame, period: Int = 14): DataFrame = {
    require(period >= 2, s"period must be >= 2, got $period")
    val w = Window.partitionBy(col("pair"), col("timeframe")).orderBy(col("time"))
    val frame = w.rowsBetween(-(period - 1), Window.currentRow)
    candles
      .withColumn("rn", row_number().over(w))
      .withColumn("hh", max(col("high")).over(frame))
      .withColumn("ll", min(col("low")).over(frame))
      .select(col("pair"), col("timeframe"), col("time"),
        lit(period).as("period"),
        when(col("rn") >= period && col("hh") =!= col("ll"),
          (col("close") - col("hh")) * lit(100.0) / (col("hh") - col("ll"))).as("value"))
  }

  /** U10: Donchian channel — trailing-`period` highest high / lowest low and
    * their midpoint (the breakout bands behind turtle-style strategies).
    * Min/max are order-free and the midpoint is one identical float
    * expression per row, so cross-engine parity is free. */
  def donchian(candles: DataFrame, period: Int = 20): DataFrame = {
    require(period >= 2, s"period must be >= 2, got $period")
    val w = Window.partitionBy(col("pair"), col("timeframe")).orderBy(col("time"))
    val frame = w.rowsBetween(-(period - 1), Window.currentRow)
    candles
      .withColumn("rn", row_number().over(w))
      .withColumn("up", when(col("rn") >= period, max(col("high")).over(frame)))
      .withColumn("lo", when(col("rn") >= period, min(col("low")).over(frame)))
      .select(col("pair"), col("timeframe"), col("time"),
        lit(period).as("period"), col("up").as("upper"),
        ((col("up") + col("lo")) / lit(2.0)).as("mid"), col("lo").as("lower"))
  }

  /** U19: Aroon up/down — bars since the trailing-(period+1)-bar extreme,
    * rescaled to [0, 100]: `up = 100·(p − bars_since_highest_high)/p`,
    * `down = 100·(p − bars_since_lowest_low)/p`, most-RECENT extreme on
    * ties (TA-Lib's convention). The extreme's position rides a struct
    * frame aggregate — `max(struct(high, rn))` breaks high-ties toward
    * the larger rn, `min(struct(low, −rn))` breaks low-ties the same
    * way — so the whole indicator is two frame aggregates + integer
    * arithmetic in ONE combo-partitioned Window pass after the rn pass:
    * no per-partition rescan, no recursion. NULL until the frame holds
    * period+1 bars. */
  def aroon(candles: DataFrame, period: Int = 14): DataFrame = {
    require(period >= 1, s"period must be >= 1, got $period")
    val w = Window.partitionBy(col("pair"), col("timeframe")).orderBy(col("time"))
    val frame = w.rowsBetween(-period, Window.currentRow)
    val pd = lit(period.toDouble)
    candles
      .select(col("pair"), col("timeframe"), col("time"), col("high"), col("low"))
      .select(col("pair"), col("timeframe"), col("time"), col("high"), col("low"),
        row_number().over(w).as("rn"))
      .withColumn("nrn", -col("rn"))
      .select(col("pair"), col("timeframe"), col("time"), col("rn"),
        max(struct(col("high"), col("rn"))).over(frame).getField("rn").as("hi_rn"),
        min(struct(col("low"), col("nrn"))).over(frame).getField("nrn").as("lo_nrn"))
      .select(col("pair"), col("timeframe"), col("time"), lit(period).as("period"),
        when(col("rn") > period,
          lit(100.0) * (pd - (col("rn") - col("hi_rn"))) / pd).as("aroon_up"),
        when(col("rn") > period,
          lit(100.0) * (pd - (col("rn") + col("lo_nrn"))) / pd).as("aroon_down"))
  }

  /** U20: Chandelier exit — the ATR-scaled trailing stop pair:
    * `long = highest_high(period) − mult·ATR(period)`,
    * `short = lowest_low(period) + mult·ATR(period)`. Composes the
    * Wilder-ATR recurrence fold with a Donchian-style frame extreme via
    * one series-key join (the keltner shape). NULL until ATR is warm
    * (rn > period, which also guarantees the extreme frame is full). */
  def chandelier(candles: DataFrame, period: Int = 22,
                 mult: Double = 3.0): DataFrame = {
    require(period >= 2, s"period must be >= 2, got $period")
    val w = Window.partitionBy(col("pair"), col("timeframe")).orderBy(col("time"))
    val frame = w.rowsBetween(-(period - 1), Window.currentRow)
    val a = atr(candles, period).toDF()
      .select(col("pair"), col("timeframe"), col("time"), col("value").as("atr"))
    candles
      .select(col("pair"), col("timeframe"), col("time"),
        max(col("high")).over(frame).as("hh"),
        min(col("low")).over(frame).as("ll"))
      .join(a, Seq("pair", "timeframe", "time"))
      .select(col("pair"), col("timeframe"), col("time"), lit(period).as("period"),
        when(col("atr").isNotNull, col("hh") - lit(mult) * col("atr")).as("long_stop"),
        when(col("atr").isNotNull, col("ll") + lit(mult) * col("atr")).as("short_stop"))
  }

  /** U11: rate of change — `100 · (close/close[−period] − 1)`, the momentum
    * ratio. One lag, one float expression; NULL until the lag exists (and
    * guarded against a zero reference price). */
  def roc(candles: DataFrame, period: Int = 10): DataFrame = {
    require(period >= 1, s"period must be >= 1, got $period")
    val w = Window.partitionBy(col("pair"), col("timeframe")).orderBy(col("time"))
    val prev = lag(col("close"), period).over(w)
    candles
      .withColumn("prevp", prev)
      .select(col("pair"), col("timeframe"), col("time"),
        lit(period).as("period"),
        when(col("prevp").isNotNull && col("prevp") =!= 0.0,
          (col("close") / col("prevp") - lit(1.0)) * lit(100.0)).as("value"))
  }

  /** U12: Money Flow Index over candles carrying a `vol` column —
    * volume-weighted RSI: raw flow = typicalPrice · vol signed by the
    * typical-price direction, `mfi = 100·pos/(pos+neg)` over the trailing
    * `period` flows. Engine-portable numerics: the typical price is carried
    * as 3·TP = high+low+close in EXACT decimal (the /3 cancels in the
    * ratio, so it is never computed), flows and their window sums stay
    * exact decimal, and the only float work is one identical final
    * division. First candle (no direction) contributes to neither side;
    * NULL until `period` flows exist or when both sides are zero. */
  def mfi(candlesWithVol: DataFrame, period: Int = 14): DataFrame = {
    require(period >= 2, s"period must be >= 2, got $period")
    val w = Window.partitionBy(col("pair"), col("timeframe")).orderBy(col("time"))
    val frame = w.rowsBetween(-(period - 1), Window.currentRow)
    val tp3 = col("high").cast("decimal(12,6)") + col("low").cast("decimal(12,6)") +
      col("close").cast("decimal(12,6)")
    val posd = coalesce(col("pos").cast("double"), lit(0.0))
    val negd = coalesce(col("neg").cast("double"), lit(0.0))
    val denom = posd + negd
    candlesWithVol
      .withColumn("tp3", tp3)
      .withColumn("ptp", lag(col("tp3"), 1).over(w))
      .withColumn("rn", row_number().over(w))
      .withColumn("pf", when(col("ptp").isNotNull && col("tp3") > col("ptp"),
        col("tp3") * col("vol").cast("decimal(9,0)")))
      .withColumn("nf", when(col("ptp").isNotNull && col("tp3") < col("ptp"),
        col("tp3") * col("vol").cast("decimal(9,0)")))
      .withColumn("pos", sum(col("pf")).over(frame))
      .withColumn("neg", sum(col("nf")).over(frame))
      .select(col("pair"), col("timeframe"), col("time"),
        lit(period).as("period"),
        when(col("rn") >= period + 1 && denom =!= 0.0,
          lit(100.0) * posd / denom).as("value"))
  }

  /** U13: Wilder ADX with ±DI — trend-strength from smoothed directional
    * movement. Per row (from row 2): `TR` as in [[atr]]; `+DM = high−prevHigh`
    * when that exceeds both `prevLow−low` and 0 (else 0), `−DM` mirrored.
    * TR/+DM/−DM are Wilder-smoothed with a simple-mean seed at row
    * `period+1` (the [[atr]] convention); `±DI = 100·smDM/smTR`;
    * `DX = 100·|+DI−−DI|/(+DI+−DI)`; ADX is DX Wilder-smoothed again with
    * its mean seed over the first `period` DX values (first ADX at row
    * `2·period`). Same single-shuffle sorted-group fold as [[rsi]]/[[atr]] —
    * state per series is eight doubles, so a 100 TB corpus of series costs
    * one shuffle and a linear scan. */
  def adx(candles: DataFrame, period: Int, calcVersion: String = CalcVersion): Dataset[AdxRow] = {
    require(period >= 2, s"period must be >= 2, got $period")
    val spark = candles.sparkSession
    import spark.implicits._
    candles.select($"pair", $"timeframe", $"time", $"high", $"low", $"close").as[HlcRow]
      .groupByKey(r => (r.pair, r.timeframe))
      .flatMapSortedGroups($"time") { case ((pair, tf), rows) =>
        var ph = 0.0; var pl = 0.0; var pc = 0.0
        var trSum = 0.0; var pdmSum = 0.0; var ndmSum = 0.0
        var sTr = 0.0; var sPdm = 0.0; var sNdm = 0.0
        var dxSum = 0.0; var adxV = 0.0
        rows.zipWithIndex.map { case (r, i) =>
          val out =
            if (i == 0) AdxRow(pair, tf, r.time, None, None, None)
            else {
              val tr = math.max(r.high - r.low,
                math.max(math.abs(r.high - pc), math.abs(r.low - pc)))
              val up = r.high - ph
              val dn = pl - r.low
              val pdm = if (up > dn && up > 0.0) up else 0.0
              val ndm = if (dn > up && dn > 0.0) dn else 0.0
              if (i < period) { trSum += tr; pdmSum += pdm; ndmSum += ndm }
              else if (i == period) {
                sTr = (trSum + tr) / period
                sPdm = (pdmSum + pdm) / period
                sNdm = (ndmSum + ndm) / period
              } else {
                sTr = (sTr * (period - 1) + tr) / period
                sPdm = (sPdm * (period - 1) + pdm) / period
                sNdm = (sNdm * (period - 1) + ndm) / period
              }
              if (i < period) AdxRow(pair, tf, r.time, None, None, None)
              else {
                val pdi = if (sTr == 0.0) 0.0 else 100.0 * sPdm / sTr
                val ndi = if (sTr == 0.0) 0.0 else 100.0 * sNdm / sTr
                val dx = if (pdi + ndi == 0.0) 0.0 else 100.0 * math.abs(pdi - ndi) / (pdi + ndi)
                val adxO =
                  if (i < 2 * period - 1) { dxSum += dx; None }
                  else if (i == 2 * period - 1) { adxV = (dxSum + dx) / period; Some(adxV) }
                  else { adxV = (adxV * (period - 1) + dx) / period; Some(adxV) }
                AdxRow(pair, tf, r.time, Some(pdi), Some(ndi), adxO)
              }
            }
          ph = r.high; pl = r.low; pc = r.close
          out
        }
      }
  }

  /** U14: Ichimoku Kinko Hyo — conversion/base lines are trailing-window
    * range midpoints, the two Senkou spans are those midpoints displaced
    * `kijunP` rows forward (spelled as `lag` over the already-gated
    * columns, so warm-up NULLs displace with them), and Chikou is the close
    * displaced backward (`lead`). All plain window aggregates + lag/lead —
    * codegen'd, one shuffle on the series key, no recurrence anywhere. */
  def ichimoku(candles: DataFrame, tenkanP: Int = 9, kijunP: Int = 26,
               senkouP: Int = 52): DataFrame = {
    require(2 <= tenkanP && tenkanP < kijunP && kijunP < senkouP,
      s"need 2 <= tenkan < kijun < senkou, got $tenkanP/$kijunP/$senkouP")
    val w = Window.partitionBy(col("pair"), col("timeframe")).orderBy(col("time"))
    def mid(p: Int): Column = {
      val frame = w.rowsBetween(-(p - 1), Window.currentRow)
      when(row_number().over(w) >= p,
        (max(col("high")).over(frame) + min(col("low")).over(frame)) / lit(2.0))
    }
    candles
      // pass 1 (ONE select → one Window node): every frame aggregate —
      // tenkan/kijun, the senkou-B span mid, the chikou lead — none of
      // which depend on other window outputs; pass 2 (one select): the
      // two shifts, which must read pass-1 outputs. A withColumn chain
      // stages one Window node per call — 4 passes instead of 2.
      .select(col("pair"), col("timeframe"), col("time"),
        mid(tenkanP).as("tenkan"),
        mid(kijunP).as("kijun"),
        mid(senkouP).as("span_b_mid"),
        lead(col("close"), kijunP).over(w).as("chikou"))
      .select(col("pair"), col("timeframe"), col("time"),
        col("tenkan"), col("kijun"),
        lag((col("tenkan") + col("kijun")) / lit(2.0), kijunP).over(w).as("senkou_a"),
        lag(col("span_b_mid"), kijunP).over(w).as("senkou_b"),
        col("chikou"))
  }

  /** U15: Commodity Channel Index — how far the typical price sits from
    * its `period`-mean, scaled by the window's mean absolute deviation:
    * `CCI = (tp − SMA(tp)) / (0.015 · MD)`. MD is the catch: each
    * element's deviation is taken against the CURRENT row's window mean,
    * so it is not a plain frame aggregate — the frame's typical prices
    * are collected and folded with a higher-order `aggregate`. Parity
    * discipline: tp is snapped to the 6-dp grid, so the window sum, the
    * per-element `p·tpᵢ − Σtp` deviations, and their sum are ALL exact
    * decimals (the division-free form `p·(p·tp − Σ) / (0.015·Σ|p·tpᵢ −
    * Σ|)` clears the two /p's); the single float expression at the end is
    * spelled identically in the oracle. Decimal exactness also makes the
    * fold order irrelevant — either engine may sum the list any way. */
  def cci(candles: DataFrame, period: Int = 20): DataFrame = {
    require(period >= 2, s"period must be >= 2, got $period")
    val w = Window.partitionBy(col("pair"), col("timeframe")).orderBy(col("time"))
    val frame = w.rowsBetween(-(period - 1), Window.currentRow)
    val p = period
    candles
      .withColumn("tpd",
        round((col("high") + col("low") + col("close")) / 3.0, 6).cast("decimal(18,6)"))
      .select(col("pair"), col("timeframe"), col("time"), col("tpd"),
        row_number().over(w).as("rn"),
        sum(col("tpd")).over(frame).as("sum_tp"),
        collect_list(col("tpd")).over(frame).as("arr"))
      .withColumn("md_num",
        aggregate(col("arr"), lit(0).cast("decimal(38,6)"),
          (acc, x) => acc + abs(x * lit(p) - col("sum_tp"))))
      .select(col("pair"), col("timeframe"), col("time"), lit(p).as("period"),
        when(col("rn") >= p && col("md_num") =!= lit(0),
          (lit(p.toDouble) * (col("tpd") * lit(p) - col("sum_tp")).cast("double")) /
            (lit(0.015) * col("md_num").cast("double"))).as("value"))
  }

  /** U16: Keltner channels — EMA(close, `emaPeriod`) midline, banded by
    * ±`mult`·ATR(`atrPeriod`): the volatility-adaptive sibling of
    * Bollinger. Pure composition of the two existing recurrence folds
    * (each one shuffle on the series key), joined on the candle key; the
    * bands are NULL until BOTH folds are warm, by null propagation. */
  def keltner(candles: DataFrame, emaPeriod: Int = 20, atrPeriod: Int = 10,
              mult: Double = 2.0): DataFrame = {
    val e = ema(candles, emaPeriod).toDF()
      .select(col("pair"), col("timeframe"), col("time"), col("value").as("mid"))
    val a = atr(candles, atrPeriod).toDF()
      .select(col("pair"), col("timeframe"), col("time"), col("value").as("atrv"))
    e.join(a, Seq("pair", "timeframe", "time"))
      .select(col("pair"), col("timeframe"), col("time"),
        col("mid"),
        (col("mid") + lit(mult) * col("atrv")).as("upper"),
        (col("mid") - lit(mult) * col("atrv")).as("lower"))
  }

  /** U17: Parabolic SAR (Wilder's stop-and-reverse) — the most
    * path-dependent recurrence in the family: per bar, the stop ratchets
    * toward the trend's extreme point (`sar += af·(ep − sar)`), clamps to
    * the prior two bars' lows (uptrend) or highs (downtrend), and FLIPS
    * trend when price crosses it, resetting the acceleration factor.
    * Convention (documented, pinned by the oracle): the initial trend at
    * bar 2 is up iff `close₂ ≥ close₁`; the first SAR is bar 1's low
    * (up) or high (down); rows emit from bar 2. One shuffle on the series
    * key; the sorted group iterator streams through the fold — the two
    * bootstrap bars plus the two-bar clamp window live in 8 locals, so
    * per-key heap is O(1) (a tick-grain series never materializes). Every
    * step is +, ×, min/max and comparisons — spelled identically in the
    * recursive-CTE oracle, so the whole path is bit-exact cross-engine. */
  def sar(candles: DataFrame, afStep: Double = 0.02, afMax: Double = 0.2): DataFrame = {
    require(afStep > 0 && afMax >= afStep, s"need 0 < afStep <= afMax")
    val spark = candles.sparkSession
    import spark.implicits._
    candles.select($"pair", $"timeframe", $"time", $"high", $"low", $"close").as[HlcRow]
      .groupByKey(r => (r.pair, r.timeframe))
      .flatMapSortedGroups($"time") { case ((pair, tf), rows) =>
        if (!rows.hasNext) Iterator.empty
        else {
          val r0 = rows.next()
          if (!rows.hasNext) Iterator.empty
          else {
            val r1 = rows.next()
            var up = r1.close >= r0.close
            var sarV = if (up) r0.low else r0.high
            var ep = if (up) r1.high else r1.low
            var af = afStep
            var pl1 = r1.low; var pl2 = r0.low
            var ph1 = r1.high; var ph2 = r0.high
            // lazy concat: the tail maps the still-unconsumed group iterator,
            // one bar at a time, through the mutable stop state above
            Iterator.single((pair, tf, r1.time, sarV)) ++ rows.map { r =>
              var s = sarV + af * (ep - sarV)
              if (up) {
                s = math.min(s, math.min(pl1, pl2))
                if (r.low < s) { up = false; s = ep; ep = r.low; af = afStep }
                else if (r.high > ep) { ep = r.high; af = math.min(af + afStep, afMax) }
              } else {
                s = math.max(s, math.max(ph1, ph2))
                if (r.high > s) { up = true; s = ep; ep = r.high; af = afStep }
                else if (r.low < ep) { ep = r.low; af = math.min(af + afStep, afMax) }
              }
              sarV = s
              pl2 = pl1; pl1 = r.low
              ph2 = ph1; ph1 = r.high
              (pair, tf, r.time, sarV)
            }
          }
        }
      }
      .toDF("pair", "timeframe", "time", "value")
  }

  /** U18: SuperTrend — Wilder-ATR bands around the bar midpoint with
    * one-way band ratchets and a trend flip when the close crosses the
    * active band: `ub/lb = (h+l)/2 ± mult·ATR(p)`; the final upper band
    * only falls (unless the prior close broke it), the final lower band
    * only rises; trend turns down when close < final lower in an
    * uptrend, up when close > final upper in a downtrend; the line is
    * the active band. Init at the first ATR bar: trend is up iff close
    * exceeds that bar's upper band. Same single-shuffle fold family as
    * [[atr]]/[[sar]]; the oracle replays the identical state machine. */
  def supertrend(candles: DataFrame, period: Int = 10,
                 mult: Double = 3.0): DataFrame = {
    require(period >= 2, s"period must be >= 2, got $period")
    val spark = candles.sparkSession
    import spark.implicits._
    candles.select($"pair", $"timeframe", $"time", $"high", $"low", $"close").as[HlcRow]
      .groupByKey(r => (r.pair, r.timeframe))
      .flatMapSortedGroups($"time") { case ((pair, tf), rows) =>
        var prevClose = 0.0
        var trSum = 0.0
        var atrV = 0.0
        var fub = 0.0; var flb = 0.0
        var dirUp = false
        rows.zipWithIndex.map { case (r, i) =>
          val out =
            if (i == 0) None
            else {
              val tr = math.max(r.high - r.low,
                math.max(math.abs(r.high - prevClose), math.abs(r.low - prevClose)))
              if (i < period) { trSum += tr; None }
              else {
                if (i == period) atrV = (trSum + tr) / period
                else atrV = (atrV * (period - 1) + tr) / period
                val mid = (r.high + r.low) / 2.0
                val ub = mid + mult * atrV
                val lb = mid - mult * atrV
                if (i == period) { fub = ub; flb = lb; dirUp = r.close > fub }
                else {
                  if (ub < fub || prevClose > fub) fub = ub
                  if (lb > flb || prevClose < flb) flb = lb
                  if (dirUp && r.close < flb) dirUp = false
                  else if (!dirUp && r.close > fub) dirUp = true
                }
                Some((if (dirUp) flb else fub, dirUp))
              }
            }
          prevClose = r.close
          (pair, tf, r.time, out.map(_._1), out.map(_._2))
        }
      }
      .toDF("pair", "timeframe", "time", "value", "dir_up")
  }

  /** W15: classic floor-trader pivot points — the support/resistance
    * ladder every trading desk publishes each morning: from the PRIOR
    * day's high/low/close, `P = (H+L+C)/3`, `R1 = 2P − L`, `S1 = 2P − H`,
    * `R2 = P + (H−L)`, `S2 = P − (H−L)`, `R3 = H + 2(P−L)`,
    * `S3 = L − 2(H−P)`. Daily bars roll up from the 1m candles (close =
    * last by time); the lag runs over each pair's day sequence. One
    * aggregation + one tiny window — trivially scale-safe. */
  def pivotPoints(candles: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("pair")).orderBy(col("day"))
    val daily = candles
      .groupBy(col("pair"), date_trunc("day", col("time")).as("day"))
      .agg(max(col("high")).as("h"), min(col("low")).as("l"),
        max_by(col("close"), col("time")).as("c"))
    val ph = lag(col("h"), 1).over(w)
    val plo = lag(col("l"), 1).over(w)
    val pc = lag(col("c"), 1).over(w)
    daily
      .select(col("pair"), col("day"),
        ph.as("ph"), plo.as("pl"), pc.as("pc"))
      .withColumn("p", (col("ph") + col("pl") + col("pc")) / 3.0)
      .select(col("pair"), col("day"), col("p"),
        (col("p") * 2.0 - col("pl")).as("r1"),
        (col("p") * 2.0 - col("ph")).as("s1"),
        (col("p") + (col("ph") - col("pl"))).as("r2"),
        (col("p") - (col("ph") - col("pl"))).as("s2"),
        (col("ph") + (col("p") - col("pl")) * 2.0).as("r3"),
        (col("pl") - (col("ph") - col("p")) * 2.0).as("s3"))
      .filter(col("p").isNotNull)
  }

  /** A11: Heikin-Ashi candles — the trend-smoothing recast every charting
    * stack offers: `haClose = (o+h+l+c)/4` per bar, `haOpen` recursing as
    * the midpoint of the PRIOR bar's haOpen/haClose (seed: (o₁+c₁)/2),
    * `haHigh/haLow` the extremes of the raw bar vs both HA values. The
    * haOpen recurrence makes this a fold (same single-shuffle family as
    * EMA); every op is +, /2, /4, min/max — bit-exact in the
    * recursive-CTE oracle. */
  def heikinAshi(candles: DataFrame): DataFrame = {
    val spark = candles.sparkSession
    import spark.implicits._
    candles.select($"pair", $"timeframe", $"time", $"open", $"high", $"low", $"close")
      .as[OhlcRow]
      .groupByKey(r => (r.pair, r.timeframe))
      .flatMapSortedGroups($"time") { case ((pair, tf), rows) =>
        var haOpen = 0.0; var haClose = 0.0; var first = true
        rows.map { r =>
          val hc = (r.open + r.high + r.low + r.close) / 4.0
          val ho = if (first) { first = false; (r.open + r.close) / 2.0 }
                   else (haOpen + haClose) / 2.0
          haOpen = ho; haClose = hc
          val hh = math.max(r.high, math.max(ho, hc))
          val hl = math.min(r.low, math.min(ho, hc))
          (pair, tf, r.time, ho, hh, hl, hc)
        }
      }
      .toDF("pair", "timeframe", "time", "ha_open", "ha_high", "ha_low", "ha_close")
  }

  /** W16: candlestick pattern flags — the screener predicates a desk runs
    * over every bar (definitions documented here and pinned by the
    * oracle): doji (body ≤ 10% of a nonzero range), hammer (range > 3×
    * body, lower shadow ≥ 2× body, upper shadow ≤ body), bullish/bearish
    * engulfing (current body swallows a prior opposite-color body). Pure
    * per-row comparisons plus one lag — stateless at any scale. */
  def candlePatterns(candles: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("pair"), col("timeframe")).orderBy(col("time"))
    val body = abs(col("close") - col("open"))
    val range = col("high") - col("low")
    val upper = col("high") - greatest(col("open"), col("close"))
    val lower = least(col("open"), col("close")) - col("low")
    candles
      .select(col("pair"), col("timeframe"), col("time"),
        col("open"), col("high"), col("low"), col("close"),
        lag(col("open"), 1).over(w).as("po"),
        lag(col("close"), 1).over(w).as("pc"))
      .select(col("pair"), col("timeframe"), col("time"),
        (range > 0.0 && body <= range * 0.1).as("doji"),
        (range > body * 3.0 && lower >= body * 2.0 && upper <= body)
          .as("hammer"),
        coalesce(col("pc") < col("po") && col("close") > col("open") &&
          col("open") <= col("pc") && col("close") >= col("po"), lit(false))
          .as("bull_engulf"),
        coalesce(col("pc") > col("po") && col("close") < col("open") &&
          col("open") >= col("pc") && col("close") <= col("po"), lit(false))
          .as("bear_engulf"))
      .filter(col("doji") || col("hammer") || col("bull_engulf") ||
        col("bear_engulf"))
  }

  /** On-balance volume over candles carrying a `vol` column: running sum of
    * volume signed by the close-to-close direction (first candle contributes
    * 0 by convention). Integer arithmetic throughout — exact at any scale —
    * and one shuffle on the series key. */
  def obv(candlesWithVol: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("pair")).orderBy(col("time"))
    candlesWithVol
      .withColumn("prev_close", lag(col("close"), 1).over(w))
      .withColumn("signed_vol",
        when(col("prev_close").isNull, lit(0L))
          .when(col("close") > col("prev_close"), col("vol"))
          .when(col("close") < col("prev_close"), -col("vol"))
          .otherwise(lit(0L)))
      .withColumn("obv",
        sum(col("signed_vol")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("pair"), col("time"), col("close"), col("vol"), col("obv"))
  }

  /** U21: TRIX — the 1-row rate-of-change of a TRIPLE SMA-seeded EMA of the
    * close (`100·(e3 − prev_e3)/prev_e3`). Three chained [[ema]]-style
    * recurrences carried through one sorted-group fold; each stage steps
    * only on its predecessor's DEFINED outputs, so with all stages sharing
    * `period` the warm-ups land deterministically at rows `p`, `2p−1`,
    * `3p−2` and TRIX itself at `3p−1`. State per series: nine doubles and
    * three counters — O(1), tick-grain safe under the fold memory
    * contract. */
  def trix(candles: DataFrame, period: Int = 15, calcVersion: String = CalcVersion): Dataset[IndicatorValue] =
    foldSeries(candles, "TRIX", period, calcVersion) { () =>
      val s1 = new EmaStage(period); val s2 = new EmaStage(period)
      val s3 = new EmaStage(period)
      var prev3 = Option.empty[Double]
      c => {
        val e3 = s1.step(c).flatMap(s2.step).flatMap(s3.step)
        val out = for (p3 <- prev3; v <- e3) yield 100.0 * (v - p3) / p3
        if (e3.isDefined) prev3 = e3
        out
      }
    }

  /** One SMA-seeded EMA stage of a chained recurrence ([[trix]]/[[dema]]/
    * [[tema]]); `step` is fed only DEFINED inputs, so chaining via
    * `flatMap` gives each stage its own warm-up over the predecessor's
    * defined outputs. */
  private final class EmaStage(period: Int) {
    private val k = 2.0 / (period + 1)
    private var i = -1; private var sum = 0.0; private var prev = 0.0
    def step(x: Double): Option[Double] = {
      i += 1
      if (i < period - 1) { sum += x; None }
      else if (i == period - 1) { prev = (sum + x) / period; Some(prev) }
      else { prev = (x - prev) * k + prev; Some(prev) }
    }
  }

  /** U26: DEMA — `2·EMA − EMA(EMA)`, the lag-reduced double EMA (Mulloy).
    * Two chained [[EmaStage]]s; defined from row `2p−1`. O(1) state. */
  def dema(candles: DataFrame, period: Int = 10, calcVersion: String = CalcVersion): Dataset[IndicatorValue] =
    foldSeries(candles, "DEMA", period, calcVersion) { () =>
      val s1 = new EmaStage(period); val s2 = new EmaStage(period)
      c => {
        val e1 = s1.step(c)
        val e2 = e1.flatMap(s2.step)
        for (a <- e1; b <- e2) yield 2.0 * a - b
      }
    }

  /** U27: TEMA — `3·EMA − 3·EMA² + EMA³` (Mulloy's triple form). Three
    * chained [[EmaStage]]s; defined from row `3p−2`. O(1) state. */
  def tema(candles: DataFrame, period: Int = 10, calcVersion: String = CalcVersion): Dataset[IndicatorValue] =
    foldSeries(candles, "TEMA", period, calcVersion) { () =>
      val s1 = new EmaStage(period); val s2 = new EmaStage(period)
      val s3 = new EmaStage(period)
      c => {
        val e1 = s1.step(c)
        val e2 = e1.flatMap(s2.step)
        val e3 = e2.flatMap(s3.step)
        for (a <- e1; b <- e2; cc <- e3) yield 3.0 * a - 3.0 * b + cc
      }
    }

  /** U22: Kaufman adaptive moving average. Efficiency ratio
    * `ER = |close − close[p]| / Σ|Δclose|` over the trailing `p` steps
    * scales the smoothing constant between the fast (2-period) and slow
    * (30-period) EMA constants: `sc = (ER·(2/3 − 2/31) + 2/31)²`,
    * `kama += sc·(close − kama)`, seeded with the prior close at the first
    * full window. ENGINE-PORTABLE NUMERICS: closes are quantized to
    * DECIMAL(12,6) (the same double→decimal boundary the corr fold uses),
    * so ER's numerator and denominator are EXACT decimal sums — fold-order
    * free — and the only float work is the identical er/sc/kama expression
    * on both engines. ER := 0 when the window is flat (denominator 0).
    * State per series: a `p+1`-close ring + one double — O(period). */
  def kama(candles: DataFrame, period: Int = 10, calcVersion: String = CalcVersion): Dataset[IndicatorValue] =
    foldSeries(candles, "KAMA", period, calcVersion) { () =>
      val scDiff = 2.0 / 3.0 - 2.0 / 31.0
      val slowSC = 2.0 / 31.0
      var closes = Vector.empty[BigDecimal] // last p+1 quantized closes
      var prev = 0.0; var have = false
      c => {
        val cd = BigDecimal.decimal(c).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        closes = (closes :+ cd).takeRight(period + 1)
        if (closes.size < period + 1) None
        else {
          val num = (closes.last - closes.head).abs
          val den = closes.iterator.sliding(2).withPartial(false)
            .foldLeft(BigDecimal(0)) { (s, w) => s + (w(1) - w(0)).abs }
          val er = if (den.signum == 0) 0.0 else num.toDouble / den.toDouble
          val sc0 = er * scDiff + slowSC
          val x = closes.last.toDouble
          if (!have) { prev = closes(period - 1).toDouble; have = true }
          prev = prev + sc0 * sc0 * (x - prev)
          Some(prev)
        }
      }
    }

  /** U23: vortex indicator — uptrend/downtrend movement ratios
    * `VI+ = Σ|high − prevLow| / ΣTR` and `VI− = Σ|low − prevHigh| / ΣTR`
    * over the trailing `period` bars. Each per-bar term is one exact double
    * expression quantized to DECIMAL(18,6); the window sums are exact
    * decimal (order-free) and the final ratio is a single double division —
    * bit-identical on any engine, same discipline as [[bollinger]]. NULL
    * while the window is short or the TR sum is zero. Pure window
    * aggregate: codegen'd, one shuffle on the series key. */
  def vortex(candles: DataFrame, period: Int = 14): DataFrame = {
    require(period >= 2, s"period must be >= 2, got $period")
    val w = Window.partitionBy(col("pair"), col("timeframe")).orderBy(col("time"))
    val frame = w.rowsBetween(-(period - 1), Window.currentRow)
    candles
      .withColumn("ph", lag(col("high"), 1).over(w))
      .withColumn("pl", lag(col("low"), 1).over(w))
      .withColumn("pc", lag(col("close"), 1).over(w))
      .withColumn("rn", row_number().over(w))
      .withColumn("vmp6", abs(col("high") - col("pl")).cast("decimal(18,6)"))
      .withColumn("vmm6", abs(col("low") - col("ph")).cast("decimal(18,6)"))
      .withColumn("tr6",
        greatest(col("high") - col("low"), abs(col("high") - col("pc")),
          abs(col("low") - col("pc"))).cast("decimal(18,6)"))
      .withColumn("sum_vmp", sum(col("vmp6")).over(frame))
      .withColumn("sum_vmm", sum(col("vmm6")).over(frame))
      .withColumn("sum_tr", sum(col("tr6")).over(frame))
      .select(col("pair"), col("timeframe"), col("time"),
        lit(period).as("period"),
        when(col("rn") >= period + 1 && col("sum_tr") =!= 0,
          col("sum_vmp").cast("double") / col("sum_tr").cast("double")).as("vi_plus"),
        when(col("rn") >= period + 1 && col("sum_tr") =!= 0,
          col("sum_vmm").cast("double") / col("sum_tr").cast("double")).as("vi_minus"))
  }

  /** U24: Ultimate Oscillator — Williams' three-horizon weighted pressure
    * ratio `100·(4·a7 + 2·a14 + a28)/7` with `a_p = Σbp/Σtr` over the
    * trailing `p` bars, `bp = close − min(low, prevClose)`,
    * `tr = max(high, prevClose) − min(low, prevClose)`. Same exact-decimal
    * window-sum discipline as [[vortex]]; defined once the longest horizon
    * has `p3` complete bars (row `p3+1`) and every TR sum is nonzero. */
  def ultimateOscillator(candles: DataFrame, p1: Int = 7, p2: Int = 14,
                         p3: Int = 28): DataFrame = {
    require(2 <= p1 && p1 < p2 && p2 < p3, s"need 2 <= p1 < p2 < p3, got $p1/$p2/$p3")
    val w = Window.partitionBy(col("pair"), col("timeframe")).orderBy(col("time"))
    def f(p: Int) = w.rowsBetween(-(p - 1), Window.currentRow)
    val lo = least(col("low"), col("pc"))
    val hi = greatest(col("high"), col("pc"))
    def ratio(p: Int): Column =
      col(s"sbp$p").cast("double") / col(s"str$p").cast("double")
    val defined = col("rn") >= p3 + 1 &&
      col(s"str$p1") =!= 0 && col(s"str$p2") =!= 0 && col(s"str$p3") =!= 0
    candles
      .withColumn("pc", lag(col("close"), 1).over(w))
      .withColumn("rn", row_number().over(w))
      .withColumn("bp6", (col("close") - lo).cast("decimal(18,6)"))
      .withColumn("tr6", (hi - lo).cast("decimal(18,6)"))
      .withColumn(s"sbp$p1", sum(col("bp6")).over(f(p1)))
      .withColumn(s"str$p1", sum(col("tr6")).over(f(p1)))
      .withColumn(s"sbp$p2", sum(col("bp6")).over(f(p2)))
      .withColumn(s"str$p2", sum(col("tr6")).over(f(p2)))
      .withColumn(s"sbp$p3", sum(col("bp6")).over(f(p3)))
      .withColumn(s"str$p3", sum(col("tr6")).over(f(p3)))
      .select(col("pair"), col("timeframe"), col("time"),
        lit(p3).as("period"),
        when(defined,
          lit(100.0) * (lit(4.0) * ratio(p1) + lit(2.0) * ratio(p2) + ratio(p3))
            / lit(7.0)).as("value"))
  }

  /** U25: rolling least-squares regression — the linreg slope and the
    * one-step-ahead forecast (`ŷ = ȳ + slope·(x₀ − x̄)`) chartists draw as
    * the "linear regression channel" midline. The x axis is the absolute
    * row number (slope is invariant under x shifts, so relative window
    * positions are unnecessary); Σy and Σ(x·y) are EXACT DECIMAL window
    * sums and Σx/Σx² exact integer sums, so the only float work is the
    * final cast-multiply-divide chain — identically spelled on any
    * engine ([[bollinger]] discipline). NULL while the window is short.
    * Pure window aggregate: codegen'd, one shuffle on the series key. */
  def linreg(candles: DataFrame, period: Int = 20): DataFrame = {
    require(period >= 2, s"period must be >= 2, got $period")
    val w = Window.partitionBy(col("pair"), col("timeframe")).orderBy(col("time"))
    val frame = w.rowsBetween(-(period - 1), Window.currentRow)
    val p = lit(period.toDouble)
    val num = p * col("sxy").cast("double") -
      col("sx").cast("double") * col("sy").cast("double")
    val den = p * col("sxx").cast("double") -
      col("sx").cast("double") * col("sx").cast("double")
    val slope = num / den
    val forecast = col("sy").cast("double") / p +
      slope * ((col("rn") + 1) - col("sx").cast("double") / p)
    candles
      .withColumn("rn", row_number().over(w))
      .withColumn("y6", col("close").cast("decimal(18,6)"))
      .withColumn("xy", (col("rn").cast("decimal(12,0)") * col("y6"))
        .cast("decimal(38,6)"))
      .withColumn("rnl", col("rn").cast("bigint"))
      .withColumn("sy", sum(col("y6")).over(frame))
      .withColumn("sxy", sum(col("xy")).over(frame))
      .withColumn("sx", sum(col("rnl")).over(frame))
      .withColumn("sxx", sum(col("rnl") * col("rnl")).over(frame))
      .select(col("pair"), col("timeframe"), col("time"),
        lit(period).as("period"),
        when(col("rn") >= period, slope).as("slope"),
        when(col("rn") >= period, forecast).as("forecast"))
  }

  /** W18: Renko bricks — the price-move chart transform: from a reference
    * price `A` (the first close), each close emits one brick per full
    * `brick`-sized move (`k = ⌊(close − A)/brick⌋` up-bricks or the
    * mirror down), advancing `A` by `k·brick`; closes inside the band
    * emit nothing (time is removed from the chart — only movement
    * remains). Plain mono bricks (no 2× reversal filter), documented
    * spec. The reference level is carried as `(a0, m)` with INTEGER `m`
    * (never `A += brick` float accumulation — no drift at any series
    * length), so every brick edge is the single expression
    * `a0 + k·brick`, portable to any engine. One sorted-group fold,
    * O(1) state; emission is an iterator (no per-key buffering). */
  def renko(candles: DataFrame, brick: Double): Dataset[RenkoBrick] = {
    require(brick > 0, s"brick must be positive, got $brick")
    val spark = candles.sparkSession
    import spark.implicits._
    candles.select($"pair", $"timeframe", $"time", $"close").as[CloseRow]
      .groupByKey(r => (r.pair, r.timeframe))
      .flatMapSortedGroups($"time") { case ((pair, tf), rows) =>
        var a0 = 0.0; var m = 0L; var n = 0L; var first = true
        rows.flatMap { r =>
          if (first) { first = false; a0 = r.close; Iterator.empty }
          else {
            val ku = math.max(math.floor((r.close - (a0 + m * brick)) / brick).toLong, 0L)
            val kd = math.max(math.floor(((a0 + m * brick) - r.close) / brick).toLong, 0L)
            val (m0, n0) = (m, n)
            m = m + ku - kd
            n = n + ku + kd
            val ups = (1L to ku).iterator.map { i =>
              RenkoBrick(pair, tf, r.time, n0 + i, "up",
                a0 + (m0 + i - 1) * brick, a0 + (m0 + i) * brick)
            }
            val downs = (1L to kd).iterator.map { i =>
              RenkoBrick(pair, tf, r.time, n0 + i, "down",
                a0 + (m0 - i + 1) * brick, a0 + (m0 - i) * brick)
            }
            ups ++ downs
          }
        }
      }
  }

  /** U28: Elder Ray — bull power `high − EMA(close)` and bear power
    * `low − EMA(close)`: the strength-above/below-consensus pair Elder's
    * triple-screen uses. The EMA rides the same SMA-seeded [[EmaStage]]
    * recurrence INSIDE the one sorted-group fold (no join back to the
    * candle set — one shuffle, O(1) state), NULL until the seed fills. */
  def elderRay(candles: DataFrame, period: Int = 13,
               calcVersion: String = CalcVersion): DataFrame = {
    require(period >= 2, s"period must be >= 2, got $period")
    val spark = candles.sparkSession
    import spark.implicits._
    candles.select($"pair", $"timeframe", $"time", $"open", $"high", $"low", $"close")
      .as[OhlcRow]
      .groupByKey(r => (r.pair, r.timeframe))
      .flatMapSortedGroups($"time") { case ((pair, tf), rows) =>
        val e = new EmaStage(period)
        rows.map { r =>
          val ema = e.step(r.close)
          (pair, tf, r.time, period,
            ema.map(v => r.high - v), ema.map(v => r.low - v))
        }
      }
      .toDF("pair", "timeframe", "time", "period", "bull", "bear")
  }

  /** W20: ZigZag swing pivots — the filtered pivot sequence pattern
    * scanners and Elliott/harmonic tooling consume: while a leg runs, the
    * running extreme ratchets; when the close retraces ≥ `rev`
    * (fractionally, `(E − c)/E` from a high / `(c − E)/E` from a low),
    * the EXTREME is emitted as a confirmed pivot and the leg flips.
    * Before the first confirmation both running extremes are tracked and
    * the opposite extreme becomes pivot #1. Only CONFIRMED pivots are
    * output (a confirmed pivot can never be revised), which is exactly
    * what makes the identical fold append-safe as a stream
    * ([[graft.streaming.Streams.zigzagStream]]). One sorted-group fold,
    * O(1) state: direction + two (price, time) extremes. */
  def zigzag(candles: DataFrame, rev: Double = 0.1): Dataset[ZigzagPivot] = {
    require(rev > 0 && rev < 1, s"rev must be in (0,1), got $rev")
    val spark = candles.sparkSession
    import spark.implicits._
    candles.select($"pair", $"timeframe", $"time", $"close").as[CloseRow]
      .groupByKey(r => (r.pair, r.timeframe))
      .flatMapSortedGroups($"time") { case ((pair, tf), rows) =>
        var dir = 0 // 0 = first leg unknown, +1 up leg, -1 down leg
        var hiP = 0.0; var hiT: Timestamp = null
        var loP = 0.0; var loT: Timestamp = null
        var first = true
        var n = 0L
        rows.flatMap { r =>
          val c = r.close
          if (first) {
            first = false
            hiP = c; hiT = r.time; loP = c; loT = r.time
            Iterator.empty
          } else if (dir == 0) {
            if (c > hiP) { hiP = c; hiT = r.time }
            if (c < loP) { loP = c; loT = r.time }
            if ((hiP - c) / hiP >= rev) {
              n += 1; dir = -1
              val p = ZigzagPivot(pair, tf, n, hiT, "high", hiP, r.time)
              loP = c; loT = r.time
              Iterator.single(p)
            } else if ((c - loP) / loP >= rev) {
              n += 1; dir = 1
              val p = ZigzagPivot(pair, tf, n, loT, "low", loP, r.time)
              hiP = c; hiT = r.time
              Iterator.single(p)
            } else Iterator.empty
          } else if (dir == 1) {
            if (c > hiP) { hiP = c; hiT = r.time; Iterator.empty }
            else if ((hiP - c) / hiP >= rev) {
              n += 1; dir = -1
              val p = ZigzagPivot(pair, tf, n, hiT, "high", hiP, r.time)
              loP = c; loT = r.time
              Iterator.single(p)
            } else Iterator.empty
          } else {
            if (c < loP) { loP = c; loT = r.time; Iterator.empty }
            else if ((c - loP) / loP >= rev) {
              n += 1; dir = 1
              val p = ZigzagPivot(pair, tf, n, loT, "low", loP, r.time)
              hiP = c; hiT = r.time
              Iterator.single(p)
            } else Iterator.empty
          }
        }
      }
  }

  /** W19: realized volatility — the model-free variance estimate
    * `RV = Σ r²` over each (pair, day)'s 1-minute simple returns
    * (returns never cross the day boundary), with `vol = √RV`. Simple
    * returns, not log returns, keep the estimator inside this module's
    * no-transcendentals rule: each return is one double expression
    * rounded to the 6-dp grid, squares are EXACT DECIMAL (order-free
    * sums), and sqrt is correctly rounded per IEEE-754 — bit-portable.
    * One day-keyed window pass + one aggregation shuffle. */
  def realizedVol(candles: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("pair"), to_date(col("time")))
      .orderBy(col("time"))
    candles
      .withColumn("pc", lag(col("close"), 1).over(w))
      .withColumn("r6", round((col("close") - col("pc")) / col("pc"), 6))
      .filter(col("r6").isNotNull)
      .groupBy(col("pair"), to_date(col("time")).as("day"))
      .agg(count(lit(1)).as("n_returns"),
        sum((col("r6").cast("decimal(18,6)") * col("r6").cast("decimal(18,6)"))
          .cast("decimal(38,12)")).as("rv_dec"))
      .select(col("pair"), col("day"), col("n_returns"),
        round(col("rv_dec").cast("double"), 6).as("rv"),
        round(sqrt(col("rv_dec").cast("double")), 6).as("vol"))
  }

  /** U29: Awesome Oscillator (Bill Williams) — the 5/34 SMA difference of
    * the bar midpoint `(high+low)/2`. The midpoint snaps to the 6-dp grid
    * and both window sums are EXACT decimal (fold-order free, engine
    * portable); the only float work is the two divisions and one subtract.
    * Two running frames over ONE Window node — codegen'd, one shuffle on
    * the series key. */
  def awesome(candles: DataFrame, fast: Int = 5, slow: Int = 34): DataFrame = {
    require(fast >= 1 && slow > fast, s"need slow > fast >= 1, got $fast/$slow")
    val w = Window.partitionBy(col("pair"), col("timeframe")).orderBy(col("time"))
    candles
      .withColumn("mp6", round((col("high") + col("low")) / 2, 6).cast("decimal(18,6)"))
      .withColumn("rn", row_number().over(w))
      .withColumn("sf", sum(col("mp6")).over(w.rowsBetween(-(fast - 1), Window.currentRow)))
      .withColumn("ss", sum(col("mp6")).over(w.rowsBetween(-(slow - 1), Window.currentRow)))
      .select(col("pair"), col("timeframe"), col("time"),
        when(col("rn") >= slow,
          col("sf").cast("double") / fast - col("ss").cast("double") / slow).as("value"))
  }

  /** U30: Chaikin Money Flow — `Σ(mfm·vol) / Σ(vol)` over the trailing
    * `period` bars, where the money-flow multiplier
    * `mfm = ((close−low)−(high−close))/(high−low)` (0 on a flat bar). mfm
    * is the one float division; it snaps to the 6-dp grid so the numerator
    * `mfm6·vol` is an exact decimal sum and the denominator an integer sum
    * — partial-aggregation-order-proof like [[Ohlc.vwap]]. */
  def cmf(candlesWithVol: DataFrame, period: Int = 20): DataFrame = {
    require(period >= 2, s"period must be >= 2, got $period")
    val w = Window.partitionBy(col("pair"), col("timeframe")).orderBy(col("time"))
    val frame = w.rowsBetween(-(period - 1), Window.currentRow)
    val mfm = when(col("high") === col("low"), lit(0.0))
      .otherwise((lit(2.0) * col("close") - col("low") - col("high")) /
        (col("high") - col("low")))
    candlesWithVol
      .withColumn("mfv", round(mfm, 6).cast("decimal(18,6)") * col("vol").cast("decimal(9,0)"))
      .withColumn("rn", row_number().over(w))
      .withColumn("num", sum(col("mfv")).over(frame))
      .withColumn("den", sum(col("vol")).over(frame))
      .select(col("pair"), col("timeframe"), col("time"), lit(period).as("period"),
        when(col("rn") >= period,
          col("num").cast("double") / col("den").cast("double")).as("value"))
  }

  /** U31: Accumulation/Distribution line — the RUNNING sum of the money-flow
    * volume `mfm·vol` ([[cmf]]'s per-bar term) from the series start. The
    * running sum is exact decimal, so micro-batch splits, partial-agg order
    * and engine cannot move it; emitted as a double on the way out. */
  def adLine(candlesWithVol: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("pair"), col("timeframe")).orderBy(col("time"))
    val mfm = when(col("high") === col("low"), lit(0.0))
      .otherwise((lit(2.0) * col("close") - col("low") - col("high")) /
        (col("high") - col("low")))
    candlesWithVol
      .withColumn("mfv", round(mfm, 6).cast("decimal(18,6)") * col("vol").cast("decimal(9,0)"))
      .withColumn("ad_dec",
        sum(col("mfv")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("pair"), col("timeframe"), col("time"),
        col("close"), col("vol"), col("ad_dec").cast("double").as("ad"))
  }

  /** U35: Chaikin Oscillator — `EMA(fast) − EMA(slow)` of the [[adLine]]
    * accumulation/distribution series (the money-flow momentum gauge).
    * Composes the window-exact A/D (decimal running sum → one double per
    * bar) with two SMA-seeded [[EmaStage]] recurrences stepped TOGETHER on
    * every bar inside one sorted-group fold; defined from row `slow`.
    * O(1) state per series. */
  def chaikin(candlesWithVol: DataFrame, fast: Int = 3, slow: Int = 10,
              calcVersion: String = CalcVersion): Dataset[IndicatorValue] = {
    require(fast >= 2 && slow > fast, s"need slow > fast >= 2, got $fast/$slow")
    val ad = adLine(candlesWithVol)
      .select(col("pair"), col("timeframe"), col("time"), col("ad").as("close"))
    foldSeries(ad, "CHAIKIN", slow, calcVersion) { () =>
      val f = new EmaStage(fast); val s = new EmaStage(slow)
      c => {
        val a = f.step(c); val b = s.step(c) // both stages step on EVERY bar
        for (x <- a; y <- b) yield x - y
      }
    }
  }

  /** U36: Percentage Volume Oscillator — MACD's shape applied to VOLUME:
    * `100·(EMA(fast) − EMA(slow))/EMA(slow)` over the per-bar volume
    * series. Detects volume expansion/contraction regimes scale-free.
    * Two SMA-seeded [[EmaStage]]s stepped together (the [[chaikin]]
    * pattern); NULL while warm or when the slow EMA is 0 (impossible with
    * tick-count volume ≥ 1, but the guard keeps the operator total).
    * O(1) state per series. */
  def pvo(candlesWithVol: DataFrame, fast: Int = 12, slow: Int = 26,
          calcVersion: String = CalcVersion): Dataset[IndicatorValue] = {
    require(fast >= 2 && slow > fast, s"need slow > fast >= 2, got $fast/$slow")
    val v = candlesWithVol.select(col("pair"), col("timeframe"), col("time"),
      col("vol").cast("double").as("close"))
    foldSeries(v, "PVO", slow, calcVersion) { () =>
      val f = new EmaStage(fast); val s = new EmaStage(slow)
      c => {
        val a = f.step(c); val b = s.step(c)
        for (x <- a; y <- b if y != 0.0) yield 100.0 * (x - y) / y
      }
    }
  }

  /** U49: Schaff Trend Cycle — MACD run through TWO stochastic+smoothing
    * layers: `k1 = stoch(macd, cycle)`, `d1 += factor·(k1 − d1)`,
    * `k2 = stoch(d1, cycle)`, `stc += factor·(k2 − stc)`. A five-layer
    * recursion/window interleave carried by ONE sorted-group fold: two
    * EMA stages, two `cycle`-length rings (order statistics only — no
    * float-summation surface), two first-order smoothers. Flat stochastic
    * windows CARRY the previous %K (initial 0 — the `nz(f[1])`
    * convention), which also covers the first window (size 1, max = min).
    * Defined from rn = slow. O(cycle) state per series. */
  def stc(candles: DataFrame, fast: Int = 23, slow: Int = 50, cycle: Int = 10,
          factor: Double = 0.5, calcVersion: String = CalcVersion): Dataset[IndicatorValue] = {
    require(fast >= 2 && slow > fast && cycle >= 2,
      s"need slow > fast >= 2 and cycle >= 2, got $fast/$slow/$cycle")
    foldSeries(candles, "STC", slow, calcVersion) { () =>
      val eF = new EmaStage(fast); val eS = new EmaStage(slow)
      val ringM = scala.collection.mutable.Queue.empty[Double]
      val ringD = scala.collection.mutable.Queue.empty[Double]
      var prevK1 = 0.0; var prevK2 = 0.0
      var d1 = Option.empty[Double]; var stcV = Option.empty[Double]
      c => {
        val a = eF.step(c); val b = eS.step(c)
        (for (x <- a; y <- b) yield x - y) match {
          case None => None
          case Some(m) =>
            ringM.enqueue(m); if (ringM.size > cycle) ringM.dequeue()
            val mn = ringM.min; val mx = ringM.max
            val k1 = if (mx != mn) 100.0 * (m - mn) / (mx - mn) else prevK1
            prevK1 = k1
            val d1v = d1 match { case None => k1; case Some(p) => p + factor * (k1 - p) }
            d1 = Some(d1v)
            ringD.enqueue(d1v); if (ringD.size > cycle) ringD.dequeue()
            val dn = ringD.min; val dx = ringD.max
            val k2 = if (dx != dn) 100.0 * (d1v - dn) / (dx - dn) else prevK2
            prevK2 = k2
            val s = stcV match { case None => k2; case Some(p) => p + factor * (k2 - p) }
            stcV = Some(s)
            Some(s)
        }
      }
    }
  }

  /** U48: Balance of Power (Livermore) — per-bar buying-vs-selling pressure
    * `(close − open)/(high − low)`, SMA-smoothed. The [[eom]] exact-
    * arithmetic pattern end-to-end: the one float division snaps to the
    * 6-dp grid (`%.6f`), the smoothing sum is exact decimal, the mean is an
    * integer-micro HALF_UP division — no float round anywhere. Flat bars
    * (high = low) contribute exactly 0; defined from rn = period. */
  def bop(candles: DataFrame, period: Int = 14): DataFrame = {
    require(period >= 2, s"period must be >= 2, got $period")
    val w = Window.partitionBy(col("pair"), col("timeframe")).orderBy(col("time"))
    candles
      .withColumn("b6",
        when(col("high") === col("low"), lit(BigDecimal(0)).cast("decimal(18,6)"))
          .otherwise(format_string("%.6f",
            (col("close") - col("open")) / (col("high") - col("low")))
            .cast("decimal(18,6)")))
      .withColumn("rn", row_number().over(w))
      .withColumn("s", sum(col("b6")).over(w.rowsBetween(-(period - 1), Window.currentRow)))
      .withColumn("micro", (col("s") * 1000000).cast("long"))
      .withColumn("q", microHalfUp("micro", period))
      .select(col("pair"), col("timeframe"), col("time"), lit(period).as("period"),
        when(col("rn") >= period, col("q").cast("double") / 1000000.0).as("value"))
  }

  /** U47: Klinger Volume Oscillator — volume force through a dual EMA, with
    * a TREND STATE MACHINE feeding the recursion (a new fold shape: the
    * derived series itself carries discrete state, not just a lag):
    * `trend = sign(hlc − prev_hlc)` (down on ties, the common convention),
    * `cm = cm + dm` while the trend holds, else `prev_dm + dm` (reset),
    * `vf = vol · |2·dm/cm − 1| · trend · 100` (0 when cm = 0, flat bars),
    * `KVO = EMA(vf, fast) − EMA(vf, slow)`. Two parallel SMA-seeded
    * [[EmaStage]]s over the vf stream (defined from bar 2) — KVO defined
    * from rn = slow+1. O(1) state per series. */
  def klinger(candlesWithVol: DataFrame, fast: Int = 34, slow: Int = 55,
              calcVersion: String = CalcVersion): Dataset[IndicatorValue] = {
    require(fast >= 2 && slow > fast, s"need slow > fast >= 2, got $fast/$slow")
    val spark = candlesWithVol.sparkSession
    import spark.implicits._
    candlesWithVol
      .select($"pair", $"timeframe", $"time", $"high", $"low", $"close", $"vol")
      .as[HlcvRow]
      .groupByKey(r => (r.pair, r.timeframe))
      .flatMapSortedGroups($"time") { case ((pair, tf), rows) =>
        val eF = new EmaStage(fast); val eS = new EmaStage(slow)
        var prevHlc = 0.0; var prevTrend = 0; var cm = 0.0; var prevDm = 0.0
        var first = true
        rows.map { r =>
          val out =
            if (first) {
              first = false
              prevHlc = r.high + r.low + r.close; prevDm = r.high - r.low
              None
            } else {
              val hlc = r.high + r.low + r.close
              val trend = if (hlc > prevHlc) 1 else -1
              val dm = r.high - r.low
              cm = if (trend == prevTrend) cm + dm else prevDm + dm
              val vf =
                if (cm == 0.0) 0.0
                else r.vol * math.abs(2.0 * dm / cm - 1.0) * trend * 100.0
              prevHlc = hlc; prevTrend = trend; prevDm = dm
              val a = eF.step(vf); val b = eS.step(vf)
              for (x <- a; y <- b) yield x - y
            }
          IndicatorValue("KVO", pair, tf, r.time, slow, calcVersion, out)
        }
      }
  }

  /** U45: Percentage Price Oscillator — [[pvo]]'s scale-free MACD shape
    * applied to PRICE: `100·(EMA(fast) − EMA(slow))/EMA(slow)` over the
    * close. Two SMA-seeded [[EmaStage]]s stepped together; NULL while warm
    * or if the slow EMA is 0 (impossible for positive prices — the guard
    * keeps the operator total). O(1) state per series. */
  def ppo(candles: DataFrame, fast: Int = 12, slow: Int = 26,
          calcVersion: String = CalcVersion): Dataset[IndicatorValue] = {
    require(fast >= 2 && slow > fast, s"need slow > fast >= 2, got $fast/$slow")
    foldSeries(candles, "PPO", slow, calcVersion) { () =>
      val f = new EmaStage(fast); val s = new EmaStage(slow)
      c => {
        val a = f.step(c); val b = s.step(c)
        for (x <- a; y <- b if y != 0.0) yield 100.0 * (x - y) / y
      }
    }
  }

  /** U46: Vertical Horizontal Filter (Adam White) — trendiness gauge:
    * `(max(close, n) − min(close, n)) / Σ|Δclose|` over the same n-bar
    * frame. The numerator is a pure order statistic (no summation); each
    * |Δclose| snaps to the 6-dp grid so the denominator is an EXACT
    * decimal sliding sum — the one float division happens on identical
    * operands in both engines. Defined from rn = n+1 (every Δ in the
    * frame exists); NULL on a flat frame (denominator 0). */
  def vhf(candles: DataFrame, period: Int = 28): DataFrame = {
    require(period >= 2, s"period must be >= 2, got $period")
    val w = Window.partitionBy(col("pair"), col("timeframe")).orderBy(col("time"))
    val f = w.rowsBetween(-(period - 1), Window.currentRow)
    candles
      .withColumn("d6",
        when(lag(col("close"), 1).over(w).isNotNull,
          format_string("%.6f", abs(col("close") - lag(col("close"), 1).over(w))))
          .cast("decimal(18,6)"))
      .withColumn("rn", row_number().over(w))
      .withColumn("mx", max(col("close")).over(f))
      .withColumn("mn", min(col("close")).over(f))
      .withColumn("den", sum(col("d6")).over(f))
      .select(col("pair"), col("timeframe"), col("time"),
        lit(period).as("period"),
        when(col("rn") >= period + 1 && col("den") =!= 0,
          (col("mx") - col("mn")) / col("den").cast("double")).as("value"))
  }

  /** U44: Stochastic RSI (Chande/Kroll) — the stochastic oscillator applied
    * to the RSI series: `100·(RSI − min(RSI, n))/(max(RSI, n) − min(RSI, n))`
    * over the last `n` DEFINED RSI values. A window-over-recursion
    * composition: the Wilder recursion ([[rsi]]) feeds a rolling min/max
    * frame — order statistics, not sums, so the window adds no float-
    * summation divergence on top of the bit-exact recursion. NULL while
    * fewer than `n` RSI values exist or when the window is flat
    * (max = min leaves the ratio undefined; emitting NULL keeps the
    * operator total without inventing a 0/0 convention). Same single
    * series-key shuffle as the RSI fold — the window reuses its
    * partitioning. */
  def stochRsi(candles: DataFrame, period: Int = 14, stoch: Int = 14,
               calcVersion: String = CalcVersion): DataFrame = {
    require(stoch >= 2, s"stoch window must be >= 2, got $stoch")
    val w = Window.partitionBy(col("pair"), col("timeframe")).orderBy(col("time"))
    val f = w.rowsBetween(-(stoch - 1), Window.currentRow)
    rsi(candles, period, calcVersion).toDF()
      .filter(col("value").isNotNull)
      .withColumn("rn", row_number().over(w))
      .withColumn("mn", min(col("value")).over(f))
      .withColumn("mx", max(col("value")).over(f))
      .select(col("pair"), col("timeframe"), col("time"),
        lit(period).as("period"),
        when(col("rn") >= stoch && col("mx") =!= col("mn"),
          lit(100.0) * (col("value") - col("mn")) / (col("mx") - col("mn")))
          .as("value"))
  }

  /** U43: Know Sure Thing (Pring) — a weighted sum of four SMA-smoothed
    * rates of change: `KST = Σᵢ (i+1) · SMA(ROC(nᵢ), Lᵢ)` with the classic
    * (n, L) grid (10,10) (15,10) (20,10) (30,15). Each ROC snaps to the
    * 6-dp grid (`%.6f`, the [[eom]] pattern), so every smoothing sum is
    * EXACT decimal, each mean is an integer-micro [[microHalfUp]] division,
    * and the weighted sum is pure long arithmetic — the only float op is
    * the final /1e6. Defined from rn = max(nᵢ+Lᵢ) = 45: `sum()` skips the
    * NULL warm-up ROCs, so emission is gated to rows where every window is
    * fully populated. Four lags + four sliding sums over ONE window spec —
    * a single shuffle on the series key. */
  def kst(candles: DataFrame,
          rocs: Seq[Int] = Seq(10, 15, 20, 30),
          smas: Seq[Int] = Seq(10, 10, 10, 15)): DataFrame = {
    require(rocs.nonEmpty && rocs.size == smas.size, "rocs/smas must align")
    val w = Window.partitionBy(col("pair"), col("timeframe")).orderBy(col("time"))
    val defFrom = rocs.lazyZip(smas).map(_ + _).max
    var df = candles.withColumn("rn", row_number().over(w))
    val qs = rocs.zip(smas).zipWithIndex.map { case ((n, l), i) =>
      val cn = lag(col("close"), n).over(w)
      df = df
        .withColumn(s"roc$i",
          when(cn.isNotNull,
            format_string("%.6f", lit(100.0) * (col("close") - cn) / cn))
            .cast("decimal(18,6)"))
        .withColumn(s"s$i",
          sum(col(s"roc$i")).over(w.rowsBetween(-(l - 1), Window.currentRow)))
        .withColumn(s"m$i", (col(s"s$i") * 1000000).cast("long"))
        .withColumn(s"q$i", microHalfUp(s"m$i", l))
      col(s"q$i")
    }
    val kstMicro = qs.zipWithIndex.map { case (q, i) => q * (i + 1) }.reduce(_ + _)
    df.select(col("pair"), col("timeframe"), col("time"),
      lit(defFrom).as("period"),
      when(col("rn") >= defFrom, kstMicro.cast("double") / 1000000.0).as("value"))
  }

  /** U42: True Strength Index (Blau) — momentum double-smoothed through a
    * STACKED dual-chain EMA recursion: `mom = close − prev_close`, then
    * `TSI = 100 · EMA(EMA(mom, slow), fast) / EMA(EMA(|mom|, slow), fast)`.
    * A new recursion shape vs [[chaikin]]/[[pvo]] (two parallel stages) and
    * [[trix]] (one chained stack): here TWO chained stacks run in parallel
    * over a series DERIVED from a lag, so the stage warm-ups start at bar 2.
    * With inputs from rn=2, the slow stages seed at rn=`slow+1` and the fast
    * stages at rn=`slow+fast` — TSI is defined from there (|mom| sums are
    * positive on any non-constant series; the `y != 0` guard keeps the
    * operator total on degenerate flat series). O(1) state per series. */
  def tsi(candles: DataFrame, slow: Int = 25, fast: Int = 13,
          calcVersion: String = CalcVersion): Dataset[IndicatorValue] = {
    require(fast >= 2 && slow >= 2, s"need fast/slow >= 2, got $fast/$slow")
    foldSeries(candles, "TSI", slow, calcVersion) { () =>
      val mS = new EmaStage(slow); val mF = new EmaStage(fast)
      val aS = new EmaStage(slow); val aF = new EmaStage(fast)
      var prev = Option.empty[Double]
      c => {
        val out = prev.flatMap { p =>
          val mom = c - p
          val m2 = mS.step(mom).flatMap(mF.step)
          val a2 = aS.step(math.abs(mom)).flatMap(aF.step)
          for (x <- m2; y <- a2 if y != 0.0) yield 100.0 * x / y
        }
        prev = Some(c)
        out
      }
    }
  }

  /** U37: Ease of Movement (Arms) — how far price travels per unit of
    * volume: per bar `emv = midmove · (high − low) / vol` with
    * `midmove = (h+l)/2 − (ph+pl)/2`, then an SMA(period) smoothing. The
    * per-bar emv snaps to the 6-dp grid so the smoothing sum is EXACT
    * decimal; a flat bar contributes exactly 0 (the `h−l` factor).
    * Defined from row `period + 1` (the first bar has no midmove). */
  def eom(candlesWithVol: DataFrame, period: Int = 14): DataFrame = {
    require(period >= 2, s"period must be >= 2, got $period")
    val w = Window.partitionBy(col("pair"), col("timeframe")).orderBy(col("time"))
    val mid = (col("high") + col("low")) / 2
    val pmid = (lag(col("high"), 1).over(w) + lag(col("low"), 1).over(w)) / 2
    candlesWithVol
      // %.6f → decimal: midmove sits on the half-grid (a mid is (h+l)/2 of
      // 6-dp bids), so emv lands within an ulp of 6-dp ties where DuckDB's
      // float-path round() diverged (measured 26/9788 rows). Java's %.6f is
      // HALF_UP on the shortest repr — the SAME semantics as Spark round()
      // — and the oracle replays it with the sround twin (see the ROUND
      // PARITY note above microHalfUp).
      // the first bar has no midmove: format_string would stringify the
      // NULL to "null" and fail the ANSI decimal cast — guard first
      .withColumn("emv6",
        when(lag(col("high"), 1).over(w).isNotNull,
          format_string("%.6f",
            (mid - pmid) * (col("high") - col("low")) / col("vol")))
          .cast("decimal(18,6)"))
      .withColumn("rn", row_number().over(w))
      .withColumn("s", sum(col("emv6")).over(w.rowsBetween(-(period - 1), Window.currentRow)))
      // the mean s/period computed in PURE INTEGER micro-units with explicit
      // HALF_UP: a 6-dp sum over a constant divisor lands EXACTLY on 7-dp
      // ties, where Spark's shortest-repr HALF_UP and DuckDB's float-path
      // round() disagree (measured 26/9788 rows) — integer arithmetic is
      // bit-identical on any engine, and the quotient is already on the
      // 6-dp grid so no final round exists to diverge
      .withColumn("micro", (col("s") * 1000000).cast("long"))
      .withColumn("q", microHalfUp("micro", period))
      .select(col("pair"), col("timeframe"), col("time"), lit(period).as("period"),
        when(col("rn") >= period + 1, col("q").cast("double") / 1000000.0).as("value"))
  }

  /** Sign-aware HALF_UP integer division of a micro-unit column by `d` —
    * the tie-free mean used by [[eom]]/[[dpo]] (see eom's scaladoc for the
    * round()-tie failure class this avoids). Operands stay non-negative in
    * both branches, so `div`'s truncation IS floor. */
  private[graft] def microHalfUp(micro: String, d: Int): Column =
    when(col(micro) >= 0, expr(s"($micro * 2 + $d) div (2 * $d)"))
      .otherwise(-expr(s"((-$micro) * 2 + $d) div (2 * $d)"))

  // NOTE ON ROUND PARITY (the u35/u36 hash-divergence class, fixed r11):
  // Spark's round(x, n) on DOUBLE is BigDecimal.valueOf(x).setScale(n,
  // HALF_UP) — HALF_UP on the SHORTEST decimal repr (Java's %.nf format is
  // the same algorithm). DuckDB's float-path round() diverges within an
  // ulp of the half-grid, and printf('%.nf') (fmt: exact-value, half-even)
  // diverges at exact dyadic ties. The bit-exact DuckDB twin, used by every
  // oracle (0/140578 adversarial diffs, valid for |x| < 9e9):
  //   round((x)::VARCHAR::DECIMAL(38,23), n)
  // — ::VARCHAR emits the shortest repr, DECIMAL round is half-away-from-
  // zero = HALF_UP, and scale 23 holds every <=17-significant-digit repr
  // of |x| >= 1e-6 exactly. Operators therefore keep native round().

  /** U38: Detrended Price Oscillator — `close − SMA(p) displaced p/2+1 bars
    * back`, the cycle extractor. ENTIRELY integer micro-unit arithmetic:
    * closes sit on the 6-dp grid, the SMA mean uses [[microHalfUp]] (a
    * 6-dp sum over a constant divisor is the round()-tie class), and the
    * difference of two on-grid micro values is exact — the ONLY float op
    * is the final /1e6 presentation divide, identical on any engine.
    * Defined from row `p + p/2 + 1`. */
  def dpo(candles: DataFrame, period: Int = 20): DataFrame = {
    require(period >= 2, s"period must be >= 2, got $period")
    val shift = period / 2 + 1
    val w = Window.partitionBy(col("pair"), col("timeframe")).orderBy(col("time"))
    candles
      .withColumn("c6", col("close").cast("decimal(18,6)"))
      .withColumn("rn", row_number().over(w))
      .withColumn("smicro",
        (sum(col("c6")).over(w.rowsBetween(-(period - 1), Window.currentRow))
          * 1000000).cast("long"))
      .withColumn("q", when(col("rn") >= period, microHalfUp("smicro", period)))
      .withColumn("lq", lag(col("q"), shift).over(w))
      .select(col("pair"), col("timeframe"), col("time"), lit(period).as("period"),
        when(col("rn") >= period + shift,
          ((col("c6") * 1000000).cast("long") - col("lq")).cast("double") / 1000000.0)
          .as("value"))
  }

  /** U41: Chande Momentum Oscillator — `100·(Σup − Σdown)/(Σup + Σdown)`
    * over the trailing `period` one-bar moves: RSI's information without
    * Wilder smoothing, bounded ±100. Diffs of grid closes are exact
    * decimals, both window sums exact ([[mfi]]'s coalesce convention for
    * all-one-sided frames); one float ratio at the end. NULL while warm or
    * on a flat frame. */
  def cmo(candles: DataFrame, period: Int = 14): DataFrame = {
    require(period >= 2, s"period must be >= 2, got $period")
    val w = Window.partitionBy(col("pair"), col("timeframe")).orderBy(col("time"))
    val frame = w.rowsBetween(-(period - 1), Window.currentRow)
    val c6 = col("close").cast("decimal(18,6)")
    val sup = coalesce(col("su").cast("double"), lit(0.0))
    val sdn = coalesce(col("sd").cast("double"), lit(0.0))
    candles
      .withColumn("d6", c6 - lag(c6, 1).over(w))
      .withColumn("up", when(col("d6") > 0, col("d6")))
      .withColumn("dn", when(col("d6") < 0, -col("d6")))
      .withColumn("rn", row_number().over(w))
      .withColumn("su", sum(col("up")).over(frame))
      .withColumn("sd", sum(col("dn")).over(frame))
      .select(col("pair"), col("timeframe"), col("time"), lit(period).as("period"),
        when(col("rn") >= period + 1 && sup + sdn =!= 0.0,
          lit(100.0) * (sup - sdn) / (sup + sdn)).as("value"))
  }

  /** W23: rolling historical Value-at-Risk — the `m`-th SMALLEST of the
    * trailing `window` one-bar returns (a discrete order statistic, NOT an
    * interpolated quantile: selection over exact 6-dp decimals is
    * bit-identical on any engine, where the engines' linear-interpolation
    * conventions are not). The frame EXCLUDES the current bar (VaR
    * conditions on information up to t−1). Frame is bounded (`window`
    * rows), so the per-row sort is O(window log window) on ≤ window
    * decimals — the u15 collected-frame discipline. Defined once the
    * frame holds `window` returns: row `window + 2`. */
  def rollingVar(candles: DataFrame, window: Int = 100, m: Int = 5): DataFrame = {
    require(window >= 2 && m >= 1 && m <= window,
      s"need 1 <= m <= window, window >= 2; got m=$m window=$window")
    val w = Window.partitionBy(col("pair"), col("timeframe")).orderBy(col("time"))
    candles
      .withColumn("pc", lag(col("close"), 1).over(w))
      .withColumn("r6",
        round((col("close") - col("pc")) / col("pc"), 6).cast("decimal(18,6)"))
      .withColumn("rn", row_number().over(w))
      .withColumn("vs", collect_list(col("r6")).over(w.rowsBetween(-window, -1)))
      .select(col("pair"), col("timeframe"), col("time"),
        lit(window).as("window"), lit(m).as("m"),
        when(col("rn") >= window + 2,
          element_at(array_sort(col("vs")), m).cast("double")).as("var_m"))
  }

  /** U40: Ulcer Index (Martin) — `√(mean of dd²)` over the trailing
    * `period` bars, where `dd = 100·(close − max)/max` against the SAME
    * trailing maximum: the drawdown-depth risk gauge (penalizes depth AND
    * duration, unlike plain volatility). The drawdown snaps to the 6-dp
    * grid and dd² sums as an exact width-38 decimal (the [[realizedVol]]
    * discipline); the tail is one identical float chain
    * `sqrt(CAST(sum)/p)` on both engines. Defined from row `period`. */
  def ulcer(candles: DataFrame, period: Int = 14): DataFrame = {
    require(period >= 2, s"period must be >= 2, got $period")
    val w = Window.partitionBy(col("pair"), col("timeframe")).orderBy(col("time"))
    val frame = w.rowsBetween(-(period - 1), Window.currentRow)
    candles
      .withColumn("mx", max(col("close")).over(frame))
      .withColumn("dd6",
        round(lit(100.0) * (col("close") - col("mx")) / col("mx"), 6).cast("decimal(18,6)"))
      .withColumn("rn", row_number().over(w))
      .withColumn("sq",
        sum(col("dd6") * col("dd6").cast("decimal(19,6)")).over(frame))
      .select(col("pair"), col("timeframe"), col("time"), lit(period).as("period"),
        when(col("rn") >= period,
          round(sqrt(col("sq").cast("double") / period), 6)).as("value"))
  }

  /** U39: Mass Index (Dorsey) — `Σ over sumP bars of EMA(h−l)/EMA(EMA(h−l))`,
    * the range-bulge reversal screen. The EMA ratio comes from two chained
    * [[EmaStage]]s in a sorted-group fold (defined from row `2·emaP−1`);
    * the ratio snaps to the 6-dp grid and the trailing sum is EXACT
    * decimal — the emitted value IS that sum (no division), so no
    * round()-tie exists at emission. Defined from row `2·emaP−2+sumP`. */
  def massIndex(candles: DataFrame, emaP: Int = 9, sumP: Int = 25): DataFrame = {
    require(emaP >= 2 && sumP >= 1, s"need emaP >= 2, sumP >= 1; got $emaP/$sumP")
    val spark = candles.sparkSession
    import spark.implicits._
    val ratios = candles
      .select($"pair", $"timeframe", $"time", ($"high" - $"low").as("close"))
      .as[CloseRow]
      .groupByKey(r => (r.pair, r.timeframe))
      .flatMapSortedGroups($"time") { case ((pair, tf), rows) =>
        val s1 = new EmaStage(emaP); val s2 = new EmaStage(emaP)
        rows.map { r =>
          val e1 = s1.step(r.close)
          val e2 = e1.flatMap(s2.step)
          (pair, tf, r.time, for (a <- e1; b <- e2 if b != 0.0) yield a / b)
        }
      }.toDF("pair", "timeframe", "time", "ratio")
    val w = Window.partitionBy(col("pair"), col("timeframe")).orderBy(col("time"))
    ratios
      .withColumn("r6", round(col("ratio"), 6).cast("decimal(18,6)"))
      .withColumn("rn", row_number().over(w))
      .withColumn("s", sum(col("r6")).over(w.rowsBetween(-(sumP - 1), Window.currentRow)))
      .select(col("pair"), col("timeframe"), col("time"),
        lit(emaP).as("period"),
        when(col("rn") >= 2 * emaP - 2 + sumP, col("s").cast("double")).as("value"))
  }

  /** W21: Williams fractal pivots — a bar whose high is STRICTLY above the
    * `wing` highs on each side (up fractal), or whose low is strictly below
    * the `wing` lows on each side (down fractal). Strict comparisons make
    * the verdict tie-free and deterministic; lag/lead over one Window node,
    * edge bars (missing a full wing) never qualify. A bar can be both (an
    * outside bar) — both flags are emitted. */
  def fractals(candles: DataFrame, wing: Int = 2): DataFrame = {
    require(wing >= 1, s"wing must be >= 1, got $wing")
    val w = Window.partitionBy(col("pair"), col("timeframe")).orderBy(col("time"))
    val neighborsH = (1 to wing).flatMap(k => Seq(lag(col("high"), k).over(w),
      lead(col("high"), k).over(w)))
    val neighborsL = (1 to wing).flatMap(k => Seq(lag(col("low"), k).over(w),
      lead(col("low"), k).over(w)))
    val up = neighborsH.map(n => n.isNotNull && col("high") > n).reduce(_ && _)
    val down = neighborsL.map(n => n.isNotNull && col("low") < n).reduce(_ && _)
    candles
      .withColumn("up_fractal", up)
      .withColumn("down_fractal", down)
      .filter(col("up_fractal") || col("down_fractal"))
      .select(col("pair"), col("timeframe"), col("time"),
        col("up_fractal"), col("down_fractal"), col("high"), col("low"))
  }

  /** Linearly-weighted moving average terms over a trailing `p`-row frame,
    * via the rn-shift identity: with weights `p..1` (newest..oldest),
    * `Σ wⱼ·xⱼ = (p − rnₜ)·Σ xⱼ + Σ rnⱼ·xⱼ` — two running decimal sums
    * instead of a per-row re-walk, both EXACT, sharing one Window node.
    * Returns (numerator decimal column names are left in place by the
    * caller). */
  private def wmaNum(p: Int, rnCol: Column, sCol: Column, rCol: Column): Column =
    ((lit(p) - rnCol) * sCol + rCol).cast("double") / (p * (p + 1) / 2)

  /** U33: Hull moving average — `WMA(2·WMA(p/2) − WMA(p), ⌊√p⌋)`, the
    * lag-reduced smoother. Every WMA numerator is an exact decimal running
    * sum (the rn-shift identity above — no O(p) re-walk per row, which is
    * exactly what Spark's WindowExec would do for a sliding frame). The
    * intermediate `2·WMA(p/2) − WMA(p)` is carried as an EXACT decimal over
    * the common denominator `denH·denN` — NOT divided and re-rounded: a
    * 6-dp-exact numerator over 10 lands exactly on the half-way grid point,
    * where the engines' tie rules diverge (measured: 37/9788 rows at
    * sf0.01). The single float op is the final division by
    * `denH·denN·denS`. Defined from row `p + ⌊√p⌋ − 1`. One Window pass,
    * one shuffle. */
  def hullMa(candles: DataFrame, period: Int = 9): DataFrame = {
    require(period >= 4, s"period must be >= 4, got $period")
    val half = period / 2
    val sq = math.floor(math.sqrt(period.toDouble)).toInt
    val denH = half * (half + 1) / 2
    val denN = period * (period + 1) / 2
    val denS = sq * (sq + 1) / 2
    val w = Window.partitionBy(col("pair"), col("timeframe")).orderBy(col("time"))
    def fr(p: Int) = w.rowsBetween(-(p - 1), Window.currentRow)
    def num(p: Int, sCol: Column, rCol: Column): Column =
      (lit(p) - col("rn")) * sCol + rCol
    candles
      .withColumn("x6", col("close").cast("decimal(18,6)"))
      .withColumn("rn", row_number().over(w))
      .withColumn("rx", col("rn") * col("x6"))
      .withColumn("sh", sum(col("x6")).over(fr(half)))
      .withColumn("rh", sum(col("rx")).over(fr(half)))
      .withColumn("sn", sum(col("x6")).over(fr(period)))
      .withColumn("rn2", sum(col("rx")).over(fr(period)))
      // ny/(denH·denN) == 2·WMA(half) − WMA(period), exactly
      .withColumn("ny", when(col("rn") >= period,
        lit(2 * denN) * num(half, col("sh"), col("rh")) -
          lit(denH) * num(period, col("sn"), col("rn2"))))
      .withColumn("rny", col("rn") * col("ny"))
      .withColumn("sy", sum(col("ny")).over(fr(sq)))
      .withColumn("rys", sum(col("rny")).over(fr(sq)))
      .select(col("pair"), col("timeframe"), col("time"), lit(period).as("period"),
        when(col("rn") >= period + sq - 1,
          num(sq, col("sy"), col("rys")).cast("double") / (denH * denN * denS))
          .as("value"))
  }

  /** U34: Coppock curve — `WMA(ROC(long) + ROC(short), wma)`, the
    * long-horizon momentum turn detector. The ROC sum is one float chain
    * snapped to the 6-dp grid; the WMA reuses [[hullMa]]'s exact-decimal
    * rn-shift identity. Defined once the WMA frame holds `wma` fully-warm
    * ROC rows: row `long + wma`. */
  def coppock(candles: DataFrame, longP: Int = 14, shortP: Int = 11,
              wmaP: Int = 10): DataFrame = {
    require(longP > shortP && shortP >= 1 && wmaP >= 2,
      s"need long > short >= 1, wma >= 2; got $longP/$shortP/$wmaP")
    val w = Window.partitionBy(col("pair"), col("timeframe")).orderBy(col("time"))
    def fr(p: Int) = w.rowsBetween(-(p - 1), Window.currentRow)
    def roc(p: Int): Column = {
      val prev = lag(col("close"), p).over(w)
      lit(100.0) * (col("close") - prev) / prev
    }
    candles
      .withColumn("rn", row_number().over(w))
      .withColumn("x6", when(col("rn") > longP,
        round(roc(longP) + roc(shortP), 6)).cast("decimal(18,6)"))
      .withColumn("rx", col("rn") * col("x6"))
      .withColumn("sx", sum(col("x6")).over(fr(wmaP)))
      .withColumn("rxs", sum(col("rx")).over(fr(wmaP)))
      .select(col("pair"), col("timeframe"), col("time"),
        when(col("rn") >= longP + wmaP,
          wmaNum(wmaP, col("rn"), col("sx"), col("rxs"))).as("value"))
  }

  /** U32: Elder's Force Index — the SMA-seeded EMA (the [[EmaStage]]
    * recurrence) of `(close − prevClose)·vol`. The per-bar force exists
    * from row 2, so the EMA warm-up lands at row `period + 1`. Same
    * single-shuffle sorted-group fold as [[ema]]; state per series: the
    * stage's three scalars + one previous close. */
  def forceIndex(candlesWithVol: DataFrame, period: Int = 13,
                 calcVersion: String = CalcVersion): Dataset[IndicatorValue] = {
    require(period >= 2, s"period must be >= 2, got $period")
    val spark = candlesWithVol.sparkSession
    import spark.implicits._
    candlesWithVol.select($"pair", $"timeframe", $"time", $"close", $"vol".cast("long").as("vol"))
      .as[CloseVolRow]
      .groupByKey(r => (r.pair, r.timeframe))
      .flatMapSortedGroups($"time") { case ((pair, tf), rows) =>
        val stage = new EmaStage(period)
        var pc = Double.NaN
        rows.map { r =>
          val out =
            if (pc.isNaN) None
            else stage.step((r.close - pc) * r.vol)
          pc = r.close
          IndicatorValue("FORCE", pair, tf, r.time, period, calcVersion, out)
        }
      }
  }

  /** Shared recursive-fold plumbing: shuffle once on (pair, timeframe),
    * secondary-sort by time, fold the in-order close sequence. `mkStep`
    * builds a FRESH stateful per-close step function per series (None =
    * warm-up); the group's sorted iterator streams through it one row at a
    * time, so per-key heap is the step's own state — O(period) scalars for
    * every indicator in the family — never the series length. (The
    * reference holds the whole series because its TA-Lib path is NumPy,
    * transform_services.py:184-214 — the scalability ceiling SURVEY §4
    * names; a decade of tick-grain rows per key streams through this fold
    * in constant memory.) */
  private def foldSeries(candles: DataFrame, indicator: String, period: Int,
                         calcVersion: String)(
      mkStep: () => Double => Option[Double]): Dataset[IndicatorValue] = {
    require(period >= 2, s"period must be >= 2, got $period")
    val spark = candles.sparkSession
    import spark.implicits._
    candles.select($"pair", $"timeframe", $"time", $"close").as[CloseRow]
      .groupByKey(r => (r.pair, r.timeframe))
      .flatMapSortedGroups($"time") { case ((pair, tf), rows) =>
        val step = mkStep()
        rows.map { r =>
          IndicatorValue(indicator, pair, tf, r.time, period, calcVersion, step(r.close))
        }
      }
  }

  /** F3 fan-out: one unioned indicator fact set for indicators × periods over
    * a candle set (the reference's 45-task Prefect loop —
    * src/etl/flows/transform.py:79-121 — collapses to one DataFrame union;
    * Spark schedules the per-series work in parallel). */
  def indicatorFacts(candles: DataFrame, indicators: Seq[String], periods: Seq[Int],
                     calcVersion: String = CalcVersion): DataFrame = {
    val parts = for { ind <- indicators; p <- periods } yield ind match {
      case "SMA" => sma(candles, p, calcVersion)
      case "EMA" => ema(candles, p, calcVersion).toDF()
      case "RSI" => rsi(candles, p, calcVersion).toDF()
      case other => throw new IllegalArgumentException(s"unknown indicator: $other")
    }
    parts.reduce(_ unionByName _)
  }

  /** One fused (indicator, period) step machine — value-identical to the
    * branch it replaces. SMA replicates WindowExec's sliding-frame AVG
    * bit-for-bit: Spark has no retractable double aggregates, so the frame
    * sum is a FRESH oldest→newest fold per row — the ring sum below is the
    * identical sequence of double adds. EMA/RSI reuse the [[ema]]/[[rsi]]
    * fold arithmetic verbatim.
    *
    * Machines are RESUMABLE: `snapshot`/`restore` round-trip the complete
    * fold state as (rows consumed, a small double vector), which is what
    * makes the incremental grid (E2 at the fused-plan shape) BIT-EXACT —
    * a machine restored from a snapshot replays the identical double ops
    * the uninterrupted fold would, unlike the truncated-warm-up reseed
    * (the s8b/s8c accepted approximation). State per cell: SMA `period`
    * doubles (the ring), EMA 2, RSI 3 — O(Σ periods) per key, independent
    * of series length. */
  private[graft] sealed abstract class FusedMachine {
    protected var n: Long = 0L
    def step(c: Double): Option[Double]
    /** Complete fold state: (rows consumed, indicator-specific vector). */
    def snapshot: (Long, Array[Double])
    def restore(n0: Long, v: Array[Double]): Unit
  }

  private def fusedMachine(indicator: String, period: Int): FusedMachine =
    indicator match {
      case "SMA" => new FusedMachine {
        private val ring = new Array[Double](period)
        def step(c: Double): Option[Double] = {
          ring((n % period).toInt) = c; n += 1
          if (n < period) None
          else {
            // oldest→newest, fresh per row (the WindowExec order)
            var s = 0.0
            var i = 0
            while (i < period) { s += ring(((n + i) % period).toInt); i += 1 }
            Some(s / period)
          }
        }
        def snapshot: (Long, Array[Double]) = (n, ring.clone())
        def restore(n0: Long, v: Array[Double]): Unit = {
          n = n0; System.arraycopy(v, 0, ring, 0, period)
        }
      }
      case "EMA" => new FusedMachine {
        private val k = 2.0 / (period + 1)
        private var seedSum = 0.0
        private var prev = 0.0
        def step(c: Double): Option[Double] = {
          n += 1
          if (n < period) { seedSum += c; None }
          else if (n == period) { prev = (seedSum + c) / period; Some(prev) }
          else { prev = (c - prev) * k + prev; Some(prev) }
        }
        def snapshot: (Long, Array[Double]) = (n, Array(seedSum, prev))
        def restore(n0: Long, v: Array[Double]): Unit = {
          n = n0; seedSum = v(0); prev = v(1)
        }
      }
      case "RSI" => new FusedMachine {
        private var prevClose = 0.0
        private var avgGain = 0.0
        private var avgLoss = 0.0
        def step(c: Double): Option[Double] = {
          val out =
            if (n == 0) None
            else {
              val diff = c - prevClose
              val gain = math.max(diff, 0.0)
              val loss = math.max(-diff, 0.0)
              if (n < period) { avgGain += gain; avgLoss += loss; None }
              else {
                if (n == period) {
                  avgGain = (avgGain + gain) / period; avgLoss = (avgLoss + loss) / period
                } else {
                  avgGain = (avgGain * (period - 1) + gain) / period
                  avgLoss = (avgLoss * (period - 1) + loss) / period
                }
                val denom = avgGain + avgLoss
                Some(if (denom == 0.0) 0.0 else 100.0 * avgGain / denom)
              }
            }
          prevClose = c
          n += 1
          out
        }
        def snapshot: (Long, Array[Double]) = (n, Array(prevClose, avgGain, avgLoss))
        def restore(n0: Long, v: Array[Double]): Unit = {
          n = n0; prevClose = v(0); avgGain = v(1); avgLoss = v(2)
        }
      }
      case other => throw new IllegalArgumentException(s"unknown indicator: $other")
    }

  /** The fused grid's cells for one (pair, timeframe) key: one
    * [[FusedMachine]] per (indicator, period) spec, in spec order. Every
    * fused-grid fold — one-shot, snapshot, resumed, live and streaming —
    * builds, restores, steps and snapshots its machines here, so the cell
    * state contract is written once. */
  private[graft] final class GridCells(specs: Seq[(String, Int)]) {
    private val cells = specs.toArray
    private val machines = cells.map { case (ind, p) => fusedMachine(ind, p) }

    /** Restore every cell of (`indicator`, `period`) from its snapshot; a
      * snapshot of a cell not in the grid is ignored, and a cell with no
      * snapshot starts fresh. */
    def restore(indicator: String, period: Int, n: Long, vec: Seq[Double]): Unit =
      for (i <- cells.indices if cells(i) == ((indicator, period)))
        machines(i).restore(n, vec.toArray)

    /** Step every cell over one close; one `row(indicator, period, value)`
      * per cell, in spec order. */
    def step[T](close: Double)(row: (String, Int, Option[Double]) => T): Seq[T] =
      Vector.tabulate(cells.length) { i =>
        row(cells(i)._1, cells(i)._2, machines(i).step(close))
      }

    /** Step every cell over one close, keeping no value. */
    def advance(close: Double): Unit = machines.foreach(_.step(close))

    /** One `row(indicator, period, n, vec)` per cell: its complete state. */
    def snapshot[T](row: (String, Int, Long, Seq[Double]) => T): Iterator[T] =
      cells.indices.iterator.map { i =>
        val (n, vec) = machines(i).snapshot
        row(cells(i)._1, cells(i)._2, n, vec.toSeq)
      }
  }

  private[graft] object GridCells {
    /** The (indicator, period) cells of a grid, indicator-major. */
    def specs(indicators: Seq[String], periods: Seq[Int]): Seq[(String, Int)] = {
      require(indicators.nonEmpty && periods.nonEmpty, "empty indicator grid")
      for { ind <- indicators; p <- periods } yield (ind, p)
    }
  }

  /** One cell's step function (the single-series properties check it). */
  private[graft] def fusedStep(indicator: String, period: Int): Double => Option[Double] = {
    val cells = new GridCells(Seq(indicator -> period))
    c => cells.step(c)((_, _, v) => v).head
  }

  /** [[indicatorFacts]] with ONE shuffle instead of one per branch: every
    * (indicator, period) state machine steps inside a single sorted-group
    * fold, so the candle set is exchanged and sorted ONCE however wide the
    * grid is — at the reference's full 45-combo grid
    * (transform.py:79-121) the branch form moves the candles 45×, this
    * moves them once. Values are BIT-IDENTICAL to the branch form
    * (FlowsSpec pins it): SMA replays WindowExec's fresh frame fold,
    * EMA/RSI are the same closures. Per-key heap is O(Σ periods) scalars
    * — independent of series length, same as the branch folds. */
  def indicatorFactsFused(candles: DataFrame, indicators: Seq[String], periods: Seq[Int],
                          calcVersion: String = CalcVersion): DataFrame = {
    val specs = GridCells.specs(indicators, periods)
    val spark = candles.sparkSession
    import spark.implicits._
    candles.select($"pair", $"timeframe", $"time", $"close").as[CloseRow]
      .groupByKey(r => (r.pair, r.timeframe))
      .flatMapSortedGroups($"time") { case ((pair, tf), rows) =>
        val cells = new GridCells(specs)
        rows.flatMap { r =>
          cells.step(r.close)(IndicatorValue(_, pair, tf, r.time, _, calcVersion, _))
        }
      }.toDF()
  }

  /** Per-cell fold-state snapshot of the fused grid after consuming
    * `candles` — ONE row per (pair, timeframe, indicator, period) holding
    * the complete [[FusedMachine]] state. This is the persisted-state half
    * of the incremental grid (E2 at the fused-plan shape): a production
    * run writes the snapshot alongside the facts, and the next run folds
    * ONLY the new candles via [[indicatorFactsFusedResume]] — bit-exact,
    * because restoring a machine replays the identical double ops.
    * Snapshot size is #keys × #cells rows of ≤ max(period) doubles —
    * O(cells), never O(history); the same shuffle/sort as the fact fold. */
  def indicatorGridSnapshot(candles: DataFrame, indicators: Seq[String],
                            periods: Seq[Int]): DataFrame = {
    val specs = GridCells.specs(indicators, periods)
    val spark = candles.sparkSession
    import spark.implicits._
    candles.select($"pair", $"timeframe", $"time", $"close").as[CloseRow]
      .groupByKey(r => (r.pair, r.timeframe))
      .flatMapSortedGroups($"time") { case ((pair, tf), rows) =>
        val cells = new GridCells(specs)
        rows.foreach(r => cells.advance(r.close))
        cells.snapshot(GridState(pair, tf, _, _, _, _))
      }.toDF()
  }

  /** [[indicatorFactsFused]] RESUMED from a [[indicatorGridSnapshot]]:
    * folds only the (new) `candles`, with each cell's machine restored
    * from its state row — keys absent from the snapshot start fresh (new
    * pairs appear mid-stream for free). The fact rows of
    * [[indicatorGridAdvanceResume]]: one exchange for the tail candles +
    * one for the O(cells) state rows, so an incremental run's cost tracks
    * the NEW data, never the history it resumes from. */
  def indicatorFactsFusedResume(candles: DataFrame, indicators: Seq[String],
                                periods: Seq[Int], state: DataFrame,
                                calcVersion: String = CalcVersion): DataFrame =
    indicatorGridAdvanceResume(candles, indicators, periods, state, calcVersion)
      .filter(!col("is_state"))
      .select(col("indicator"), col("pair"), col("timeframe"), col("time"),
        col("period"), col("calc_version"), col("value"))

  /** The resumed grid fold: candles folded into machines restored from
    * `state` (a [[indicatorGridSnapshot]] or a previous advance), emitting
    * the fact rows AND the advanced snapshot in ONE pass (r16
    * optimization, guide §1.2 "don't compute things twice"): the live
    * deployment needs both every batch. Tagged rows — `is_state=false`
    * fact rows while stepping, then one `is_state=true` state row per grid
    * cell — exactly the [[Backtest.tradesIncremental]] ledger shape.
    * snapshot(prefix) + fold(tail) ≡ snapshot(prefix ++ tail) bit-exactly.
    * Sorted cogroup on (pair, timeframe): keys present only in `state`
    * re-emit their rows unchanged; keys new in `candles` start fresh. The
    * per-key candle watermark advance rides along (`wm` = max(state wm,
    * last candle time), the sorted fold's last row), replacing the
    * separate `groupBy(max)` + full-outer-join + broadcast the caller ran.
    * `state` may or may not carry a `wm` column (the empty-state path
    * does not). */
  def indicatorGridAdvanceResume(candles: DataFrame, indicators: Seq[String],
                                 periods: Seq[Int], state: DataFrame,
                                 calcVersion: String = CalcVersion): DataFrame = {
    val specs = GridCells.specs(indicators, periods)
    val spark = candles.sparkSession
    import spark.implicits._
    val withWm =
      if (state.columns.contains("wm")) state
      else state.withColumn("wm", lit(null).cast("timestamp"))
    val st = withWm
      .select($"pair", $"timeframe", $"indicator", $"period", $"n", $"vec", $"wm")
      .as[GridStateWm]
      .groupByKey(r => (r.pair, r.timeframe))
    candles.select($"pair", $"timeframe", $"time", $"close").as[CloseRow]
      .groupByKey(r => (r.pair, r.timeframe))
      .cogroupSorted(st)($"time")() { case ((pair, tf), rows, states) =>
        val cells = new GridCells(specs)
        var oldWm: Option[Timestamp] = None
        states.foreach { s =>
          cells.restore(s.indicator, s.period, s.n, s.vec)
          oldWm = (oldWm ++ s.wm).reduceOption((a, b) => if (a.after(b)) a else b)
        }
        var lastT: Timestamp = null
        val facts = rows.flatMap { r =>
          lastT = r.time
          cells.step(r.close) { (ind, p, v) =>
            GridFoldRow(is_state = false, ind, pair, tf, Option(r.time), p,
              calcVersion, v, 0L, Nil, None)
          }
        }
        // `++`'s right operand is by-name: the state rows build only after
        // the fact iterator is exhausted, so `lastT` and the machine
        // states are final here
        def stateRows = {
          val wm = (oldWm ++ Option(lastT)).reduceOption((a, b) => if (a.after(b)) a else b)
          cells.snapshot(GridFoldRow(is_state = true, _, pair, tf, None, _,
            calcVersion, None, _, _, wm))
        }
        facts ++ stateRows
      }.toDF()
  }
}

/** [[GridState]] plus the per-key candle watermark the live snapshot
  * carries (None for the empty-state / legacy-snapshot paths). */
final case class GridStateWm(pair: String, timeframe: String, indicator: String,
                             period: Int, n: Long, vec: Seq[Double],
                             wm: Option[Timestamp])

/** One output row of [[Indicators.indicatorGridAdvanceResume]]: a fact row
  * (`is_state=false` — indicator/pair/timeframe/time/period/calc_version/
  * value) or a grid-cell state row (`is_state=true` — n/vec/wm). */
final case class GridFoldRow(is_state: Boolean, indicator: String, pair: String,
                             timeframe: String, time: Option[Timestamp],
                             period: Int, calc_version: String,
                             value: Option[Double], n: Long, vec: Seq[Double],
                             wm: Option[Timestamp])

/** One cell's persisted fold state for the resumable fused grid:
  * `n` = candles consumed, `vec` = the machine's state vector (SMA: the
  * ring; EMA: seedSum+prev; RSI: prevClose+avgGain+avgLoss). */
final case class GridState(pair: String, timeframe: String, indicator: String,
                           period: Int, n: Long, vec: Seq[Double])
