package graft.operators

import graft.model.Timeframe
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** OHLC candle construction — the heart of the engine (SURVEY.md §7.2 step 3).
  *
  * Reference semantics (src/etl/flows/transform_services.py:56-124):
  *  - base: ticks bucketed to the minute; open = first bid by time,
  *    high = max bid, low = min bid, close = last bid by time (A1)
  *  - resample: 1m candles bucketed by epoch-floor(duration_seconds);
  *    open = first open by time, high = max high, low = min low,
  *    close = last close by time (A2)
  *
  * `min_by`/`max_by` are the exact Spark equivalents of the reference's
  * `(array_agg(x ORDER BY time))[1]` idiom, and deterministic here because
  * `time` is unique per pair after tick dedup (candle times unique per
  * pair×timeframe by construction). [[allTimeframes]] builds every
  * timeframe in ONE hash aggregate (one shuffle however many timeframes);
  * partial aggregation (map-side combine) applies, so at 100 TB the shuffle
  * carries one row per (pair, timeframe, bucket) per map task, not per tick.
  */
object Ohlc {

  /** A1: 1-minute base candles from deduped ticks (bid prices): the
    * [[allTimeframes]] aggregate with the 1m timeframe alone. */
  def ohlcBase(ticks: DataFrame): DataFrame = candles(ticks, Nil)

  /** A1 variant carrying tick volume: `vol` = tick count per candle — the
    * standard volume proxy when the feed publishes no trade sizes. Same
    * single hash-aggregate plan as [[ohlcBase]]. */
  def ohlcBaseWithVol(ticks: DataFrame): DataFrame =
    candles(ticks, Nil, count(lit(1)).as("vol"))

  /** Size-weighted average price per (pair, epoch-floor bucket):
    * `vwap = Σ(mid·size) / Σ(size)`. The numerator is an EXACT decimal sum
    * (so the result is independent of Spark's partial-aggregation order and
    * engine-portable); the only float op is one final division. One
    * map-side-combined hash aggregate — at 100 TB the shuffle carries one
    * row per (pair, bucket), not per tick. Buckets with zero total size
    * emit NULL. */
  def vwap(ticksWithSize: DataFrame, durationSeconds: Long): DataFrame = {
    val bucket = (floor(unix_timestamp(col("time")) / durationSeconds) * durationSeconds)
      .cast("bigint")
    // mid snaps to the 6-dp grid BEFORE the decimal cast (the w5 convention:
    // a rounded double is within half-ulp of its decimal, so the cast
    // recovers the same decimal on every engine — no tie-rounding drift)
    val pv = round(col("mid"), 6).cast("decimal(18,6)") * col("size")
    ticksWithSize
      .groupBy(col("pair"), bucket.as("time_s"))
      .agg(
        sum(pv).as("pv"),
        sum(col("size")).cast("bigint").as("qty"))
      .select(col("pair"), col("time_s"),
        when(col("qty") > 0, col("pv").cast("double") / col("qty")).as("vwap"),
        col("qty"))
  }

  /** A2: resample base candles into a coarser timeframe by epoch-floor
    * bucketing (reference: transform_services.py:108-110). For candles
    * already stored as 1m bars; [[allTimeframes]] builds from ticks. */
  def resample(candles: DataFrame, tf: Timeframe): DataFrame = {
    val d = tf.durationSeconds.toLong
    val bucket = timestamp_seconds(floor(unix_timestamp(col("time")) / d) * d)
    candles
      .groupBy(col("pair"), bucket.as("bucket"))
      .agg(
        min_by(col("open"), col("time")).as("open"),
        max(col("high")).as("high"),
        min(col("low")).as("low"),
        max_by(col("close"), col("time")).as("close"))
      .select(col("pair"), lit(tf.code).as("timeframe"), col("bucket").as("time"),
        col("open"), col("high"), col("low"), col("close"))
  }

  /** All configured timeframes from one tick set: base 1m plus each
    * distinct derived timeframe, as one DataFrame (the reference's per-table
    * loop, src/etl/flows/transform.py:42-76, builds each derived table from
    * the 1m candles). Each tick is expanded to one `(timeframe, bucket)` key
    * per timeframe and ONE aggregate builds every candle straight from the
    * ticks. That equals [[resample]] over 1m candles bit for bit: a derived
    * bucket is the epoch-floor of the tick's MINUTE start, so it holds
    * whole minutes, and its first bid by time is the first of its 1m opens
    * (the same for high, low and close). Ticks with a NULL time are
    * dropped, as a `window(time, "1 minute")` bucketing drops them. */
  def allTimeframes(ticks: DataFrame, tfs: Seq[Timeframe] = Timeframe.All): DataFrame =
    candles(ticks, tfs)

  /** The one candle aggregate: epoch-floor buckets in µs, one key per
    * tick and kept timeframe (no expansion when 1m is the only one), then
    * open/high/low/close by `min_by`/`max`/`min`/`max_by` plus `extra`. */
  private def candles(ticks: DataFrame, tfs: Seq[Timeframe], extra: Column*): DataFrame = {
    val kept = (Timeframe.Base +:
      tfs.filter(_.durationSeconds > Timeframe.Base.durationSeconds)).distinct
    val us = unix_micros(col("time"))
    val minute = us - pmod(us, lit(Timeframe.Base.durationSeconds * 1000000L))
    val live = ticks.filter(col("time").isNotNull)
    val (keyed, timeframe, bucket) =
      if (kept.size == 1)
        (live.select(col("pair"), col("time"), col("bid"), minute.as("minute")),
          lit(Timeframe.Base.code), col("minute"))
      else {
        val keys = array(kept.map(tf => struct(lit(tf.code).as("code"),
          lit(tf.durationSeconds * 1000000L).as("us"))): _*)
        (live.select(col("pair"), col("time"), col("bid"), minute.as("minute"),
            explode(keys).as("tf")),
          col("tf.code"), col("minute") - pmod(col("minute"), col("tf.us")))
      }
    val ohlc = Seq(
      min_by(col("bid"), col("time")).as("open"),
      max(col("bid")).as("high"),
      min(col("bid")).as("low"),
      max_by(col("bid"), col("time")).as("close")) ++ extra
    val agg = keyed.groupBy(col("pair"), timeframe.as("timeframe"), bucket.as("bucket"))
      .agg(ohlc.head, ohlc.tail: _*)
    agg.select(agg.columns.toSeq.map {
      case "bucket" => timestamp_micros(col("bucket")).as("time")
      case c => col(c)
    }: _*)
  }
}
