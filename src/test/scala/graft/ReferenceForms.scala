package graft

import graft.model.Timeframe
import graft.operators.Ohlc
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The composed shapes of the reference's transform flow, kept as the
  * specification the one-exchange operators are checked against:
  * derived candles resampled from the 1m candles
  * (src/etl/flows/transform.py:42-76) and the SMA-cross input as a
  * self-join of the fact table
  * (src/etl/flows/transform_services.py:401-505). */
object ReferenceForms {

  /** 1m candles unioned with one [[Ohlc.resample]] per derived timeframe
    * (one shuffle per timeframe). A timeframe listed twice is built twice. */
  def allTimeframes(ticks: DataFrame, tfs: Seq[Timeframe]): DataFrame = {
    val base = Ohlc.ohlcBase(ticks)
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
}
