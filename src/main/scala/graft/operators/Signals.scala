package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SMA-cross signal detection (SURVEY.md §2.4 J1 + §2.5 W1).
  *
  * Reference: self equi-join of fact_sma (short × long period) on
  * (time, currency, timeframe, calc_version), LAG over time, cross predicate
  * (src/etl/flows/transform_services.py:401-443 golden, :463-505 dead).
  *
  *  - golden cross (BUY):  prev_short <= prev_long AND short >  long
  *  - dead cross  (SELL):  prev_short >= prev_long AND short <  long
  *
  * Scale notes: the reference's self-join becomes a window. Both window
  * passes, the one that pairs each bar's short and long rows and the lag,
  * are partitioned by (pair, timeframe, calc_version): the cross input is
  * at most ONE exchange, none when the input is already clustered by those
  * keys (the SMA windows' pair partitioning is), and no join.
  * Warm-up rows carry NULL values; NULL comparisons are filtered out, so no
  * signal can fire before both SMAs are materialized. This is an
  * *intentional deviation* from the reference: Postgres NaN compares
  * NaN<=NaN as true and sorts NaN above all values, so the reference can
  * fire a spurious signal at the first bar where both SMAs materialize
  * (prev values still NaN); NULL propagation suppresses that edge here.
  */
object Signals {

  /** Short- and long-period SMA series as one row per bar with
    * `short_value`/`long_value` plus their 1-bar lags. A bar is kept when
    * it has a row of both periods: the row set of the reference's inner
    * self-join on (pair, timeframe, time, calc_version), NULL warm-up
    * values included. Assumes one row per (bar, period), as in a fact
    * table. */
  def smaCrossInput(sma: DataFrame, shortPeriod: Int, longPeriod: Int): DataFrame = {
    require(shortPeriod < longPeriod,
      s"short period must be < long period ($shortPeriod >= $longPeriod)")
    val keys = Seq("pair", "timeframe", "time", "calc_version")
    val series = Window.partitionBy(col("pair"), col("timeframe"), col("calc_version"))
    val bars = series.orderBy(col("time"))
    // within a series sorted by (time, period) a bar's short row is
    // directly followed by its long row, when the bar has one: the only
    // row that can follow it at the same time
    val rows = series.orderBy(col("time"), col("period"))
    // the reference's equi-join never matches a NULL key
    sma.filter(col("period").isin(shortPeriod, longPeriod) &&
        keys.map(col(_).isNotNull).reduce(_ && _))
      .select(keys.map(col) ++ Seq(col("period"), col("value"),
        lead(col("time"), 1).over(rows).as("next_time"),
        lead(col("value"), 1).over(rows).as("long_value")): _*)
      .filter(col("period") === shortPeriod && col("next_time") === col("time"))
      .select(keys.map(col) ++ Seq(col("value").as("short_value"), col("long_value"),
        lag(col("value"), 1).over(bars).as("prev_short"),
        lag(col("long_value"), 1).over(bars).as("prev_long")): _*)
  }

  private def toEvents(crossed: DataFrame, eventType: String, shortPeriod: Int): DataFrame =
    crossed.select(
      col("time").as("event_datetime"),
      col("pair"),
      lit(eventType).as("event_type"),
      col("short_value").as("price"),
      lit(0).as("quantity"), // reference writes quantity=0 (transform_services.py:434)
      lit("SMA").as("trigger_indicator_name"),
      col("short_value").as("trigger_indicator_value"),
      col("timeframe").as("trigger_indicator_timeframe"),
      lit(shortPeriod).as("trigger_indicator_period"))

  /** Golden cross → BUY events. */
  def goldenCross(sma: DataFrame, shortPeriod: Int, longPeriod: Int): DataFrame =
    toEvents(
      smaCrossInput(sma, shortPeriod, longPeriod)
        .filter(col("prev_short") <= col("prev_long") &&
          col("short_value") > col("long_value")),
      "BUY", shortPeriod)

  /** Dead cross → SELL events. */
  def deadCross(sma: DataFrame, shortPeriod: Int, longPeriod: Int): DataFrame =
    toEvents(
      smaCrossInput(sma, shortPeriod, longPeriod)
        .filter(col("prev_short") >= col("prev_long") &&
          col("short_value") < col("long_value")),
      "SELL", shortPeriod)

  /** F4 strategy flow: both cross detectors over one shared intermediate
    * (reference: src/etl/flows/transform.py:123-129). Single-pass: one
    * filter with a CASE-typed event column instead of two filtered branches
    * + union — no cache needed (the old `.cache()` here leaked storage
    * across repeated invocations), and one scan instead of two. */
  def strategy(sma: DataFrame, shortPeriod: Int, longPeriod: Int): DataFrame = {
    val golden = col("prev_short") <= col("prev_long") &&
      col("short_value") > col("long_value")
    val dead = col("prev_short") >= col("prev_long") &&
      col("short_value") < col("long_value")
    smaCrossInput(sma, shortPeriod, longPeriod)
      .filter(golden || dead)
      .select(
        col("time").as("event_datetime"),
        col("pair"),
        when(golden, "BUY").otherwise("SELL").as("event_type"),
        col("short_value").as("price"),
        lit(0).as("quantity"),
        lit("SMA").as("trigger_indicator_name"),
        col("short_value").as("trigger_indicator_value"),
        col("timeframe").as("trigger_indicator_timeframe"),
        lit(shortPeriod).as("trigger_indicator_period"))
  }
}
