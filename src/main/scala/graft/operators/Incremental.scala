package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Incremental recomputation + idempotent first-write-wins sink
  * (SURVEY.md §2.1 S8, §2.3 A3, §2.5 W2, §4).
  *
  * Reference semantics:
  *  - watermark: `SELECT MAX(time) FROM fact_<ind> WHERE key...`
  *    (src/etl/flows/transform_services.py:146-156)
  *  - warm-up boundary: re-read from `period*2` rows before the watermark so
  *    the rolling window has full history (transform_services.py:158-172)
  *  - sink: `INSERT ... ON CONFLICT DO NOTHING` — a row once written is never
  *    corrected (transform_services.py:88,122,209-214; docs/requirements.md:4-5)
  *
  * The Spark forms are per-key (one watermark/boundary per (pair, timeframe)
  * in a single DataFrame) instead of the reference's per-table loop, and the
  * conflict-skip becomes a left-anti join: deterministic first-write-wins.
  * At scale the anti-join shuffles on the dedup key only; with a partitioned
  * fact table Catalyst prunes `existing` down to the touched partitions.
  */
object Incremental {

  /** A3: per-key MAX(time) watermarks. */
  def watermarks(fact: DataFrame, keys: Seq[String] = Seq("pair", "timeframe")): DataFrame =
    fact.groupBy(keys.map(col): _*).agg(max(col("time")).as("watermark"))

  /** W2: per-key warm-up boundary — the time `lookbackRows` rows before the
    * newest row at-or-before the watermark (NULL = not enough history, caller
    * recomputes the key fully). */
  def warmupBoundaries(series: DataFrame, wms: DataFrame, lookbackRows: Int,
                       keys: Seq[String] = Seq("pair", "timeframe")): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col("time").desc)
    series.join(wms, keys)
      .filter(col("time") <= col("watermark"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === lookbackRows + 1)
      .select(keys.map(col) :+ col("time").as("boundary"): _*)
  }

  /** S8: idempotent append — only rows whose dedup key is absent from
    * `existing` are added; existing rows are never modified. */
  def appendNew(existing: DataFrame, incoming: DataFrame, dedupKeys: Seq[String]): DataFrame =
    existing.unionByName(newRows(existing, incoming, dedupKeys))

  /** The rows an idempotent append would write (anti-join on the dedup key).
    * No `distinct` on the existing side: a left-anti join keeps the same
    * rows whether or not that side repeats a key, and the dedup costs a
    * shuffle stage. */
  def newRows(existing: DataFrame, incoming: DataFrame, dedupKeys: Seq[String]): DataFrame =
    incoming.join(existing.select(dedupKeys.map(col): _*), dedupKeys, "left_anti")

  /** E2: full incremental indicator update — watermark, boundary lookback,
    * recompute the tail of each series, idempotent append. Keys with no
    * watermark or insufficient history are recomputed fully. `compute` maps a
    * candle subset to indicator rows (e.g. `Indicators.sma(_, p)`).
    *
    * For SMA (pure row window) the result is exactly `compute(candles)`
    * merged first-write-wins; for EMA/RSI the recomputed tail is seeded from
    * the truncated window, matching the reference's accepted approximation
    * (transform_services.py:158-159 comment). */
  def incrementalIndicator(candles: DataFrame, existing: DataFrame, period: Int,
                           compute: DataFrame => DataFrame,
                           dedupKeys: Seq[String] =
                             Seq("pair", "timeframe", "time", "period", "calc_version"))
      : DataFrame = {
    val keys = Seq("pair", "timeframe")
    val wms = watermarks(existing, keys)
    val bounds = warmupBoundaries(candles, wms, lookbackRows = period * 2, keys)
    val input = candles
      .join(bounds, keys, "left")
      .filter(col("boundary").isNull || col("time") >= col("boundary"))
      .drop("boundary")
    appendNew(existing, compute(input), dedupKeys)
  }

  /** S8 for CUMULATIVE indicators — the pattern [[incrementalIndicator]]'s
    * truncated-window recompute CANNOT serve: a running total (OBV here)
    * depends on the entire history, so the incremental tail RESUMES from
    * the last PERSISTED row per key (its cumulative value + the close the
    * next sign comparison needs) instead of re-deriving state from a
    * warm-up window. OBV is pure integer arithmetic, so resume-and-append
    * equals the full-history computation BIT-EXACTLY — no accepted
    * approximation, and the gate oracle is the plain full-run w10 query.
    * Keys absent from `existing` are computed fully. One dim-sized carry
    * join; the suffix scan never touches persisted history. */
  def incrementalObv(candlesWithVol: DataFrame, existing: DataFrame): DataFrame = {
    val wDesc = Window.partitionBy(col("pair")).orderBy(col("time").desc)
    val carry = existing
      .withColumn("rn", row_number().over(wDesc)).filter(col("rn") === 1)
      .select(col("pair"), col("time").as("wm"),
        col("close").as("carry_close"), col("obv").as("carry_obv"))
    val ws = Window.partitionBy(col("pair")).orderBy(col("time"))
    val tail = candlesWithVol.join(carry, Seq("pair"))
      .filter(col("time") > col("wm"))
      .withColumn("prev_close",
        coalesce(lag(col("close"), 1).over(ws), col("carry_close")))
      .withColumn("signed",
        when(col("close") > col("prev_close"), col("vol"))
          .when(col("close") < col("prev_close"), -col("vol"))
          .otherwise(lit(0L)))
      .withColumn("obv", col("carry_obv") +
        sum(col("signed")).over(ws.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)))
      .select(col("pair"), col("time"), col("close"), col("vol"), col("obv"))
    val fresh = Indicators.obv(
      candlesWithVol.join(carry.select(col("pair")), Seq("pair"), "left_anti"))
    existing.unionByName(tail).unionByName(fresh)
  }
}
