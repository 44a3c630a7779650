package graft.queries

import graft.operators.{AsofJoin, Backtest, Incremental, Indicators, RangeJoin, Relay, Signals}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver-checkable queries for the incremental/sink/relay layer
  * (S5, S6, S8, A3, W2, U4, F6). */
object PipelineQueries {

  import TradingQueries.{c1mCte, candles1m, dedupCte, ticks, ticksCte}

  private val prelude = s"WITH $ticksCte, $dedupCte, $c1mCte"
  // shared with IndicatorQueries' s8j incremental-grid gate; midnight, so
  // it sits on a bar boundary of every configured timeframe
  private[queries] val Cutoff = "2024-01-15 00:00:00"
  private val Cursor = "2024-01-20 00:00:00"

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "a3_watermarks" -> ((s, d) =>
      Incremental.watermarks(candles1m(s, d))
        .select(col("pair"), col("timeframe"),
          unix_timestamp(col("watermark")).as("watermark_s"))),

    "w2_boundary" -> ((s, d) => {
      val c = candles1m(s, d)
      Incremental.warmupBoundaries(c, Incremental.watermarks(c), lookbackRows = 28)
        .select(col("pair"), col("timeframe"),
          unix_timestamp(col("boundary")).as("boundary_s"))
    }),

    "s8_idempotent_sma" -> ((s, d) => {
      // previous run wrote the prefix; incremental run recomputes everything;
      // first-write-wins merge must equal the one-shot full computation.
      val c = candles1m(s, d)
      val existing = Indicators.sma(c.filter(col("time") < lit(Cutoff)), 14)
      val merged = Incremental.appendNew(existing, Indicators.sma(c, 14),
        Seq("pair", "timeframe", "time", "period", "calc_version"))
      merged.select(col("pair"), col("timeframe"), unix_timestamp(col("time")).as("time_s"),
        col("period"), round(col("value"), 6).as("value"))
    }),

    // incremental EMA through the full S8/A3/W2 path: the previous run wrote
    // the prefix; the incremental run recomputes only from the per-key
    // warm-up boundary (period*2 rows before the watermark) with the EMA
    // seeded from that truncated window — the reference's accepted
    // approximation (transform_services.py:158-172) — and merges
    // first-write-wins. Prefix rows stay bit-identical to the full prefix
    // computation; appended rows carry the truncated-seed values.
    "s8b_idempotent_ema" -> ((s, d) => {
      val c = candles1m(s, d)
      val existing = Indicators.ema(c.filter(col("time") < lit(Cutoff)), 14).toDF()
      val merged = Incremental.incrementalIndicator(c, existing, 14,
        cc => Indicators.ema(cc, 14).toDF())
      merged.select(col("pair"), col("timeframe"), unix_timestamp(col("time")).as("time_s"),
        col("period"), round(col("value"), 6).as("value"))
    }),

    // incremental RSI — the third indicator family through the same
    // S8/A3/W2 path (transform_services.py:146-182 loops all three); Wilder
    // smoothing reseeded from the truncated warm-up window, merged
    // first-write-wins against the prefix run.
    "s8c_idempotent_rsi" -> ((s, d) => {
      val c = candles1m(s, d)
      val existing = Indicators.rsi(c.filter(col("time") < lit(Cutoff)), 14).toDF()
      val merged = Incremental.incrementalIndicator(c, existing, 14,
        cc => Indicators.rsi(cc, 14).toDF())
      merged.select(col("pair"), col("timeframe"), unix_timestamp(col("time")).as("time_s"),
        col("period"), round(col("value"), 6).as("value"))
    }),

    // incremental ATR — the fourth indicator family through the S8/A3/W2
    // path, covering the Wilder-TR recurrence (needs the prior close, so
    // the truncated recompute's first row has no TR): seed re-derived from
    // the 2·period warm-up window before the watermark, merged
    // first-write-wins against the prefix run.
    "s8d_idempotent_atr" -> ((s, d) => {
      val c = candles1m(s, d)
      val existing = Indicators.atr(c.filter(col("time") < lit(Cutoff)), 14).toDF()
      val merged = Incremental.incrementalIndicator(c, existing, 14,
        cc => Indicators.atr(cc, 14).toDF())
      merged.select(col("pair"), col("timeframe"), unix_timestamp(col("time")).as("time_s"),
        col("period"), round(col("value"), 6).as("value"))
    }),

    // incremental SuperTrend — the FIFTH family through the S8/A3/W2 path,
    // and the first whose carried state is non-numeric (two band ratchets +
    // a boolean direction): the truncated recompute reseeds ATR from the
    // 2·period warm-up window and re-initializes the ratchets at its first
    // warm bar — the same accepted approximation as EMA/RSI/ATR, replayed
    // identically by the oracle's dual recursion. Dedup key is
    // (pair, timeframe, time) — supertrend rows carry no period column.
    "s8e_idempotent_supertrend" -> ((s, d) => {
      val c = candles1m(s, d)
      def st(cc: DataFrame) =
        Indicators.supertrend(cc, period = 10, mult = 3.0)
          .filter(col("value").isNotNull)
      val existing = st(c.filter(col("time") < lit(Cutoff)))
      val merged = Incremental.incrementalIndicator(c, existing, 10, st,
        dedupKeys = Seq("pair", "timeframe", "time"))
      merged.select(col("pair"), col("timeframe"),
        unix_timestamp(col("time")).as("time_s"),
        round(col("value"), 6).as("value"), col("dir_up"))
    }),

    // incremental Bollinger — the SIXTH family through the S8/A3/W2 path
    // and the first pure-WINDOW one: with the 2·period lookback covering
    // the full 19-row frame, the truncated recompute is EXACT (no seed
    // approximation), so the merge must equal a full run bit-for-bit —
    // which is precisely what gating it against the plain u6 oracle proves.
    "s8f_idempotent_bollinger" -> ((s, d) => {
      val c = candles1m(s, d)
      def bb(cc: DataFrame) = Indicators.bollinger(cc, 20)
      val existing = bb(c.filter(col("time") < lit(Cutoff)))
      val merged = Incremental.incrementalIndicator(c, existing, 20, bb,
        dedupKeys = Seq("pair", "timeframe", "time", "period", "calc_version"))
      merged.select(col("pair"), col("timeframe"),
        unix_timestamp(col("time")).as("time_s"), col("period"),
        round(col("mid"), 6).as("mid"), round(col("upper"), 6).as("upper"),
        round(col("lower"), 6).as("lower"))
    }),

    // incremental MACD — the EIGHTH family and the first with DUAL-LAYER
    // recursion state (two price EMAs feeding a signal EMA): the W2 warm-up
    // boundary must cover BOTH layers' seeds, so the lookback passes
    // period = slow + sig through the S8 path (2·(26+9) = 70 rows) — a
    // shorter reseed would seed the signal EMA from undefined MACD values.
    // The oracle replays the identical truncation (the s8b/s8c/s8d accepted
    // approximation) with the dual-recursion MACD state machine.
    "s8h_idempotent_macd" -> ((s, d) => {
      val c = candles1m(s, d)
      def mac(cc: DataFrame) = Indicators.macd(cc).toDF()
      val existing = mac(c.filter(col("time") < lit(Cutoff)))
      val merged = Incremental.incrementalIndicator(c, existing, 26 + 9, mac,
        dedupKeys = Seq("pair", "timeframe", "time"))
      merged.select(col("pair"), col("timeframe"),
        unix_timestamp(col("time")).as("time_s"),
        round(col("macd"), 6).as("macd"), round(col("signal"), 6).as("signal"),
        round(col("hist"), 6).as("hist"))
    }),

    // incremental SMA at a DERIVED timeframe — the A2→S8 composition the
    // reference's grid implies (transform.py:79-121 loops timeframes too):
    // resample runs first, then the watermark/boundary/recompute machinery
    // lives on the 5m grid, so one warm-up row spans five base minutes.
    // SMA's backward-looking window makes merged ≡ one-shot, so the oracle
    // is the plain window form over the resampled bars (the Cutoff sits on
    // a 5m boundary, so prefix bars are final, never partial).
    "s8i_idempotent_sma_5m" -> ((s, d) => {
      val c5 = graft.operators.Ohlc.resample(candles1m(s, d),
        graft.model.Timeframe.byCode("5m"))
      val existing = Indicators.sma(c5.filter(col("time") < lit(Cutoff)), 14)
      val merged = Incremental.incrementalIndicator(c5, existing, 14,
        cc => Indicators.sma(cc, 14))
      merged.select(col("pair"), col("timeframe"),
        unix_timestamp(col("time")).as("time_s"),
        col("period"), round(col("value"), 6).as("value"))
    }),

    // incremental OBV — the SEVENTH family through the S8 path and the
    // first CUMULATIVE one: a running total cannot reseed from a warm-up
    // window, so the tail RESUMES from the last persisted (obv, close)
    // per pair; integer arithmetic makes resume-and-append ≡ full run
    // bit-exactly, gated against the plain w10 oracle
    "s8g_idempotent_obv" -> ((s, d) => {
      val c = graft.operators.Ohlc.ohlcBaseWithVol(TradingQueries.ticks(s, d))
      val existing = Indicators.obv(c.filter(col("time") < lit(Cutoff)))
      Incremental.incrementalObv(c, existing)
        .select(col("pair"), unix_timestamp(col("time")).as("time_s"),
          col("close"), col("vol"), col("obv"))
    }),

    "s6_latest_tick" -> ((s, d) =>
      Relay.latestPerPair(ticks(s, d))
        .select(col("pair"), unix_timestamp(col("time")).as("time_s"),
          col("bid"), col("ask"))),

    "s5_cursor_scan" -> ((s, d) =>
      Relay.afterCursor(ticks(s, d), java.sql.Timestamp.valueOf(Cursor))
        .select(col("pair"), unix_timestamp(col("time")).as("time_s"),
          col("bid"), col("ask"))),

    // all deduped ticks, oracle-exact formatting — deterministic (the old
    // unordered `.limit(100)` returned an arbitrary subset per plan)
    "u4_messages" -> ((s, d) =>
      Relay.toWireMessages(ticks(s, d))),

    // S1 wire round-trip (reference contract docs/ws_ticker_spec.md:16-89):
    // encode every deduped tick to the ws JSON message, parse it BACK with
    // from_json, and surface the parsed fields — proving encode∘decode is
    // the identity against an oracle that computes the fields directly
    // (the relay edge's gate no longer rides only the p5 path).
    "u4b_wire_roundtrip" -> ((s, d) => {
      val parsed = from_json(col("message"), org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("type", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("symbol", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("bid", org.apache.spark.sql.types.DoubleType),
        org.apache.spark.sql.types.StructField("ask", org.apache.spark.sql.types.DoubleType),
        org.apache.spark.sql.types.StructField("mid", org.apache.spark.sql.types.DoubleType),
        org.apache.spark.sql.types.StructField("timestamp", org.apache.spark.sql.types.StringType))))
      Relay.toWireMessages(ticks(s, d))
        .select(col("pair"), parsed.as("m"))
        .select(col("pair"), col("m.type").as("msg_type"), col("m.symbol").as("symbol"),
          col("m.bid").as("bid"), col("m.ask").as("ask"), col("m.mid").as("mid"),
          col("m.timestamp").as("ts_iso"))
    }),

    // S1 ingest parser under the hash gate: ticks → wire JSON → parsed
    // back through the PRODUCTION wire-ingest operator (the same
    // fromWireJson a socket/Kafka stream feeds, SocketIngestSpec) — pair
    // symbol round-trips through the `_`/`/` normalization, prices through
    // %.6f formatting, time through ISO-8601 ms rendering and re-parse.
    // r16 optimization (guide §2.5 input skew): the
    // format→parse chain is CPU-bound per row, and AQE coalesces the
    // post-dedup exchange to ONE partition at gate volume, serializing
    // ~6 s of codegen'd JSON work on a single task (measured, Profile16).
    // An explicit stable-keyed fan-out before the chain spreads it across
    // the session's cores; the extra exchange moves 4 narrow columns.
    "u4c_wire_ingest" -> ((s, d) =>
      graft.operators.Ticks.fromWireJson(
        Relay.toWireMessages(
          ticks(s, d).repartition(s.sparkContext.defaultParallelism,
            col("pair"), col("time")))
          .select(col("message").as("value")))
        .select(col("pair"), unix_millis(col("time")).as("time_ms"),
          col("bid"), col("ask"))),

    // as-of join: every tick matched to the latest candle at-or-before it
    // (oracle = DuckDB's native ASOF JOIN)
    "j4_asof_tick_candle" -> ((s, d) => {
      val t = ticks(s, d).select(col("pair"), col("time"), col("bid"))
      val c = candles1m(s, d).select(col("pair"), col("time"), col("close"))
      AsofJoin.asofJoin(t, c, Seq("pair"), "time", Seq("close"))
        .select(col("pair"), unix_timestamp(col("time")).as("time_s"), col("bid"),
          unix_timestamp(col("asof_time")).as("asof_time_s"),
          col("asof_close"))
    }),

    // J4 with a freshness tolerance: a tick more than 30 seconds past its
    // latest candle open drops (stale-quote semantics, pandas merge_asof
    // tolerance) — against minute candles this cuts the back half of every
    // minute, so the filter provably bites; gap compared at whole seconds
    "j4d_asof_tolerance" -> ((s, d) => {
      val t = ticks(s, d).select(col("pair"), col("time"), col("bid"))
      val c = candles1m(s, d).select(col("pair"), col("time"), col("close"))
      AsofJoin.asofJoinTolerance(t, c, Seq("pair"), "time", Seq("close"),
          toleranceSeconds = 30L)
        .select(col("pair"), unix_timestamp(col("time")).as("time_s"), col("bid"),
          unix_timestamp(col("asof_time")).as("asof_time_s"),
          col("asof_close"))
    }),

    // J4 mirrored: each tick paired with the NEXT candle at-or-after it —
    // the settlement/next-bar lookup; same union-window core run forward
    "j4c_asof_forward" -> ((s, d) => {
      val t = ticks(s, d).select(col("pair"), col("time"), col("bid"))
      val c = candles1m(s, d).select(col("pair"), col("time"), col("close"))
      AsofJoin.asofJoinForward(t, c, Seq("pair"), "time", Seq("close"))
        .select(col("pair"), unix_timestamp(col("time")).as("time_s"), col("bid"),
          unix_timestamp(col("asof_time")).as("asof_time_s"),
          col("asof_close"))
    }),

    // the same as-of join through the (keys, time-bucket) scale path: daily
    // buckets → parallelism pairs × days instead of pairs; must reproduce
    // the global-window result exactly (same DuckDB ASOF oracle)
    "j4b_asof_bucketed" -> ((s, d) => {
      val t = ticks(s, d).select(col("pair"), col("time"), col("bid"))
      val c = candles1m(s, d).select(col("pair"), col("time"), col("close"))
      AsofJoin.asofJoinBucketed(t, c, Seq("pair"), "time", Seq("close"),
          bucketSeconds = 86400L)
        .select(col("pair"), unix_timestamp(col("time")).as("time_s"), col("bid"),
          unix_timestamp(col("asof_time")).as("asof_time_s"),
          col("asof_close"))
    }),

    // range join: candles in the 10 minutes from each signal
    // (oracle = plain inequality join in DuckDB)
    "j5_range_signal_candle" -> ((s, d) => {
      val c = candles1m(s, d)
      val sig = Signals.strategy(
          Indicators.indicatorFacts(c, Seq("SMA"), Seq(14, 28)), 14, 28)
        .select(col("pair"), col("event_datetime").as("time"), col("event_type"))
      RangeJoin.rangeJoin(sig, c.select(col("pair"), col("time"), col("close")),
          Seq("pair"), "time", 0, 600)
        .select(col("pair"), unix_timestamp(col("l_time")).as("sig_time_s"),
          col("l_event_type").as("event_type"),
          unix_timestamp(col("r_time")).as("candle_time_s"), col("r_close").as("close"))
    }),

    "f6_backtest" -> ((s, d) => {
      val sma = Indicators.indicatorFacts(candles1m(s, d), Seq("SMA"), Seq(14, 28))
      Backtest.run(Signals.strategy(sma, 14, 28)).toDF()
        .select(col("pair"), col("trades"), round(col("total_pnl"), 6).as("total_pnl"),
          col("open_position"))
    }),

    // the per-trade ledger behind f6's totals: one row per round trip,
    // NULL exits for the position still open at end-of-data
    "f6b_trades" -> ((s, d) => {
      val sma = Indicators.indicatorFacts(candles1m(s, d), Seq("SMA"), Seq(14, 28))
      Backtest.trades(Signals.strategy(sma, 14, 28)).toDF()
        .select(col("pair"), col("trade_no"),
          unix_timestamp(col("entry_time")).as("entry_s"),
          round(col("entry_price"), 6).as("entry_price"),
          unix_timestamp(col("exit_time")).as("exit_s"),
          round(col("exit_price"), 6).as("exit_price"),
          round(col("pnl"), 6).as("pnl"))
    }),

    // F6 report layer: per-pair strategy summary off the trade ledger —
    // per-trade PnL rounded to the 6-dp grid FIRST so the decimal total is
    // exact and order-insensitive; win counts/extremes skip the open
    // (NULL-pnl) final trade identically on both engines
    "f6c_backtest_summary" -> ((s, d) => {
      val sma = Indicators.indicatorFacts(candles1m(s, d), Seq("SMA"), Seq(14, 28))
      Backtest.trades(Signals.strategy(sma, 14, 28)).toDF()
        .withColumn("pnl6", round(col("pnl"), 6))
        .groupBy(col("pair"))
        .agg(count(lit(1)).as("n_trades"),
          sum(when(col("pnl6") > 0, 1L).otherwise(0L)).as("n_wins"),
          round(sum(col("pnl6").cast("decimal(18,6)")).cast("double"), 6).as("total_pnl"),
          round(max(col("pnl6")), 6).as("best"),
          round(min(col("pnl6")), 6).as("worst"))
    }),

    // F6 risk layer: per-pair mean/volatility/downside/Sharpe/Sortino off
    // the closed-trade PnL series — exact decimal moment sums over the
    // 6-dp PnL grid, one identical float chain at the end
    "f6e_risk_metrics" -> ((s, d) => {
      val sma = Indicators.indicatorFacts(candles1m(s, d), Seq("SMA"), Seq(14, 28))
      Backtest.riskMetrics(Backtest.trades(Signals.strategy(sma, 14, 28)))
    }),

    // F6 depth: the sized ledger at a SECOND parameter set — SMA(10,40)
    // crosses, constant-notional sizing (1M per position) and 2bp
    // per-side fees; gross/fee/net are plain double algebra in a fixed
    // order, spelled identically in the oracle's lead()-paired form
    "f6d_trades_sized" -> ((s, d) => {
      val sma = Indicators.indicatorFacts(candles1m(s, d), Seq("SMA"), Seq(10, 40))
      Backtest.tradesSized(Signals.strategy(sma, 10, 40),
          notional = 1000000.0, feeRate = 0.0002).toDF()
        .select(col("pair"), col("trade_no"),
          unix_timestamp(col("entry_time")).as("entry_s"),
          round(col("entry_price"), 6).as("entry_price"),
          round(col("qty"), 6).as("qty"),
          unix_timestamp(col("exit_time")).as("exit_s"),
          round(col("exit_price"), 6).as("exit_price"),
          round(col("gross"), 6).as("gross"),
          round(col("fee"), 6).as("fee"),
          round(col("net"), 6).as("net"))
    }),

    // F6 risk layer: stop-loss/take-profit exits driven by the candle
    // path — the merged candle∪signal fold; recursive-CTE oracle stepping
    // the identical state machine (alternation dies with stops, so f6b's
    // lead()-pairing can't oracle this one)
    "f6f_trades_stopped" -> ((s, d) => {
      val c = candles1m(s, d)
      val sma = Indicators.indicatorFacts(c, Seq("SMA"), Seq(14, 28))
      Backtest.tradesStopped(Signals.strategy(sma, 14, 28), c,
          slPct = 0.005, tpPct = 0.01).toDF()
        .select(col("pair"), col("trade_no"),
          unix_timestamp(col("entry_time")).as("entry_s"),
          round(col("entry_price"), 6).as("entry_price"),
          unix_timestamp(col("exit_time")).as("exit_s"),
          round(col("exit_price"), 6).as("exit_price"),
          col("reason"),
          round(col("pnl"), 6).as("pnl"))
    }))

  val oracleSql: Map[String, String] = Map(
    "a3_watermarks" ->
      s"""$prelude
         |SELECT pair, '1m' AS timeframe, epoch(max(time))::BIGINT AS watermark_s
         |FROM c1m GROUP BY 1, 2""".stripMargin,

    "w2_boundary" ->
      s"""$prelude,
         |wm AS (SELECT pair, max(time) AS watermark FROM c1m GROUP BY 1),
         |r AS (
         |  SELECT c.pair, c.time,
         |         row_number() OVER (PARTITION BY c.pair ORDER BY c.time DESC) AS rn
         |  FROM c1m c JOIN wm USING (pair) WHERE c.time <= wm.watermark)
         |SELECT pair, '1m' AS timeframe, epoch(time)::BIGINT AS boundary_s
         |FROM r WHERE rn = 29""".stripMargin,

    // first-write-wins merge of a prefix run + full recompute == one-shot run
    "s8_idempotent_sma" ->
      s"""$prelude
         |SELECT pair, '1m' AS timeframe, epoch(time)::BIGINT AS time_s, 14 AS period,
         |       CASE WHEN row_number() OVER (PARTITION BY pair ORDER BY time) >= 14
         |            THEN round((avg(close) OVER (PARTITION BY pair ORDER BY time
         |                 ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))::VARCHAR::DECIMAL(38,23), 6)::DOUBLE
         |       END AS value
         |FROM c1m""".stripMargin,

    // A2→S8 composition: SMA's backward window makes the first-write-wins
    // merge identical to the one-shot run over the RESAMPLED series (close
    // of a 5m bar = last 1m close in the bucket, the A2 semantics)
    "s8i_idempotent_sma_5m" ->
      s"""$prelude,
         |c5m AS (SELECT pair, (epoch(time)::BIGINT // 300) * 300 AS ts,
         |               max_by(close, time) AS close
         |        FROM c1m GROUP BY 1, 2)
         |SELECT pair, '5m' AS timeframe, ts AS time_s, 14 AS period,
         |       CASE WHEN row_number() OVER (PARTITION BY pair ORDER BY ts) >= 14
         |            THEN round((avg(close) OVER (PARTITION BY pair ORDER BY ts
         |                 ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))::VARCHAR::DECIMAL(38,23), 6)::DOUBLE
         |       END AS value
         |FROM c5m""".stripMargin,

    // Two recursive EMA recurrences: the full prefix run (rows < cutoff,
    // identical to u2's oracle over the restricted series) plus the
    // truncated recompute seeded 2*period rows before the per-pair
    // watermark; appended rows are the recompute's post-watermark tail.
    "s8b_idempotent_ema" -> {
      val p = 14
      s"""WITH RECURSIVE ${TradingQueries.ticksCte}, ${TradingQueries.dedupCte}, ${TradingQueries.c1mCte},
         |cpre AS MATERIALIZED (SELECT pair, time, close,
         |                row_number() OVER (PARTITION BY pair ORDER BY time) AS rn
         |         FROM c1m WHERE time < TIMESTAMP '$Cutoff'),
         |rpre AS (
         |  SELECT pair, rn, time, close AS seed_sum, CAST(NULL AS DOUBLE) AS prev
         |  FROM cpre WHERE rn = 1
         |  UNION ALL
         |  SELECT c.pair, c.rn, c.time,
         |         CASE WHEN c.rn < $p THEN r.seed_sum + c.close
         |              ELSE CAST(0.0 AS DOUBLE) END,
         |         CASE WHEN c.rn < $p THEN NULL
         |              WHEN c.rn = $p THEN (r.seed_sum + c.close) / $p
         |              ELSE (c.close - r.prev) * (2.0 / ${p + 1}) + r.prev END
         |  FROM rpre r JOIN cpre c ON c.pair = r.pair AND c.rn = r.rn + 1),
         |wm AS (SELECT pair, max(time) AS watermark FROM cpre GROUP BY pair),
         |b AS (SELECT pair, time AS boundary FROM (
         |        SELECT c.pair, c.time,
         |               row_number() OVER (PARTITION BY c.pair ORDER BY c.time DESC) AS drn
         |        FROM c1m c JOIN wm USING (pair) WHERE c.time <= wm.watermark)
         |      WHERE drn = ${2 * p + 1}),
         |ct AS MATERIALIZED (SELECT c.pair, c.time, c.close,
         |              row_number() OVER (PARTITION BY c.pair ORDER BY c.time) AS rn
         |       FROM c1m c LEFT JOIN b USING (pair)
         |       WHERE b.boundary IS NULL OR c.time >= b.boundary),
         |rt AS (
         |  SELECT pair, rn, time, close AS seed_sum, CAST(NULL AS DOUBLE) AS prev
         |  FROM ct WHERE rn = 1
         |  UNION ALL
         |  SELECT c.pair, c.rn, c.time,
         |         CASE WHEN c.rn < $p THEN r.seed_sum + c.close
         |              ELSE CAST(0.0 AS DOUBLE) END,
         |         CASE WHEN c.rn < $p THEN NULL
         |              WHEN c.rn = $p THEN (r.seed_sum + c.close) / $p
         |              ELSE (c.close - r.prev) * (2.0 / ${p + 1}) + r.prev END
         |  FROM rt r JOIN ct c ON c.pair = r.pair AND c.rn = r.rn + 1)
         |SELECT pair, '1m' AS timeframe, epoch(time)::BIGINT AS time_s,
         |       $p AS period, round((prev)::VARCHAR::DECIMAL(38,23), 6)::DOUBLE AS value
         |FROM rpre
         |UNION ALL
         |SELECT r.pair, '1m', epoch(r.time)::BIGINT, $p, round((r.prev)::VARCHAR::DECIMAL(38,23), 6)::DOUBLE
         |FROM rt r LEFT JOIN wm USING (pair)
         |WHERE wm.watermark IS NULL OR r.time > wm.watermark""".stripMargin
    },

    // Same dual-recurrence shape as s8b, with Wilder's (avgGain, avgLoss)
    // pair as the carried state: sums through rn<=period, first average at
    // rn=period+1, Wilder smoothing after; RSI derived from the stored state
    // in the outer SELECT (recomputing 100*g/(g+l) from carried doubles is
    // bit-identical to the engine's fold, which derives it the same way).
    "s8c_idempotent_rsi" -> {
      val p = 14
      def wilder(r: String, c: String) =
        s"""CASE WHEN $c.rn <= $p THEN $r.g + greatest($c.close - $r.close, CAST(0.0 AS DOUBLE))
           |     WHEN $c.rn = ${p + 1} THEN ($r.g + greatest($c.close - $r.close, CAST(0.0 AS DOUBLE))) / $p
           |     ELSE ($r.g * ${p - 1} + greatest($c.close - $r.close, CAST(0.0 AS DOUBLE))) / $p END,
           |CASE WHEN $c.rn <= $p THEN $r.l + greatest($r.close - $c.close, CAST(0.0 AS DOUBLE))
           |     WHEN $c.rn = ${p + 1} THEN ($r.l + greatest($r.close - $c.close, CAST(0.0 AS DOUBLE))) / $p
           |     ELSE ($r.l * ${p - 1} + greatest($r.close - $c.close, CAST(0.0 AS DOUBLE))) / $p END""".stripMargin
      def rsiVal(a: String) =
        s"""round((CASE WHEN $a.rn <= $p THEN NULL
           |           WHEN $a.g + $a.l = CAST(0.0 AS DOUBLE) THEN CAST(0.0 AS DOUBLE)
           |           ELSE 100.0 * $a.g / ($a.g + $a.l) END)::VARCHAR::DECIMAL(38,23), 6)::DOUBLE""".stripMargin
      s"""WITH RECURSIVE ${TradingQueries.ticksCte}, ${TradingQueries.dedupCte}, ${TradingQueries.c1mCte},
         |cpre AS MATERIALIZED (SELECT pair, time, close,
         |                row_number() OVER (PARTITION BY pair ORDER BY time) AS rn
         |         FROM c1m WHERE time < TIMESTAMP '$Cutoff'),
         |rpre AS (
         |  SELECT pair, rn, time, close,
         |         CAST(0.0 AS DOUBLE) AS g, CAST(0.0 AS DOUBLE) AS l
         |  FROM cpre WHERE rn = 1
         |  UNION ALL
         |  SELECT c.pair, c.rn, c.time, c.close,
         |         ${wilder("r", "c")}
         |  FROM rpre r JOIN cpre c ON c.pair = r.pair AND c.rn = r.rn + 1),
         |wm AS (SELECT pair, max(time) AS watermark FROM cpre GROUP BY pair),
         |b AS (SELECT pair, time AS boundary FROM (
         |        SELECT c.pair, c.time,
         |               row_number() OVER (PARTITION BY c.pair ORDER BY c.time DESC) AS drn
         |        FROM c1m c JOIN wm USING (pair) WHERE c.time <= wm.watermark)
         |      WHERE drn = ${2 * p + 1}),
         |ct AS MATERIALIZED (SELECT c.pair, c.time, c.close,
         |              row_number() OVER (PARTITION BY c.pair ORDER BY c.time) AS rn
         |       FROM c1m c LEFT JOIN b USING (pair)
         |       WHERE b.boundary IS NULL OR c.time >= b.boundary),
         |rt AS (
         |  SELECT pair, rn, time, close,
         |         CAST(0.0 AS DOUBLE) AS g, CAST(0.0 AS DOUBLE) AS l
         |  FROM ct WHERE rn = 1
         |  UNION ALL
         |  SELECT c.pair, c.rn, c.time, c.close,
         |         ${wilder("r", "c")}
         |  FROM rt r JOIN ct c ON c.pair = r.pair AND c.rn = r.rn + 1)
         |SELECT p.pair, '1m' AS timeframe, epoch(p.time)::BIGINT AS time_s,
         |       $p AS period, ${rsiVal("p")} AS value
         |FROM rpre p
         |UNION ALL
         |SELECT r.pair, '1m', epoch(r.time)::BIGINT, $p, ${rsiVal("r")}
         |FROM rt r LEFT JOIN wm USING (pair)
         |WHERE wm.watermark IS NULL OR r.time > wm.watermark""".stripMargin
    },

    // A window indicator's incremental recompute is EXACT (the 2·period
    // lookback covers the whole frame), so the oracle is simply the full
    // u6 bollinger — the merge equaling it IS the idempotence proof.
    "s8f_idempotent_bollinger" ->
      IndicatorQueries.bollingerSql(20, "CAST(2.0 AS DOUBLE)"),

    // The u5 MACD dual-recursion run TWICE — full prefix, then the
    // truncated tail window with the s8d watermark/boundary CTEs between
    // them; the 2·(slow+sig)-row lookback covers both EMA layers' seeds.
    "s8h_idempotent_macd" -> {
      val (fast, slow, sig) = (12, 26, 9)
      val lb = 2 * (slow + sig)
      def macdRec(rec: String, src: String) =
        s"""$rec AS (
           |  SELECT pair, rn, time,
           |         close AS sum_f, CAST(NULL AS DOUBLE) AS ema_f,
           |         close AS sum_s, CAST(NULL AS DOUBLE) AS ema_s,
           |         0 AS n_macd, CAST(0.0 AS DOUBLE) AS sum_g,
           |         CAST(NULL AS DOUBLE) AS sig, CAST(NULL AS DOUBLE) AS macd
           |  FROM $src WHERE rn = 1
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
           |      FROM $rec r JOIN $src c ON c.pair = r.pair AND c.rn = r.rn + 1) t1) t2)""".stripMargin
      def emit(a: String) =
        s"""round(($a.macd)::VARCHAR::DECIMAL(38,23), 6)::DOUBLE AS macd,
           |       round(($a.sig)::VARCHAR::DECIMAL(38,23), 6)::DOUBLE AS signal,
           |       round(($a.macd - $a.sig)::VARCHAR::DECIMAL(38,23), 6)::DOUBLE AS hist""".stripMargin
      s"""WITH RECURSIVE ${TradingQueries.ticksCte}, ${TradingQueries.dedupCte}, ${TradingQueries.c1mCte},
         |cpre AS MATERIALIZED (SELECT pair, time, close,
         |                row_number() OVER (PARTITION BY pair ORDER BY time) AS rn
         |         FROM c1m WHERE time < TIMESTAMP '$Cutoff'),
         |${macdRec("rpre", "cpre")},
         |wm AS (SELECT pair, max(time) AS watermark FROM cpre GROUP BY pair),
         |b AS (SELECT pair, time AS boundary FROM (
         |        SELECT c.pair, c.time,
         |               row_number() OVER (PARTITION BY c.pair ORDER BY c.time DESC) AS drn
         |        FROM c1m c JOIN wm USING (pair) WHERE c.time <= wm.watermark)
         |      WHERE drn = ${lb + 1}),
         |ct AS MATERIALIZED (SELECT c.pair, c.time, c.close,
         |              row_number() OVER (PARTITION BY c.pair ORDER BY c.time) AS rn
         |       FROM c1m c LEFT JOIN b USING (pair)
         |       WHERE b.boundary IS NULL OR c.time >= b.boundary),
         |${macdRec("rt", "ct")}
         |SELECT p.pair, '1m' AS timeframe, epoch(p.time)::BIGINT AS time_s,
         |       ${emit("p")}
         |FROM rpre p
         |UNION ALL
         |SELECT r.pair, '1m', epoch(r.time)::BIGINT,
         |       ${emit("r")}
         |FROM rt r LEFT JOIN wm USING (pair)
         |WHERE wm.watermark IS NULL OR r.time > wm.watermark""".stripMargin
    },

    // Same dual-recurrence shape as s8b/s8c with Wilder's ATR as the
    // carried state: TR needs the PREVIOUS close (carried through the
    // recursion as r.close), sums through rn<=period, simple-mean seed at
    // rn=period+1, Wilder smoothing after — each step replays the engine
    // fold's double ops in the identical order.
    "s8d_idempotent_atr" -> {
      val p = 14
      def tr(r: String, c: String) =
        s"greatest($c.high - $c.low, abs($c.high - $r.close), abs($c.low - $r.close))"
      def atrState(r: String, c: String) =
        s"""CASE WHEN $c.rn <= $p THEN $r.trs + ${tr(r, c)}
           |     ELSE CAST(0.0 AS DOUBLE) END,
           |CASE WHEN $c.rn <= $p THEN NULL
           |     WHEN $c.rn = ${p + 1} THEN ($r.trs + ${tr(r, c)}) / $p
           |     ELSE ($r.a * ${p - 1} + ${tr(r, c)}) / $p END""".stripMargin
      s"""WITH RECURSIVE ${TradingQueries.ticksCte}, ${TradingQueries.dedupCte}, ${TradingQueries.c1mCte},
         |cpre AS MATERIALIZED (SELECT pair, time, high, low, close,
         |                row_number() OVER (PARTITION BY pair ORDER BY time) AS rn
         |         FROM c1m WHERE time < TIMESTAMP '$Cutoff'),
         |rpre AS (
         |  SELECT pair, rn, time, high, low, close,
         |         CAST(0.0 AS DOUBLE) AS trs, CAST(NULL AS DOUBLE) AS a
         |  FROM cpre WHERE rn = 1
         |  UNION ALL
         |  SELECT c.pair, c.rn, c.time, c.high, c.low, c.close,
         |         ${atrState("r", "c")}
         |  FROM rpre r JOIN cpre c ON c.pair = r.pair AND c.rn = r.rn + 1),
         |wm AS (SELECT pair, max(time) AS watermark FROM cpre GROUP BY pair),
         |b AS (SELECT pair, time AS boundary FROM (
         |        SELECT c.pair, c.time,
         |               row_number() OVER (PARTITION BY c.pair ORDER BY c.time DESC) AS drn
         |        FROM c1m c JOIN wm USING (pair) WHERE c.time <= wm.watermark)
         |      WHERE drn = ${2 * p + 1}),
         |ct AS MATERIALIZED (SELECT c.pair, c.time, c.high, c.low, c.close,
         |              row_number() OVER (PARTITION BY c.pair ORDER BY c.time) AS rn
         |       FROM c1m c LEFT JOIN b USING (pair)
         |       WHERE b.boundary IS NULL OR c.time >= b.boundary),
         |rt AS (
         |  SELECT pair, rn, time, high, low, close,
         |         CAST(0.0 AS DOUBLE) AS trs, CAST(NULL AS DOUBLE) AS a
         |  FROM ct WHERE rn = 1
         |  UNION ALL
         |  SELECT c.pair, c.rn, c.time, c.high, c.low, c.close,
         |         ${atrState("r", "c")}
         |  FROM rt r JOIN ct c ON c.pair = r.pair AND c.rn = r.rn + 1)
         |SELECT pair, '1m' AS timeframe, epoch(time)::BIGINT AS time_s,
         |       $p AS period, round((a)::VARCHAR::DECIMAL(38,23), 6)::DOUBLE AS value
         |FROM rpre
         |UNION ALL
         |SELECT r.pair, '1m', epoch(r.time)::BIGINT, $p, round((r.a)::VARCHAR::DECIMAL(38,23), 6)::DOUBLE
         |FROM rt r LEFT JOIN wm USING (pair)
         |WHERE wm.watermark IS NULL OR r.time > wm.watermark""".stripMargin
    },

    // The u18 SuperTrend recursion run TWICE — once over the pre-cutoff
    // prefix, once over the truncated tail window — with the s8d
    // watermark/boundary CTEs between them; band ratchets and direction
    // re-initialize at the tail's first warm bar exactly as the engine's
    // truncated fold does (the accepted warm-up approximation).
    "s8e_idempotent_supertrend" -> {
      val p = 10
      val mult = "3.0"
      def stRec(src: String, rec: String) =
        s"""$rec AS (
           |  SELECT pair, rn, time, close AS prev_close,
           |         CAST(0.0 AS DOUBLE) AS tr_sum, CAST(NULL AS DOUBLE) AS atr,
           |         CAST(NULL AS DOUBLE) AS fub, CAST(NULL AS DOUBLE) AS flb,
           |         CAST(NULL AS BOOLEAN) AS dir_up
           |  FROM $src WHERE rn = 1
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
           |      FROM $rec r JOIN $src c ON c.pair = r.pair AND c.rn = r.rn + 1) t1) t2)""".stripMargin
      s"""WITH RECURSIVE ${TradingQueries.ticksCte}, ${TradingQueries.dedupCte}, ${TradingQueries.c1mCte},
         |cpre AS MATERIALIZED (SELECT pair, time, high, low, close,
         |                row_number() OVER (PARTITION BY pair ORDER BY time) AS rn
         |         FROM c1m WHERE time < TIMESTAMP '$Cutoff'),
         |${stRec("cpre", "rpre")},
         |wm AS (SELECT pair, max(time) AS watermark FROM cpre GROUP BY pair),
         |b AS (SELECT pair, time AS boundary FROM (
         |        SELECT c.pair, c.time,
         |               row_number() OVER (PARTITION BY c.pair ORDER BY c.time DESC) AS drn
         |        FROM c1m c JOIN wm USING (pair) WHERE c.time <= wm.watermark)
         |      WHERE drn = ${2 * p + 1}),
         |ct AS MATERIALIZED (SELECT c.pair, c.time, c.high, c.low, c.close,
         |              row_number() OVER (PARTITION BY c.pair ORDER BY c.time) AS rn
         |       FROM c1m c LEFT JOIN b USING (pair)
         |       WHERE b.boundary IS NULL OR c.time >= b.boundary),
         |${stRec("ct", "rt")}
         |SELECT pair, '1m' AS timeframe, epoch(time)::BIGINT AS time_s,
         |       round((CASE WHEN dir_up THEN flb ELSE fub END)::VARCHAR::DECIMAL(38,23), 6)::DOUBLE AS value,
         |       dir_up
         |FROM rpre WHERE rn > $p
         |UNION ALL
         |SELECT r.pair, '1m', epoch(r.time)::BIGINT,
         |       round((CASE WHEN r.dir_up THEN r.flb ELSE r.fub END)::VARCHAR::DECIMAL(38,23), 6)::DOUBLE, r.dir_up
         |FROM rt r LEFT JOIN wm USING (pair)
         |WHERE (wm.watermark IS NULL OR r.time > wm.watermark) AND r.rn > $p""".stripMargin
    },

    "s6_latest_tick" ->
      s"""$prelude
         |SELECT pair, epoch(max(time))::BIGINT AS time_s,
         |       max_by(bid, time) AS bid, max_by(ask, time) AS ask
         |FROM dedup GROUP BY pair""".stripMargin,

    "s5_cursor_scan" ->
      s"""$prelude
         |SELECT pair, epoch(time)::BIGINT AS time_s, bid, ask
         |FROM dedup WHERE time > TIMESTAMP '$Cursor'""".stripMargin,

    "j4_asof_tick_candle" ->
      s"""$prelude
         |SELECT t.pair, epoch(t.time)::BIGINT AS time_s, t.bid,
         |       epoch(c.time)::BIGINT AS asof_time_s, c.close AS asof_close
         |FROM dedup t ASOF JOIN c1m c ON t.pair = c.pair AND t.time >= c.time""".stripMargin,

    "j4b_asof_bucketed" ->
      s"""$prelude
         |SELECT t.pair, epoch(t.time)::BIGINT AS time_s, t.bid,
         |       epoch(c.time)::BIGINT AS asof_time_s, c.close AS asof_close
         |FROM dedup t ASOF JOIN c1m c ON t.pair = c.pair AND t.time >= c.time""".stripMargin,

    // the plain full-history OBV (w10's oracle): incremental ≡ full,
    // bit-for-bit — integer arithmetic has no accepted approximation
    "s8g_idempotent_obv" ->
      s"""WITH $ticksCte, $dedupCte,
         |c1v AS (
         |  SELECT pair, date_trunc('minute', time) AS time,
         |         max_by(bid, time) AS close, count(*) AS vol
         |  FROM dedup GROUP BY 1, 2),
         |x AS (
         |  SELECT pair, time, close, vol,
         |         lag(close) OVER (PARTITION BY pair ORDER BY time) AS pc
         |  FROM c1v),
         |sv AS (
         |  SELECT pair, time, close, vol,
         |         CASE WHEN pc IS NULL THEN 0
         |              WHEN close > pc THEN vol
         |              WHEN close < pc THEN -vol
         |              ELSE 0 END AS signed_vol
         |  FROM x)
         |SELECT pair, epoch(time)::BIGINT AS time_s, close, vol,
         |       sum(signed_vol) OVER (PARTITION BY pair ORDER BY time
         |         ROWS UNBOUNDED PRECEDING)::BIGINT AS obv
         |FROM sv""".stripMargin,

    "j4d_asof_tolerance" ->
      s"""$prelude
         |SELECT * FROM (
         |  SELECT t.pair, epoch(t.time)::BIGINT AS time_s, t.bid,
         |         epoch(c.time)::BIGINT AS asof_time_s, c.close AS asof_close
         |  FROM dedup t ASOF JOIN c1m c ON t.pair = c.pair AND t.time >= c.time)
         |WHERE time_s - asof_time_s <= 30""".stripMargin,

    // DuckDB's native ASOF also runs forward when the inequality flips
    "j4c_asof_forward" ->
      s"""$prelude
         |SELECT t.pair, epoch(t.time)::BIGINT AS time_s, t.bid,
         |       epoch(c.time)::BIGINT AS asof_time_s, c.close AS asof_close
         |FROM dedup t ASOF JOIN c1m c ON t.pair = c.pair AND t.time <= c.time""".stripMargin,

    "u4_messages" ->
      s"""$prelude
         |SELECT pair,
         |  '{"type":"ticker","symbol":"' || pair
         |  || '","bid":' || printf('%.6f', bid)
         |  || ',"ask":' || printf('%.6f', ask)
         |  || ',"mid":' || printf('%.6f', (bid + ask) / 2)
         |  || ',"timestamp":"' || strftime(time, '%Y-%m-%dT%H:%M:%S.%g') || 'Z"}'
         |  AS message
         |FROM dedup""".stripMargin,

    // oracle computes the parsed fields DIRECTLY (no JSON detour): if the
    // Spark side's encode→decode drifts anywhere — number formatting,
    // field order, timestamp rendering — the round-trip stops matching
    "u4b_wire_roundtrip" ->
      s"""$prelude
         |SELECT pair, 'ticker' AS msg_type, pair AS symbol,
         |       printf('%.6f', bid)::DOUBLE AS bid,
         |       printf('%.6f', ask)::DOUBLE AS ask,
         |       printf('%.6f', (bid + ask) / 2)::DOUBLE AS mid,
         |       strftime(time, '%Y-%m-%dT%H:%M:%S.%g') || 'Z' AS ts_iso
         |FROM dedup""".stripMargin,

    // parse-back of the %.6f-formatted, ms-truncated wire rendering
    "u4c_wire_ingest" ->
      s"""$prelude
         |SELECT pair, epoch_ms(time)::BIGINT AS time_ms,
         |       printf('%.6f', bid)::DOUBLE AS bid,
         |       printf('%.6f', ask)::DOUBLE AS ask
         |FROM dedup""".stripMargin,

    "j5_range_signal_candle" ->
      s"""$prelude,
         |sma AS (
         |  SELECT pair, time,
         |         CASE WHEN row_number() OVER (PARTITION BY pair ORDER BY time) >= 14
         |              THEN avg(close) OVER (PARTITION BY pair ORDER BY time
         |                   ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) END AS s14,
         |         CASE WHEN row_number() OVER (PARTITION BY pair ORDER BY time) >= 28
         |              THEN avg(close) OVER (PARTITION BY pair ORDER BY time
         |                   ROWS BETWEEN 27 PRECEDING AND CURRENT ROW) END AS s28
         |  FROM c1m),
         |x AS (
         |  SELECT pair, time, s14, s28,
         |         lag(s14) OVER (PARTITION BY pair ORDER BY time) AS ps,
         |         lag(s28) OVER (PARTITION BY pair ORDER BY time) AS pl
         |  FROM sma),
         |ev AS (
         |  SELECT pair, time, 'BUY' AS et FROM x WHERE ps <= pl AND s14 > s28
         |  UNION ALL
         |  SELECT pair, time, 'SELL' FROM x WHERE ps >= pl AND s14 < s28)
         |SELECT e.pair, epoch(e.time)::BIGINT AS sig_time_s, e.et AS event_type,
         |       epoch(c.time)::BIGINT AS candle_time_s, c.close
         |FROM ev e JOIN c1m c ON e.pair = c.pair
         |  AND epoch(c.time) BETWEEN epoch(e.time) AND epoch(e.time) + 600""".stripMargin,

    // Window-based restatement of the alternating long-only fold: SMA cross
    // events strictly alternate per pair (a second golden cross cannot fire
    // before a dead cross flips the SMA order), so the state machine
    // collapses to "drop events before the first BUY; trades = SELL count;
    // pnl = Σsell − Σbuy, adding back the final unclosed BUY if last".
    "f6_backtest" ->
      s"""$prelude,
         |sma AS (
         |  SELECT pair, time,
         |         CASE WHEN row_number() OVER (PARTITION BY pair ORDER BY time) >= 14
         |              THEN avg(close) OVER (PARTITION BY pair ORDER BY time
         |                   ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) END AS s14,
         |         CASE WHEN row_number() OVER (PARTITION BY pair ORDER BY time) >= 28
         |              THEN avg(close) OVER (PARTITION BY pair ORDER BY time
         |                   ROWS BETWEEN 27 PRECEDING AND CURRENT ROW) END AS s28
         |  FROM c1m),
         |x AS (
         |  SELECT pair, time, s14, s28,
         |         lag(s14) OVER (PARTITION BY pair ORDER BY time) AS ps,
         |         lag(s28) OVER (PARTITION BY pair ORDER BY time) AS pl
         |  FROM sma),
         |ev AS (
         |  SELECT pair, time, 'BUY' AS et, s14 AS price FROM x
         |  WHERE ps <= pl AND s14 > s28
         |  UNION ALL
         |  SELECT pair, time, 'SELL', s14 FROM x
         |  WHERE ps >= pl AND s14 < s28),
         |fb AS (SELECT pair, min(time) FILTER (et = 'BUY') AS fbt FROM ev GROUP BY pair),
         |kept AS (
         |  SELECT ev.*, last_value(et) OVER (PARTITION BY ev.pair ORDER BY time
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_et
         |  FROM ev JOIN fb USING (pair) WHERE ev.time >= fb.fbt)
         |SELECT pair,
         |       count(*) FILTER (et = 'SELL')::INT AS trades,
         |       round((sum(CASE WHEN et = 'SELL' THEN price ELSE -price END)
         |             + CASE WHEN any_value(last_et) = 'BUY'
         |                    THEN max_by(price, time) ELSE 0 END)::VARCHAR::DECIMAL(38,23), 6)::DOUBLE AS total_pnl,
         |       any_value(last_et) = 'BUY' AS open_position
         |FROM kept GROUP BY pair""".stripMargin,

    // Same alternation argument as f6: after the first BUY, events strictly
    // alternate per pair, so odd rows are entries and lead() is the exit;
    // a trailing BUY (open position) gets NULL exit fields from lead().
    "f6b_trades" ->
      s"""$prelude,
         |sma AS (
         |  SELECT pair, time,
         |         CASE WHEN row_number() OVER (PARTITION BY pair ORDER BY time) >= 14
         |              THEN avg(close) OVER (PARTITION BY pair ORDER BY time
         |                   ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) END AS s14,
         |         CASE WHEN row_number() OVER (PARTITION BY pair ORDER BY time) >= 28
         |              THEN avg(close) OVER (PARTITION BY pair ORDER BY time
         |                   ROWS BETWEEN 27 PRECEDING AND CURRENT ROW) END AS s28
         |  FROM c1m),
         |x AS (
         |  SELECT pair, time, s14, s28,
         |         lag(s14) OVER (PARTITION BY pair ORDER BY time) AS ps,
         |         lag(s28) OVER (PARTITION BY pair ORDER BY time) AS pl
         |  FROM sma),
         |ev AS (
         |  SELECT pair, time, 'BUY' AS et, s14 AS price FROM x
         |  WHERE ps <= pl AND s14 > s28
         |  UNION ALL
         |  SELECT pair, time, 'SELL', s14 FROM x
         |  WHERE ps >= pl AND s14 < s28),
         |fb AS (SELECT pair, min(time) FILTER (et = 'BUY') AS fbt FROM ev GROUP BY pair),
         |kept AS (
         |  SELECT ev.pair, ev.time, ev.et, ev.price,
         |         row_number() OVER (PARTITION BY ev.pair ORDER BY ev.time) AS rn,
         |         lead(ev.time) OVER (PARTITION BY ev.pair ORDER BY ev.time) AS x_time,
         |         lead(ev.price) OVER (PARTITION BY ev.pair ORDER BY ev.time) AS x_price
         |  FROM ev JOIN fb USING (pair) WHERE ev.time >= fb.fbt)
         |SELECT pair, ((rn + 1) // 2)::INT AS trade_no,
         |       epoch(time)::BIGINT AS entry_s, round((price)::VARCHAR::DECIMAL(38,23), 6)::DOUBLE AS entry_price,
         |       epoch(x_time)::BIGINT AS exit_s, round((x_price)::VARCHAR::DECIMAL(38,23), 6)::DOUBLE AS exit_price,
         |       round((x_price - price)::VARCHAR::DECIMAL(38,23), 6)::DOUBLE AS pnl
         |FROM kept WHERE rn % 2 = 1""".stripMargin,

    // the tradesStopped state machine replayed one merged row per pair per
    // recursion step; multipliers spelled CAST(1.0)−CAST(0.005) so both
    // engines compute the identical double (the llm_lm_interp pattern)
    "f6f_trades_stopped" -> {
      val msl = "(CAST(1.0 AS DOUBLE) - CAST(0.005 AS DOUBLE))"
      val mtp = "(CAST(1.0 AS DOUBLE) + CAST(0.01 AS DOUBLE))"
      val exit = s"(n.kind = 2 OR (n.kind = 0 AND " +
        s"(n.px <= r.entry * $msl OR n.px >= r.entry * $mtp)))"
      s"""WITH RECURSIVE $ticksCte, $dedupCte, $c1mCte,
         |sma AS (
         |  SELECT pair, time,
         |         CASE WHEN row_number() OVER (PARTITION BY pair ORDER BY time) >= 14
         |              THEN avg(close) OVER (PARTITION BY pair ORDER BY time
         |                   ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) END AS s14,
         |         CASE WHEN row_number() OVER (PARTITION BY pair ORDER BY time) >= 28
         |              THEN avg(close) OVER (PARTITION BY pair ORDER BY time
         |                   ROWS BETWEEN 27 PRECEDING AND CURRENT ROW) END AS s28
         |  FROM c1m),
         |x AS (
         |  SELECT pair, time, s14, s28,
         |         lag(s14) OVER (PARTITION BY pair ORDER BY time) AS ps,
         |         lag(s28) OVER (PARTITION BY pair ORDER BY time) AS pl
         |  FROM sma),
         |ev AS (
         |  SELECT pair, time, 'BUY' AS et, s14 AS price FROM x
         |  WHERE ps <= pl AND s14 > s28
         |  UNION ALL
         |  SELECT pair, time, 'SELL', s14 FROM x
         |  WHERE ps >= pl AND s14 < s28),
         |m AS (
         |  SELECT pair, time, 0 AS kind, close AS px FROM c1m
         |  UNION ALL
         |  SELECT pair, time, CASE WHEN et = 'BUY' THEN 1 ELSE 2 END, price FROM ev),
         |n AS MATERIALIZED (SELECT pair, time, kind, px,
         |             row_number() OVER (PARTITION BY pair ORDER BY time, kind) AS rn
         |      FROM m),
         |r AS (
         |  SELECT pair, CAST(0 AS BIGINT) AS rn, CAST(NULL AS TIMESTAMP) AS etime,
         |         CAST(0.0 AS DOUBLE) AS entry, FALSE AS lng, 0 AS n_closed,
         |         CAST(NULL AS TIMESTAMP) AS o_entry_time,
         |         CAST(NULL AS DOUBLE) AS o_entry_px,
         |         CAST(NULL AS TIMESTAMP) AS o_exit_time,
         |         CAST(NULL AS DOUBLE) AS o_exit_px,
         |         CAST(NULL AS VARCHAR) AS o_reason
         |  FROM (SELECT DISTINCT pair FROM n)
         |  UNION ALL
         |  SELECT n.pair, n.rn,
         |         CASE WHEN NOT r.lng AND n.kind = 1 THEN n.time
         |              WHEN r.lng AND $exit THEN NULL
         |              ELSE r.etime END,
         |         CASE WHEN NOT r.lng AND n.kind = 1 THEN n.px
         |              WHEN r.lng AND $exit THEN CAST(0.0 AS DOUBLE)
         |              ELSE r.entry END,
         |         CASE WHEN NOT r.lng THEN n.kind = 1 ELSE NOT $exit END,
         |         r.n_closed + CASE WHEN r.lng AND $exit THEN 1 ELSE 0 END,
         |         CASE WHEN r.lng AND $exit THEN r.etime END,
         |         CASE WHEN r.lng AND $exit THEN r.entry END,
         |         CASE WHEN r.lng AND $exit THEN n.time END,
         |         CASE WHEN r.lng AND $exit THEN n.px END,
         |         CASE WHEN r.lng AND $exit THEN
         |           CASE WHEN n.kind = 2 THEN 'SIG'
         |                WHEN n.px <= r.entry * $msl THEN 'SL'
         |                ELSE 'TP' END END
         |  FROM r JOIN n ON n.pair = r.pair AND n.rn = r.rn + 1),
         |last AS (SELECT pair, max(rn) AS mx FROM n GROUP BY 1),
         |closed AS (
         |  SELECT pair, n_closed AS trade_no, o_entry_time, o_entry_px,
         |         o_exit_time, o_exit_px, o_reason
         |  FROM r WHERE o_exit_time IS NOT NULL),
         |open_pos AS (
         |  SELECT r.pair, r.n_closed + 1 AS trade_no, r.etime, r.entry,
         |         CAST(NULL AS TIMESTAMP), CAST(NULL AS DOUBLE),
         |         CAST(NULL AS VARCHAR)
         |  FROM r JOIN last ON r.pair = last.pair AND r.rn = last.mx
         |  WHERE r.lng)
         |SELECT pair, trade_no::INT AS trade_no,
         |       epoch(o_entry_time)::BIGINT AS entry_s,
         |       round((o_entry_px)::VARCHAR::DECIMAL(38,23), 6)::DOUBLE AS entry_price,
         |       epoch(o_exit_time)::BIGINT AS exit_s,
         |       round((o_exit_px)::VARCHAR::DECIMAL(38,23), 6)::DOUBLE AS exit_price,
         |       o_reason AS reason,
         |       round((o_exit_px - o_entry_px)::VARCHAR::DECIMAL(38,23), 6)::DOUBLE AS pnl
         |FROM (SELECT * FROM closed UNION ALL SELECT * FROM open_pos)""".stripMargin
    },

    // the f6b pairing reduced to closed-trade PnLs, then the identical
    // exact-decimal moment sums and float mean/variance/sqrt/ratio chain
    // as Backtest.riskMetrics
    "f6e_risk_metrics" ->
      s"""$prelude,
         |sma AS (
         |  SELECT pair, time,
         |         CASE WHEN row_number() OVER (PARTITION BY pair ORDER BY time) >= 14
         |              THEN avg(close) OVER (PARTITION BY pair ORDER BY time
         |                   ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) END AS s14,
         |         CASE WHEN row_number() OVER (PARTITION BY pair ORDER BY time) >= 28
         |              THEN avg(close) OVER (PARTITION BY pair ORDER BY time
         |                   ROWS BETWEEN 27 PRECEDING AND CURRENT ROW) END AS s28
         |  FROM c1m),
         |x AS (
         |  SELECT pair, time, s14, s28,
         |         lag(s14) OVER (PARTITION BY pair ORDER BY time) AS ps,
         |         lag(s28) OVER (PARTITION BY pair ORDER BY time) AS pl
         |  FROM sma),
         |ev AS (
         |  SELECT pair, time, 'BUY' AS et, s14 AS price FROM x
         |  WHERE ps <= pl AND s14 > s28
         |  UNION ALL
         |  SELECT pair, time, 'SELL', s14 FROM x
         |  WHERE ps >= pl AND s14 < s28),
         |fb AS (SELECT pair, min(time) FILTER (et = 'BUY') AS fbt FROM ev GROUP BY pair),
         |kept AS (
         |  SELECT ev.pair, ev.time, ev.price,
         |         row_number() OVER (PARTITION BY ev.pair ORDER BY ev.time) AS rn,
         |         lead(ev.time) OVER (PARTITION BY ev.pair ORDER BY ev.time) AS x_time,
         |         lead(ev.price) OVER (PARTITION BY ev.pair ORDER BY ev.time) AS x_price
         |  FROM ev JOIN fb USING (pair) WHERE ev.time >= fb.fbt),
         |t AS (SELECT pair, round((x_price - price)::VARCHAR::DECIMAL(38,23), 6)::DECIMAL(18,6) AS p
         |      FROM kept WHERE rn % 2 = 1 AND x_time IS NOT NULL),
         |a AS (SELECT pair, count(*) AS n_trades,
         |             sum(p) AS s,
         |             sum(CAST(p * p AS DECIMAL(38,12))) AS sq,
         |             sum(CASE WHEN p < 0 THEN CAST(p * p AS DECIMAL(38,12))
         |                      ELSE CAST(0 AS DECIMAL(38,12)) END) AS dsq
         |      FROM t GROUP BY 1),
         |m AS (SELECT pair, n_trades,
         |             CAST(s AS DOUBLE) / n_trades AS mean,
         |             sqrt(greatest(CAST(sq AS DOUBLE) / n_trades
         |                 - (CAST(s AS DOUBLE) / n_trades)
         |                   * (CAST(s AS DOUBLE) / n_trades),
         |               CAST(0.0 AS DOUBLE))) AS vol,
         |             sqrt(CAST(dsq AS DOUBLE) / n_trades) AS ddev
         |      FROM a)
         |SELECT pair, n_trades::BIGINT AS n_trades,
         |       round((mean)::VARCHAR::DECIMAL(38,23), 6)::DOUBLE AS mean_pnl, round((vol)::VARCHAR::DECIMAL(38,23), 6)::DOUBLE AS vol,
         |       CASE WHEN vol > 0 THEN round((mean / vol)::VARCHAR::DECIMAL(38,23), 6)::DOUBLE END AS sharpe,
         |       round((ddev)::VARCHAR::DECIMAL(38,23), 6)::DOUBLE AS downside_dev,
         |       CASE WHEN ddev > 0 THEN round((mean / ddev)::VARCHAR::DECIMAL(38,23), 6)::DOUBLE END AS sortino
         |FROM m""".stripMargin,

    // the f6b ledger aggregated: NULL pnl (open final trade) counts as a
    // trade but is skipped by the win/total/extreme aggregates.
    // ORACLE CONTRACT (shared with f6b): the rn%2 pairing assumes BUY/SELL
    // events strictly alternate after the first BUY. The cross definitions
    // guarantee this unless s14−s28 sits EXACTLY at 0 across consecutive
    // bars (a flat plateau at double-precision equality), where the engine
    // ignores a repeated BUY while already long and the oracle would
    // mis-pair. No such plateau exists in the fixture (hash-verified); a
    // plateau would fail the gate loudly, not silently.
    "f6c_backtest_summary" ->
      s"""$prelude,
         |sma AS (
         |  SELECT pair, time,
         |         CASE WHEN row_number() OVER (PARTITION BY pair ORDER BY time) >= 14
         |              THEN avg(close) OVER (PARTITION BY pair ORDER BY time
         |                   ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) END AS s14,
         |         CASE WHEN row_number() OVER (PARTITION BY pair ORDER BY time) >= 28
         |              THEN avg(close) OVER (PARTITION BY pair ORDER BY time
         |                   ROWS BETWEEN 27 PRECEDING AND CURRENT ROW) END AS s28
         |  FROM c1m),
         |x AS (
         |  SELECT pair, time, s14, s28,
         |         lag(s14) OVER (PARTITION BY pair ORDER BY time) AS ps,
         |         lag(s28) OVER (PARTITION BY pair ORDER BY time) AS pl
         |  FROM sma),
         |ev AS (
         |  SELECT pair, time, 'BUY' AS et, s14 AS price FROM x
         |  WHERE ps <= pl AND s14 > s28
         |  UNION ALL
         |  SELECT pair, time, 'SELL', s14 FROM x
         |  WHERE ps >= pl AND s14 < s28),
         |fb AS (SELECT pair, min(time) FILTER (et = 'BUY') AS fbt FROM ev GROUP BY pair),
         |kept AS (
         |  SELECT ev.pair, ev.time, ev.price,
         |         row_number() OVER (PARTITION BY ev.pair ORDER BY ev.time) AS rn,
         |         lead(ev.price) OVER (PARTITION BY ev.pair ORDER BY ev.time) AS x_price
         |  FROM ev JOIN fb USING (pair) WHERE ev.time >= fb.fbt),
         |led AS (
         |  SELECT pair, round((x_price - price)::VARCHAR::DECIMAL(38,23), 6)::DOUBLE AS pnl
         |  FROM kept WHERE rn % 2 = 1)
         |SELECT pair, count(*) AS n_trades,
         |       sum(CASE WHEN pnl > 0 THEN 1 ELSE 0 END)::BIGINT AS n_wins,
         |       round((sum(pnl::DECIMAL(18,6))::DOUBLE)::VARCHAR::DECIMAL(38,23), 6)::DOUBLE AS total_pnl,
         |       round((max(pnl))::VARCHAR::DECIMAL(38,23), 6)::DOUBLE AS best, round((min(pnl))::VARCHAR::DECIMAL(38,23), 6)::DOUBLE AS worst
         |FROM led GROUP BY 1""".stripMargin,

    // f6b's lead()-paired ledger at the (10,40) parameter set, with the
    // money columns as the engine's exact double expressions: qty =
    // notional/entry FIRST, then gross = qty·Δ, fee = (rate·qty)·(sum),
    // net = gross − fee — parenthesized to force the engine's
    // left-to-right evaluation order; rounding only at the surface.
    "f6d_trades_sized" ->
      s"""$prelude,
         |sma AS (
         |  SELECT pair, time,
         |         CASE WHEN row_number() OVER (PARTITION BY pair ORDER BY time) >= 10
         |              THEN avg(close) OVER (PARTITION BY pair ORDER BY time
         |                   ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) END AS s10,
         |         CASE WHEN row_number() OVER (PARTITION BY pair ORDER BY time) >= 40
         |              THEN avg(close) OVER (PARTITION BY pair ORDER BY time
         |                   ROWS BETWEEN 39 PRECEDING AND CURRENT ROW) END AS s40
         |  FROM c1m),
         |x AS (
         |  SELECT pair, time, s10, s40,
         |         lag(s10) OVER (PARTITION BY pair ORDER BY time) AS ps,
         |         lag(s40) OVER (PARTITION BY pair ORDER BY time) AS pl
         |  FROM sma),
         |ev AS (
         |  SELECT pair, time, 'BUY' AS et, s10 AS price FROM x
         |  WHERE ps <= pl AND s10 > s40
         |  UNION ALL
         |  SELECT pair, time, 'SELL', s10 FROM x
         |  WHERE ps >= pl AND s10 < s40),
         |fb AS (SELECT pair, min(time) FILTER (et = 'BUY') AS fbt FROM ev GROUP BY pair),
         |kept AS (
         |  SELECT ev.pair, ev.time, ev.et, ev.price,
         |         row_number() OVER (PARTITION BY ev.pair ORDER BY ev.time) AS rn,
         |         lead(ev.time) OVER (PARTITION BY ev.pair ORDER BY ev.time) AS x_time,
         |         lead(ev.price) OVER (PARTITION BY ev.pair ORDER BY ev.time) AS x_price
         |  FROM ev JOIN fb USING (pair) WHERE ev.time >= fb.fbt),
         |m AS (
         |  SELECT pair, rn, time, price, x_time, x_price,
         |         (CAST(1000000 AS DOUBLE) / price) AS qty
         |  FROM kept WHERE rn % 2 = 1)
         |SELECT pair, ((rn + 1) // 2)::INT AS trade_no,
         |       epoch(time)::BIGINT AS entry_s, round((price)::VARCHAR::DECIMAL(38,23), 6)::DOUBLE AS entry_price,
         |       round((qty)::VARCHAR::DECIMAL(38,23), 6)::DOUBLE AS qty,
         |       epoch(x_time)::BIGINT AS exit_s, round((x_price)::VARCHAR::DECIMAL(38,23), 6)::DOUBLE AS exit_price,
         |       round((qty * (x_price - price))::VARCHAR::DECIMAL(38,23), 6)::DOUBLE AS gross,
         |       round(((CAST(0.0002 AS DOUBLE) * qty) * (price + x_price))::VARCHAR::DECIMAL(38,23), 6)::DOUBLE AS fee,
         |       round((qty * (x_price - price)
         |             - (CAST(0.0002 AS DOUBLE) * qty) * (price + x_price))::VARCHAR::DECIMAL(38,23), 6)::DOUBLE AS net
         |FROM m""".stripMargin)
}
