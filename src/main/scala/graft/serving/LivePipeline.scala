package graft.serving

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.CodegenObjectFactoryMode
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.model.Timeframe
import graft.operators.{Incremental, Indicators, Ohlc, Ticks}
import graft.sources.Compact

/** The reference's WHOLE deployment as ONE continuously running query:
  * `ws-connection.py` (ingest) → the transform flow's candle + indicator
  * state (E1/E2) → `ws_ticker_server.py` (fan-out) — tick-in over a real
  * socket, json-out over real sockets, one Structured Streaming chain.
  *
  * Shape: the DSv2 socket source feeds parsed ticks into `foreachBatch`,
  * and each micro-batch advances four first-write-wins parquet stores the
  * way the reference's per-poll Prefect run advances its tables — made
  * continuous:
  *
  *  1. E3 serving: [[TickerServer.publishLatest]] fans the batch's latest
  *     tick per pair out to subscribers (edge-sized collect);
  *  2. S2+T4 relay: per-batch second-dedup, anti-join append into the
  *     tick store (idempotent under batch replay);
  *  3. E1 candles: only the tick TAIL past each (pair, timeframe)
  *     watermark is candled (every bar newer than a watermark has all its
  *     ticks in the tail — bar grids align, so `bar > wm ⇒ ticks ≥ wm +
  *     dur ≥ threshold`), and only bars whose window has closed against
  *     the pair's max tick time freeze into the store — per-batch cost
  *     tracks new data, never history;
  *  4. E2 grid: [[Indicators.indicatorGridAdvanceResume]] — ONE resumed
  *     sorted-cogroup fold of the new final candles into FusedMachines
  *     restored from the persisted snapshot, emitting the grid FACT rows
  *     and the ADVANCED per-cell snapshot rows (plus the per-key
  *     watermark advance) as tagged rows of the same frame. Facts append
  *     first-write-wins; the snapshot persists as a new VERSIONED
  *     directory — `_SUCCESS`-gated, so a kill mid-write leaves the
  *     previous version authoritative and the replayed batch reconverges
  *     bit-exactly (snapshot(prefix) + fold(tail) ≡
  *     snapshot(prefix ++ tail)).
  *
  * Crash contract per batch: publish (idempotent latest-cache), tick
  * append (anti-join), candle append (anti-join), fact append
  * (anti-join), snapshot version (monotone, `_SUCCESS`-gated) — a kill
  * between ANY two steps replays the batch into stores where every write
  * either dedups out or re-produces the identical bytes. The restart
  * proof is LivePipelineSpec; the gate row is `e2e_live_pipeline`.
  *
  * SCALE SHAPE — per-batch cost is O(new data), never O(history):
  *
  *  - every store is written `partitionBy(pair, dt)` (dt = the tick's
  *    UTC date), so every bounded read below prunes PARTITIONS by pair
  *    and date and parquet ROW GROUPS by time statistics;
  *  - every store and snapshot is read with the schema declared in
  *    [[Stores]] (no footer-inference job per read), and an absent store
  *    is an HDFS `exists` answer, not a caught read error;
  *  - the per-(pair, timeframe) candle watermarks and fold state (the
  *    grid snapshot) and the two ledger states — O(pairs × timeframes)
  *    rows each — live in a per-query [[LiveState]] on the driver. A held
  *    copy is trusted only while its version equals the newest
  *    `_SUCCESS` version on disk (a directory listing, no job); otherwise
  *    it is reloaded from the snapshot. Every threshold below is a
  *    LITERAL predicate built from those rows — nothing arrives at a scan
  *    through a join, so pushdown is structural, not optimizer luck;
  *  - tick-dedup anti-join: first-write-wins collisions can only occur
  *    at matching (pair, second), so the existing side is bounded by the
  *    batch's literal [min, max] second range — lossless;
  *  - candle tail: ticks at/after the pair's threshold literal (the
  *    earliest instant any timeframe's next bar can start);
  *  - candle/fact anti-joins: existing sides bounded by per-pair literal
  *    time floors no incoming row can undercut (anti-join semantics are
  *    unchanged wherever collisions are possible);
  *  - the driver materializations are the edge-sized publish collect
  *    (which also yields the batch's emptiness, its [min, max] second
  *    range and each pair's max tick time — the bar-closing bound), the
  *    advanced snapshot rows after each fold (they become the next
  *    batch's held state), and a snapshot reload when the held copy is
  *    stale — all O(pairs × timeframes);
  *  - no job answers a question the driver already knows: the
  *    out-of-order probe rides the tick append's OWN action, and the
  *    fold and anti-join emptiness checks ride their frame's checkpoint,
  *    as `observe` metrics; a frame is checkpointed only when two actions
  *    consume it; the per-timeframe durations, the bar-closing bound and
  *    the ledger frontiers are literal maps, not broadcast joins;
  *  - job budget: a steady-state batch with every phase armed fires a
  *    fixed number of Spark jobs independent of data volume (query-stage
  *    jobs per shuffle and broadcast, one per checkpoint/collect/write) —
  *    LivePipelineSpec pins it, so a plan-shape change fails tier-1;
  *  - the batch runs INTERPRETED ([[BatchConf]], scoped to the batch and
  *    restored after it, also on failure): each batch plans a few dozen
  *    small queries with its own literal bounds inlined, so their
  *    generated classes never repeat across batches and outnumber Spark's
  *    100-entry codegen cache — every batch compiled ~190 classes, which
  *    cost more than the rows they ran on (1,000-tick tail batch ~9 s).
  *    Interpreted, a steady batch compiles none (LivePipelineSpec pins
  *    the count); a benchmark `live_feed` pass
  *    compiles 31 classes instead of 265, and its 1,000-tick tail batch
  *    fell from a median 8.35 s to 5.90 s over ten seeds (shared 4-core
  *    host), the catch-up batch with it;
  *  - store fragmentation is bounded by [[Compact.compactStore]] every
  *    `compactEvery` batches — a crash-safe partition-granular
  *    rewrite-and-swap (work ∝ fragmented partitions, not store size),
  *    with [[Compact.recoverStore]]'s O(1) probe guarding every batch.
  */
object LivePipeline {

  /** Store layout under one root: the nine tables of the deployment. */
  final case class Stores(root: String) {
    val ticks = s"$root/ticks"
    val candles = s"$root/candles"
    val gridFacts = s"$root/grid_facts"
    val gridState = s"$root/grid_state"
    val signals = s"$root/signals"
    val trades = s"$root/trades"
    val tradeState = s"$root/trade_state"
    val tradesStopped = s"$root/trades_stopped"
    val tradeStopState = s"$root/trade_stop_state"
    val checkpoint = s"$root/ckpt"
  }

  /** The schema every store and snapshot is written with, declared once
    * so reads skip footer inference. Stores list their data columns, then
    * the `pair`/`dt` partition columns — the order a reader infers. */
  object Stores {
    private def ddl(s: String): StructType = StructType.fromDDL(s)
    private val part = "t_s BIGINT, pair STRING, dt DATE"
    val TickSchema: StructType = ddl(s"time TIMESTAMP, bid DOUBLE, ask DOUBLE, $part")
    val CandleSchema: StructType = ddl("timeframe STRING, time TIMESTAMP, open DOUBLE, " +
      s"high DOUBLE, low DOUBLE, close DOUBLE, $part")
    val FactSchema: StructType = ddl("indicator STRING, timeframe STRING, time TIMESTAMP, " +
      s"period INT, calc_version STRING, value DOUBLE, $part")
    val SignalSchema: StructType = ddl("event_datetime TIMESTAMP, event_type STRING, " +
      "price DOUBLE, quantity INT, trigger_indicator_name STRING, " +
      "trigger_indicator_value DOUBLE, trigger_indicator_timeframe STRING, " +
      s"trigger_indicator_period INT, $part")
    val TradeSchema: StructType = ddl("timeframe STRING, trade_no BIGINT, " +
      "entry_time TIMESTAMP, entry_price DOUBLE, exit_time TIMESTAMP, " +
      s"exit_price DOUBLE, pnl DOUBLE, $part")
    val StoppedTradeSchema: StructType = ddl("timeframe STRING, trade_no BIGINT, " +
      "entry_time TIMESTAMP, entry_price DOUBLE, exit_time TIMESTAMP, " +
      s"exit_price DOUBLE, reason STRING, pnl DOUBLE, $part")
    /** A grid snapshot row: one indicator cell's machine state + its key's
      * candle watermark. */
    val GridStateSchema: StructType = ddl("pair STRING, timeframe STRING, " +
      "indicator STRING, period INT, n BIGINT, vec ARRAY<DOUBLE>, wm TIMESTAMP")
    /** A ledger snapshot row (both trade ledgers). */
    val LedgerSchema: StructType = ddl("pair STRING, timeframe STRING, open BOOLEAN, " +
      "entry_time TIMESTAMP, entry_price DOUBLE, n_closed BIGINT, last_time TIMESTAMP")
  }

  /** The driver-held snapshots of one running query: per snapshot root,
    * the version held and its rows. [[start]] creates one per query and
    * hands it to every batch; [[processBatch]] trusts an entry only while
    * its version is the newest complete one on disk. */
  final class LiveState {
    private[LivePipeline] val held = mutable.Map.empty[String, (Long, Array[Row])]
  }

  import Stores._

  /** Start the chain against a live endpoint. `maxMessages`/
    * `maxMessagesPerBatch` bound an AvailableNow drain into a
    * deterministic multi-batch run (the gate/spec mode); a production
    * deployment omits both and runs a ProcessingTime trigger. */
  def start(spark: SparkSession, host: String, port: Int, wsPath: String,
            subscribe: String, storeRoot: String, server: TickerServer,
            indicators: Seq[String] = Seq("RSI", "SMA", "EMA"),
            periods: Seq[Int] = Seq(14, 28, 56),
            timeframes: Seq[String] = Seq("1m", "5m", "30m", "1h", "4h"),
            maxMessages: Long = Long.MaxValue,
            maxMessagesPerBatch: Long = Long.MaxValue,
            backoffMs: Long = 25L,
            maxReconnects: Int = 5,
            availableNowTimeoutMs: Long = 30000L,
            trigger: Trigger = Trigger.AvailableNow(),
            compactEvery: Int = 16,
            retainDays: Int = 0): StreamingQuery = {
    val stores = Stores(storeRoot)
    val tfs = timeframes.map(c => Timeframe.byCode.getOrElse(c,
      throw new IllegalArgumentException(s"unknown timeframe code: $c")))
    val lines = spark.readStream.format("graft-websocket")
      .option("host", host).option("port", port.toString)
      .option("path", wsPath)
      .option("subscribe", subscribe)
      .option("maxMessages", maxMessages.toString)
      .option("maxMessagesPerBatch", maxMessagesPerBatch.toString)
      .option("backoffMs", backoffMs.toString)
      .option("maxReconnects", maxReconnects.toString)
      .option("availableNowTimeoutMs", availableNowTimeoutMs.toString)
      .load()
    val state = new LiveState
    Ticks.valid(Ticks.fromWireJson(lines))
      .writeStream
      .option("checkpointLocation", stores.checkpoint)
      .outputMode("append")
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch, batchId, stores, server, indicators, periods, tfs,
          compactEvery, retainDays = retainDays, state = state)
      }
      .start()
  }

  /** A per-pair scan bound: rows of `pair` pass when the row's second is
    * at/after `sec` (strictly after, per `strict`), except rows whose
    * `timeframe` is in `exempt`, which always pass (the pin-open valve
    * for timeframes the watermark source has not seen yet). Bounds are
    * EPOCH SECONDS against the stores' `t_s` BIGINT column: every store
    * row is second-aligned (tick dedup truncates; bars sit on their
    * grid), so the integer comparison is exact — and, unlike a TIMESTAMP
    * predicate, an INT64 comparison actually engages parquet row-group
    * statistics (measured: a pushed timestamp filter decodes every row;
    * the long filter skips the groups). */
  private final case class PairBound(pair: String, sec: Long,
                                     exempt: Seq[String])

  /** The exact per-pair OR-of-ANDs cut: pairs WITHOUT a bound pass
    * entirely; bounded pairs pass their at/after-`ts` rows plus their
    * exempted timeframes. Mixes the pair partition column into every
    * disjunct, so it CANNOT translate to a parquet filter — it is the
    * post-scan correctness filter; [[readStoreBounded]] supplies the
    * pushable coarse conjuncts. */
  private def exactPred(bounds: Seq[PairBound], strict: Boolean): Column = {
    if (bounds.isEmpty) return lit(true)
    val arms = bounds.map { b =>
      val timeOk = if (strict) col("t_s") > lit(b.sec) else col("t_s") >= lit(b.sec)
      val pass = if (b.exempt.isEmpty) timeOk
        else timeOk || col("timeframe").isin(b.exempt: _*)
      col("pair") === b.pair && pass
    }
    !col("pair").isin(bounds.map(_.pair): _*) || arms.reduce(_ || _)
  }

  /** Bounded store read as TWO complementary scans, shaped so the bounds
    * actually reach the storage layer (an OR that mixes the pair
    * partition column with time would translate to NO parquet filter at
    * all — measured: full-store reads every batch):
    *
    *  - CLOSED pairs (a bound with no exemptions): partition-pruned to
    *    those pairs, with a PURE time conjunct at the pairs' minimum
    *    bound — a single-column literal parquet filter, so row groups
    *    below every pair's bound are skipped at the reader; the exact
    *    per-pair cut runs post-scan.
    *  - everything else (pairs with exempt timeframes, pairs with no
    *    bound): partition-pruned to exactly those pairs — the
    *    startup/crash-window residue, transient by construction.
    *
    * Per-batch scan cost = the widest closed pair's unfrozen window +
    * the open-pair residue — never store history. */
  private def readStoreBounded(spark: SparkSession, path: String, schema: StructType,
                               bounds: Seq[PairBound], strict: Boolean)
      : Option[DataFrame] = {
    Compact.scanStore(spark, path, schema).map { raw =>
      if (bounds.isEmpty) return Some(raw.drop("dt", "t_s"))
      val exact = exactPred(bounds, strict)
      val closed = bounds.filter(_.exempt.isEmpty)
      val closedPairs = closed.map(_.pair)
      val open = raw.filter(!col("pair").isin(closedPairs: _*) && exact)
      val out =
        if (closed.isEmpty) open
        else {
          val minSec = closed.map(_.sec).min
          val minT = lit(new java.sql.Timestamp(minSec * 1000L))
          val timeOk = if (strict) col("t_s") > lit(minSec)
            else col("t_s") >= lit(minSec)
          raw.filter(col("pair").isin(closedPairs: _*) &&
              col("dt") >= to_date(minT) && timeOk && exact)
            .unionByName(open)
        }
      out.drop("dt", "t_s")
    }
  }

  /** `value` looked up per row by `keys` in a driver-side nested map — the
    * literal form of a broadcast join against O(pairs × timeframes) rows
    * (no broadcast job); a missing key reads NULL. */
  private def lookup[V: scala.reflect.runtime.universe.TypeTag](
      m: Map[String, Map[String, V]], outer: Column, inner: Column): Column =
    element_at(element_at(typedlit(m), outer), inner)

  /** Eager local checkpoint that also reports how many rows it holds: the
    * count rides the checkpoint's own job as an observed metric, so no
    * separate emptiness probe runs. */
  private def checkpointCounting(df: DataFrame, name: String): (DataFrame, Long) = {
    val obs = new Observation(name)
    val cp = df.observe(obs, count(lit(1)).as("n")).localCheckpoint()
    (cp, obs.get("n").asInstanceOf[Long])
  }

  /** A fold's tagged output checkpointed (`is_state` rows = the advanced
    * O(keys) state). The checkpoint's own job also observes the number of
    * non-state rows and the state rows themselves, in `schema` order, so
    * neither the emptiness check nor the held copy of the state costs a
    * job. */
  private def checkpointFold(df: DataFrame, name: String, schema: StructType)
      : (DataFrame, Long, Array[Row]) = {
    val obs = new Observation(name)
    val cp = df.observe(obs,
        count(when(!col("is_state"), 1)).as("n"),
        collect_list(when(col("is_state"),
          struct(schema.fieldNames.map(col).toSeq: _*))).as("state"))
      .localCheckpoint()
    val m = obs.get
    (cp, m("n").asInstanceOf[Long], m("state").asInstanceOf[Seq[Row]].toArray)
  }

  /** The SQL settings a live batch runs under, as (key, value): no
    * whole-stage fusion, and interpreted projections, predicates and
    * orderings (why: SCALE SHAPE above). Keys are named through their
    * typed [[SQLConf]] entries, so a Spark that drops one fails the
    * build. */
  private[graft] val BatchConf: Seq[(String, String)] = Seq(
    SQLConf.WHOLESTAGE_CODEGEN_ENABLED.key -> "false",
    SQLConf.CODEGEN_FACTORY_MODE.key -> CodegenObjectFactoryMode.NO_CODEGEN.toString)

  /** One poll of the reference's deployment loop (also driven directly by
    * the spec's kill/restart harness). `state` holds the snapshots across
    * the batches of one query; a fresh one reloads them from disk. Runs
    * under [[BatchConf]], scoped by [[graft.Session.withConf]]. */
  def processBatch(batch: DataFrame, batchId: Long, stores: Stores,
                   server: TickerServer, indicators: Seq[String],
                   periods: Seq[Int], tfs: Seq[Timeframe],
                   compactEvery: Int = 16,
                   slPct: Double = 0.005, tpPct: Double = 0.01,
                   retainDays: Int = 0,
                   state: LiveState = new LiveState): Unit =
    graft.Session.withConf(batch.sparkSession, BatchConf) {
      runBatch(batch, batchId, stores, server, indicators, periods, tfs,
        compactEvery, slPct, tpPct, retainDays, state)
    }

  private def runBatch(batch: DataFrame, batchId: Long, stores: Stores,
                       server: TickerServer, indicators: Seq[String],
                       periods: Seq[Int], tfs: Seq[Timeframe], compactEvery: Int,
                       slPct: Double, tpPct: Double, retainDays: Int,
                       state: LiveState): Unit = {
    val spark = batch.sparkSession
    // phase labels (guide §1.5): every Spark job this batch fires carries
    // the phase that submitted it, so a listener (the `perfbench` trace's
    // serving.LivePipeline.<phase> layers, or the UI) can attribute the
    // deployment's job count and wall time per step
    def phase(name: String): Unit =
      spark.sparkContext.setJobDescription(s"live-batch $batchId: $name")
    phase("recover")
    // finish/abort any compaction swap OR retention delete a crash
    // interrupted, BEFORE any read (O(1) probe per store in steady state)
    Seq(stores.ticks, stores.candles, stores.gridFacts, stores.signals,
        stores.trades, stores.tradesStopped)
      .foreach { st =>
        Compact.recoverStore(spark, st)
        Compact.recoverRetire(spark, st)
      }
    // wire-order tiebreak for the per-second dedup: (partition, ordinal)
    // is socket order through the source's contiguous chunks, and a
    // crash-replayed batch re-plans the identical offset slice into the
    // identical partitioning — so the SAME survivor wins on replay even
    // when two ticks share a wire timestamp
    phase("ingest-checkpoint")
    val ticks = batch.withColumn("seq", monotonically_increasing_id())
      .localCheckpoint()

    // 1) E3 serving edge: latest tick per pair fans out NOW — the edge
    //    never waits for storage. The same edge-sized collect answers the
    //    batch's emptiness, its second range and each pair's max tick time
    phase("publish")
    val edge = TickerServer.latestPerPair(ticks, min(col("time")).as("lo")).collect()
    if (edge.isEmpty) return
    server.publishLatest(edge.toSeq)
    // second-truncated like the deduped ticks (and the stores)
    def sec(t: java.sql.Timestamp): Long = Math.floorDiv(t.getTime, 1000L)
    val loSec = edge.map(r => sec(r.getTimestamp(4))).min
    val hiSec = edge.map(r => sec(r.getTimestamp(1))).max
    val maxSecByPair: Map[String, Long] =
      edge.map(r => r.getString(0) -> sec(r.getTimestamp(1))).toMap

    val allTfs = (Timeframe.Base +: tfs.filterNot(_.code == Timeframe.Base.code)).distinct
    val durByTf = allTfs.map(t => t.code -> t.durationSeconds.toLong).toMap

    // per-(pair, timeframe) candle watermarks, from the held grid
    // snapshot: after a crash between candle append and snapshot advance
    // they are merely STALE-LOW (never high), which only widens the
    // recomputed tail — the anti-joins dedup the overlap, so correctness
    // is unaffected. Aggregating the candle store is the no-snapshot
    // fallback (first batches / crash before the first snapshot).
    phase("watermarks")
    val gridRows = snapshotRows(spark, state, stores.gridState, GridStateSchema)
    val wmRows: Seq[(String, String, java.sql.Timestamp)] = gridRows match {
      case Some(rows) =>
        rows.toSeq.map(r => (r.getString(0), r.getString(1), r.getTimestamp(6))).distinct
      case None => Compact.scanStore(spark, stores.candles, CandleSchema) match {
        case Some(pc) => Incremental.watermarks(pc).collect().toSeq
          .map(r => (r.getString(0), r.getString(1), r.getTimestamp(2)))
        case None => Seq.empty
      }
    }
    val byPair = wmRows.groupBy(_._1)
    // candle-tail threshold per pair: the earliest instant any
    // timeframe's next bar can start — defined only when EVERY timeframe
    // has a frozen bar (a timeframe with none pins the pair open: its
    // first bars may still need the oldest ticks)
    val thrByPair: Map[String, Long] = byPair.collect {
      case (p, rows) if allTfs.forall(t => rows.exists(_._2 == t.code)) =>
        p -> rows.filter(r => durByTf.contains(r._2))
          .map(r => r._3.getTime / 1000L + durByTf(r._2)).min
    }
    // per-pair minimum watermark + missing-timeframe exemptions: the
    // coarse bound for candle-tail and fact reads (a timeframe absent
    // from the snapshot passes unbounded — its history may still be
    // unfolded)
    val wmBounds: Seq[PairBound] = byPair.toSeq.sortBy(_._1).map {
      case (p, rows) =>
        val minWmSec = rows.map(_._3.getTime / 1000L).min
        val missing = allTfs.map(_.code).filterNot(c => rows.exists(_._2 == c))
        PairBound(p, minWmSec, missing)
    }
    val thrBounds: Seq[PairBound] = thrByPair.toSeq.sortBy(_._1)
      .map { case (p, s) => PairBound(p, s, Nil) }
    val maxDur = allTfs.map(_.durationSeconds.toLong).max

    // 2) S2+T4 relay into the first-write-wins tick store. Collisions are
    //    per (pair, second), so the existing side needs only the batch's
    //    literal [min, max] second window of the store — partition- and
    //    row-group-pruned, O(batch window) regardless of history.
    phase("tick-append")
    val staged = Ticks.dedupSecond(ticks)
    val (lo, hi) = (new java.sql.Timestamp(loSec * 1000L),
      new java.sql.Timestamp(hiSec * 1000L))
    val prevTicks = readStore(spark, stores.ticks, TickSchema,
      col("dt").between(to_date(lit(lo)), to_date(lit(hi))) &&
        col("t_s").between(lit(loSec), lit(hiSec)))
    val novel = prevTicks.map(p => Incremental.newRows(p, staged, Seq("pair", "time")))
      .getOrElse(staged)
    // ordered-socket contract tripwire, folded into the append's OWN
    // action as an observe metric: a NOVEL tick below the frozen candle
    // frontier arrived out of order — its bar is already final, so it can
    // never influence a candle. Keep it in the tick store, but say so:
    // silent loss is how a mis-ordered source hides.
    val lateObs = new Observation(s"live-late-$batchId")
    val thrCol: Column =
      if (thrByPair.isEmpty) lit(null).cast("timestamp")
      else element_at(
        typedlit(thrByPair.map { case (p, s) =>
          p -> new java.sql.Timestamp(s * 1000L) }), col("pair"))
    writeStore(
      novel.observe(lateObs,
        sum(when(thrCol.isNotNull && col("time") < thrCol, 1L)
          .otherwise(0L)).as("late")),
      stores.ticks, TickSchema)
    val late = lateObs.get.get("late").collect { case l: Long => l }.getOrElse(0L)
    if (late > 0) println(
      s"[live-pipeline] WARN batch $batchId: $late out-of-order ticks " +
      "below the frozen candle frontier (stored, but their bars are " +
      "final — the source violated per-pair time order)")

    // 3) E1 candles: candle only the tick tail (literal per-pair
    //    threshold — the scan prunes to the unfrozen window), freeze only
    //    closed bars. A bar closes against its pair's max tick time; only
    //    pairs in this batch can close a bar they have not closed before
    //    (a pair's max moves only with its own ticks, and a replayed batch
    //    carries the same pairs), so the batch's per-pair max — already on
    //    the driver — is the bound, and other pairs' tails drop out here.
    phase("candles")
    val tail = readStoreBounded(spark, stores.ticks, TickSchema, thrBounds, strict = false)
      .getOrElse(sys.error("tick store missing after append"))
    val cand = Ohlc.allTimeframes(tail, allTfs)
    // the closed-bar filter and the anti-join below reference only the bar
    // keys, so the optimizer plans both beneath the one bar aggregate: the
    // ticks of bars already stored drop out before they are aggregated
    val candFinal = cand.filter(unix_timestamp(col("time")) +
        element_at(typedlit(durByTf), col("timeframe")) <=
        element_at(typedlit(maxSecByPair), col("pair")))
    // recomputed bars can reach at most maxDur below a DEFINED threshold
    // (bar start ≥ floor_tf(thr) > thr − dur); an open pair is unbounded
    val candAntiBounds = thrByPair.toSeq.sortBy(_._1)
      .map { case (p, s) => PairBound(p, s - maxDur, Nil) }
    val novelCand = readStoreBounded(spark, stores.candles, CandleSchema,
        candAntiBounds, strict = false)
      .map(p => Incremental.newRows(p, candFinal, Seq("pair", "timeframe", "time")))
      .getOrElse(candFinal)
    writeStore(novelCand, stores.candles, CandleSchema)

    // 4) E2 grid: resume machines from the held snapshot, fold only the
    //    candle tail — the store's strictly-past-watermark candles, which
    //    now include the bars just written (one pruned scan, cut per key
    //    by a literal map of the same O(keys) rows) — persist facts + the
    //    advanced snapshot, and hold the advanced rows for the next batch
    phase("grid")
    val tailCand = readStoreBounded(spark, stores.candles, CandleSchema, wmBounds,
        strict = true).getOrElse(sys.error("candle store missing after append"))
    val tailC =
      if (wmRows.isEmpty) tailCand
      else {
        val wmMap = wmRows.groupBy(_._1).map { case (p, rs) =>
          p -> rs.map(r => r._2 -> r._3).toMap }
        val wm = lookup(wmMap, col("pair"), col("timeframe"))
        tailCand.filter(wm.isNull || col("time") > wm)
      }
    val stateDf = localFrame(spark, gridRows.getOrElse(Array.empty), GridStateSchema)
    // r16 optimization (guide §1.2): ONE resumed fold emits the fact rows
    // AND the advanced per-cell state AND the per-key watermark advance
    // (tagged rows, the trade-ledger shape). An empty tail folds no fact
    // and re-emits the state unchanged: then nothing is written.
    val (folded, nFacts, advanced) = checkpointFold(
      Indicators.indicatorGridAdvanceResume(tailC, indicators, periods, stateDf),
      s"live-grid-$batchId", GridStateSchema)
    if (nFacts > 0) {
      val facts = folded.filter(!col("is_state"))
        .select(col("indicator"), col("pair"), col("timeframe"),
          col("time"), col("period"), col("calc_version"), col("value"))
      // incoming facts all sit strictly past their key's watermark (or
      // in an exempt timeframe), so the non-strict window is a lossless
      // (slightly wide) existing side for the anti-join
      val novelFacts = readStoreBounded(spark, stores.gridFacts, FactSchema,
          wmBounds, strict = false)
        .map(p => Incremental.newRows(p, facts,
          Seq("indicator", "pair", "timeframe", "time", "period")))
        .getOrElse(facts)
      writeStore(novelFacts, stores.gridFacts, FactSchema)
      advanceSnapshot(spark, state, stores.gridState, batchId, GridStateSchema,
        folded, advanced)
    }

    // 5) F4 strategy tail: golden/dead SMA crosses over the grid facts —
    //    the reference deployment's signal flow, live, same
    //    first-write-wins contract. A cross at a NEW bar needs its
    //    previous bar's SMA row for the lag, so the input is the fact
    //    store's NON-strict watermark window, which now holds the facts
    //    just written; signals can only fire strictly past the watermark,
    //    so the existing side is the strict bound. Derived (short, long) =
    //    (min, max) of the configured periods — the reference's configured
    //    cross pair.
    if (periods.distinct.size >= 2 && indicators.contains("SMA")) {
      phase("signals")
      val (shortP, longP) = (periods.min, periods.max)
      readStoreBounded(spark, stores.gridFacts, FactSchema, wmBounds, strict = false)
        .foreach { sigInput =>
          val sigs = graft.operators.Signals.strategy(
            sigInput.filter(col("indicator") === "SMA"), shortP, longP)
          // pairs whose bound carries exemptions stay unbounded on the
          // existing side (the signal store has no timeframe column for
          // the exempt arm — and those pairs are startup-transient)
          val sigBounds = wmBounds.filter(_.exempt.isEmpty)
          val prevSigs = readStoreBounded(spark, stores.signals, SignalSchema,
            sigBounds, strict = true)
          val (newSigs, n) = checkpointCounting(prevSigs.map(p => Incremental.newRows(p, sigs,
              Seq("pair", "trigger_indicator_timeframe", "event_datetime")))
            .getOrElse(sigs), s"live-signals-$batchId")
          if (n > 0) writeStore(newSigs, stores.signals, SignalSchema, timeCol = "event_datetime")
        }
    }

    // 5b) F6 live: fold the signal store's UNFOLDED tail into the trade
    //    ledger — the deployment's last table. Driven from the STORE
    //    above the trade state's per-key frontier, never from "this
    //    batch's new signals": a crash between the signal append and
    //    this fold would otherwise starve the ledger forever (the replay
    //    sees those signals as already-existing). Per-batch cost is
    //    O(unfolded signals): the scan is frontier-bounded per pair, the
    //    state O(pairs × timeframes), and the closed-trade anti-join's
    //    existing side bounded by the same literals (a re-derived
    //    trade's entry is never below min(frontier, open entry)).
    if (periods.distinct.size >= 2 && indicators.contains("SMA")) {
      phase("trades")
      val ledger = snapshotRows(spark, state, stores.tradeState, LedgerSchema)
      val tradeBounds = ledger.map(ledgerBounds).getOrElse(Seq.empty)
      readStoreBounded(spark, stores.signals, SignalSchema, tradeBounds, strict = true)
        .foreach { sigsWide =>
          // the pair-level scan bound is lossless-wide; the exact
          // per-(pair, timeframe) frontier cut happens here
          val unfolded = ledger.fold(sigsWide)(rows =>
            pastFrontier(sigsWide, rows, "trigger_indicator_timeframe", "event_datetime"))
          if (ledger.isDefined || !unfolded.isEmpty) {
            foldLedger(spark, state, stores.tradeState, stores.trades, batchId,
              s"live-trades-$batchId", tradeBounds,
              graft.operators.Backtest.tradesIncremental(
                localFrame(spark, ledger.getOrElse(Array.empty), LedgerSchema),
                unfolded).toDF(),
              TradeSchema)
          }
        }
    }

    // 5c) F6 risk live, stop-managed: the f6f stop-loss/take-profit
    //    ledger folded incrementally — each timeframe's candle CLOSES
    //    interleaved with that timeframe's signals in one ordered fold
    //    (state < candle < BUY < SELL at equal instants, so an entry bar
    //    cannot stop itself out). Same store-driven frontier contract as
    //    5b — and because CANDLES advance the frontier too, signal-less
    //    keys still move forward, keeping every per-batch scan O(new
    //    data). Crash windows replay losslessly: the trade append
    //    precedes the snapshot advance, re-derived trades dedup on
    //    (pair, timeframe, trade_no).
    if (periods.distinct.size >= 2 && indicators.contains("SMA")) {
      phase("trades-stopped")
      val ledger = snapshotRows(spark, state, stores.tradeStopState, LedgerSchema)
      val stopBounds = ledger.map(ledgerBounds).getOrElse(Seq.empty)
      // exact per-(pair, timeframe) frontier cut (the pair-level scan
      // bound is lossless-wide)
      def cut(df: DataFrame, tfCol: String, timeCol: String): DataFrame =
        ledger.fold(df)(rows => pastFrontier(df, rows, tfCol, timeCol))
      val sigsCut = readStoreBounded(spark, stores.signals, SignalSchema, stopBounds,
          strict = true)
        .map(cut(_, "trigger_indicator_timeframe", "event_datetime"))
        .getOrElse(localFrame(spark, Array.empty, SignalSchema))
      val candsCut = readStoreBounded(spark, stores.candles, CandleSchema, stopBounds,
          strict = true)
        .map(cut(_, "timeframe", "time"))
        .getOrElse(localFrame(spark, Array.empty, CandleSchema))
      if (ledger.isDefined || !candsCut.isEmpty) {
        foldLedger(spark, state, stores.tradeStopState, stores.tradesStopped, batchId,
          s"live-trades-stopped-$batchId", stopBounds,
          graft.operators.Backtest.tradesStoppedIncremental(
            localFrame(spark, ledger.getOrElse(Array.empty), LedgerSchema),
            sigsCut, candsCut, slPct, tpPct).toDF(),
          StoppedTradeSchema)
      }
    }

    // 6) housekeeping: bound store fragmentation (crash-safe partition
    //    rewrite-and-swap; single-writer — this stream — by construction)
    //    and, with a retention policy set, RETIRE `dt` partitions older
    //    than `retainDays` behind the batch's own max tick date (the
    //    deployment's event clock — wall clock would mis-retire a replay)
    phase("compact")
    if (Compact.due(compactEvery, batchId)) {
      val allStores = Seq(stores.ticks, stores.candles, stores.gridFacts,
        stores.signals, stores.trades, stores.tradesStopped)
      allStores.foreach(Compact.compactStore(spark, _))
      if (retainDays > 0) {
        val horizon = hi.toInstant.atZone(java.time.ZoneOffset.UTC)
          .toLocalDate.minusDays(retainDays.toLong).toString
        allStores.foreach(Compact.retireStore(spark, _, "dt", horizon))
      }
    }
  }

  /** Rows of `df` strictly past their (pair, timeframe) ledger frontier;
    * keys the ledger has not seen pass whole. */
  private def pastFrontier(df: DataFrame, ledger: Array[Row], tfCol: String,
                           timeCol: String): DataFrame = {
    val front = ledger.filterNot(_.isNullAt(6)).groupBy(_.getString(0)).map {
      case (p, rs) => p -> rs.map(r => r.getString(1) -> r.getTimestamp(6)).toMap }
    val f = lookup(front, col("pair"), col(tfCol))
    df.filter(f.isNull || col(timeCol) > f)
  }

  /** One ledger step after its fold: append the closed trades the store
    * lacks (first-write-wins on (pair, timeframe, trade_no)), then persist
    * and hold the advanced state. Closed trades are counted on the fold's
    * checkpoint, so a batch that closes none runs no anti-join. */
  private def foldLedger(spark: SparkSession, state: LiveState, stateRoot: String,
                         storePath: String, batchId: Long, name: String,
                         bounds: Seq[PairBound], fold: DataFrame,
                         storeSchema: StructType): Unit = {
    val (folded, nClosed, advanced) = checkpointFold(fold, name, LedgerSchema)
    if (nClosed > 0) {
      val cols = "pair" +: storeSchema.fieldNames.filterNot(Set("pair", "t_s", "dt")).toSeq
      val closed = folded.filter(!col("is_state")).select(cols.map(col): _*)
      val prev = readStoreBounded(spark, storePath, storeSchema, bounds, strict = false)
      val (newTrades, n) = checkpointCounting(prev.map(p => Incremental.newRows(p, closed,
          Seq("pair", "timeframe", "trade_no"))).getOrElse(closed), s"$name-new")
      if (n > 0) writeStore(newTrades, storePath, storeSchema, timeCol = "entry_time")
    }
    advanceSnapshot(spark, state, stateRoot, batchId, LedgerSchema, folded, advanced)
  }

  /** Scan bounds from a ledger snapshot's rows: f = min last_time (0 when
    * all-null — a DELIBERATE widening: bound 0 just widens the scan,
    * losslessly), oe = min entry_time over open rows (MaxValue when none),
    * bound = min(f, oe). */
  private def ledgerBounds(rows: Array[Row]): Seq[PairBound] =
    rows.groupBy(_.getString(0)).toSeq.sortBy(_._1).map {
      case (p, rs) =>
        val fs = rs.flatMap(r => Option(r.getTimestamp(6)).map(_.getTime / 1000L))
        val oes = rs.filter(r => !r.isNullAt(2) && r.getBoolean(2))
          .flatMap(r => Option(r.getTimestamp(3)).map(_.getTime / 1000L))
        val f = if (fs.nonEmpty) fs.min else 0L
        val oe = if (oes.nonEmpty) oes.min else Long.MaxValue
        PairBound(p, math.min(f, oe), Seq.empty)
    }

  /** Driver rows as a frame (a local relation: reading it runs no job). */
  private def localFrame(spark: SparkSession, rows: Array[Row],
                         schema: StructType): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  /** The latest complete trade-state snapshot (gate/diagnostic surface):
    * open positions + per-key counters, None before the first fold. */
  def latestTradeState(spark: SparkSession, stores: Stores): Option[DataFrame] =
    readLatestLedger(spark, stores.tradeState)

  /** The latest complete STOP-managed trade-state snapshot. */
  def latestStopTradeState(spark: SparkSession, stores: Stores): Option[DataFrame] =
    readLatestLedger(spark, stores.tradeStopState)

  /** Read a (pair, dt)-partitioned store, applying `pred` BEFORE dropping
    * the partition-only `dt` column so its literal dt conjuncts prune
    * partitions. None = store absent. */
  private def readStore(spark: SparkSession, path: String, schema: StructType,
                        pred: Column): Option[DataFrame] =
    Compact.scanStore(spark, path, schema).map(_.filter(pred).drop("dt", "t_s"))

  /** First-write-wins append, partitioned by (pair, UTC date), carrying
    * the epoch-second BIGINT `t_s` the bounded reads prune row groups
    * with (see [[PairBound]] for why a long, not the timestamp). Columns
    * are written in the declared schema's order, whatever order the
    * frame's plan produced (an anti-join leads with its keys). */
  private def writeStore(df: DataFrame, path: String, schema: StructType,
                         timeCol: String = "time"): Unit =
    df.withColumn("dt", to_date(col(timeCol)))
      .withColumn("t_s", unix_timestamp(col(timeCol)))
      .select(schema.fieldNames.map(col).toSeq: _*)
      .write.mode("append").partitionBy("pair", "dt").parquet(path)

  /** Newest `_SUCCESS`-complete snapshot version under `root` — a
    * directory listing, no job. */
  private def latestVersion(spark: SparkSession, root: String): Option[(Long, Path)] = {
    val p = new Path(root)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return None
    val versions = fs.listStatus(p).filter(_.isDirectory).map(_.getPath)
      .filter(d => d.getName.startsWith("v") && fs.exists(new Path(d, "_SUCCESS")))
      .flatMap(d => scala.util.Try(d.getName.stripPrefix("v").toLong).toOption.map(_ -> d))
    if (versions.isEmpty) None else Some(versions.maxBy(_._1))
  }

  /** Latest `_SUCCESS`-complete ledger snapshot version, if any. */
  private def readLatestLedger(spark: SparkSession, root: String): Option[DataFrame] =
    latestVersion(spark, root).map { case (_, d) =>
      spark.read.schema(LedgerSchema).parquet(d.toString)
    }

  /** The newest snapshot's rows: the held copy while it is that version,
    * else one read of the snapshot, held from then on. */
  private def snapshotRows(spark: SparkSession, state: LiveState, root: String,
                           schema: StructType): Option[Array[Row]] =
    latestVersion(spark, root) match {
      case None =>
        state.held.remove(root)
        None
      case Some((v, dir)) =>
        state.held.get(root).collect { case (hv, rows) if hv == v => rows }.orElse {
          val rows = spark.read.schema(schema).parquet(dir.toString).collect()
          state.held(root) = (v, rows)
          Some(rows)
        }
    }

  /** Persist the state rows of checkpointed fold output `folded` as
    * snapshot version `v<id>` (idempotent under batch replay via
    * overwrite), then GC strictly older versions — the latest complete
    * version is always authoritative, so a kill anywhere here leaves a
    * readable lineage — and hold `rows`, the same state, as that version. */
  private def advanceSnapshot(spark: SparkSession, state: LiveState, root: String,
                              id: Long, schema: StructType, folded: DataFrame,
                              rows: Array[Row]): Unit = {
    folded.filter(col("is_state")).select(schema.fieldNames.map(col).toSeq: _*)
      .write.mode("overwrite").parquet(s"$root/v$id")
    state.held(root) = (id, rows)
    val p = new Path(root)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(p).filter(_.isDirectory).map(_.getPath)
      .foreach { d =>
        scala.util.Try(d.getName.stripPrefix("v").toLong).toOption
          .filter(_ < id).foreach(_ => fs.delete(d, true))
      }
  }
}
