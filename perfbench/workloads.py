"""Workload specifications: input sizes, generated inputs and output checks.

Why each workload (see README.md for the metrics each one moves):
- spine_batch: the reference's transform flow as one batch job over a dense
  tick history; it loads the trading operators and the parquet sources, and
  runs no streaming or serving code.
- live_feed: the live deployment over a real socket; each micro-batch costs a
  roughly fixed number of Spark jobs over small data, so batch-operator
  speed-ups should not move it, and per-batch job cuts should.
- stream_gates: registered Structured Streaming gates to AvailableNow
  completion on small inputs, where the fixed cost of each micro-batch
  (planning, WAL, offset and state-store commits, query start and stop)
  dominates.
- stream_gate: one of those gates, t26_sketch_stream, which the regression
  check can afford: it runs the queries registry, the streaming layer
  (Streams.sketchStream), the functions layer (TopKByScore under
  Sketches.sourceSketch) and ledger compaction in the sources layer.
- corpus_release: the LLM corpus curation chain in batch, the only workload
  that runs the text operators' shuffles.
"""
import json
import os
from dataclasses import dataclass, field

import gen

E2E_UNITS = {"setup_s": "s", "result_s": "s", "catchup_s": "s",
             "fresh_p50_s": "s", "fresh_p99_s": "s", "edge_p50_s": "s",
             "batch_p50_s": "s", "mem_peak_mb": "MB", "ok_share": "ratio"}

# DuckDB twin of Spark's round(x, 6) on a double (HALF_UP on the shortest
# repr); see the oracle conventions in the engine's verify notes
SR = "round(({})::VARCHAR::DECIMAL(38,23), 6)::DOUBLE"


# workloads the regression check runs (BENCHMARK.json); corpus_release and
# stream_gates run the same way on request, see README.md
DRIVER_WORKLOADS = ["spine_batch", "live_feed", "stream_gate"]

MEASURES = ["wall_s", "jobs", "task_s", "gap_s", "shuffle_mb", "spill_mb", "rows_out"]
SPINE_SPANS = ["operators.Ticks.normalize", "operators.Flows.candleFlow",
               "operators.Indicators.indicatorFactsFused", "operators.Signals.strategy",
               "operators.Backtest.trades"]
CORPUS_SPANS = ["operators.CorpusPrep.clean", "operators.CorpusPrep.splitStats",
                "operators.TextAnalysis.stats"]
# processBatch's phase labels but "compact": no batch of the run reaches the
# pipeline's compaction interval, so that phase runs no job (README.md)
LIVE_PHASES = ["recover", "ingest-checkpoint", "publish", "watermarks", "tick-append",
               "candles", "grid", "signals", "trades", "trades-stopped"]
STREAM_DURATIONS = ["latestOffset", "getBatch", "queryPlanning", "addBatch",
                    "walCommit", "commitOffsets"]
STORES = ["ticks", "candles", "grid_facts", "signals", "trades"]


def layer_metrics(workload):
    """Per-layer metric names a traced run of `workload` measures."""
    if workload == "spine_batch":
        return [f"{s}.{m}" for s in SPINE_SPANS for m in MEASURES]
    if workload == "corpus_release":
        return [f"{s}.{m}" for s in CORPUS_SPANS for m in MEASURES] + \
            ["operators.CorpusPrep.clean.kept_share"]
    if workload == "live_feed":
        return [f"serving.LivePipeline.{p}.{m}" for p in LIVE_PHASES
                for m in ("jobs", "wall_s")] + \
            ["serving.LivePipeline.jobs_per_batch"] + \
            [f"streaming.live.{d}_ms" for d in STREAM_DURATIONS] + \
            [f"sources.store.{s}.{m}" for s in STORES for m in ("files", "mb")]
    if workload in ("stream_gates", "stream_gate"):
        # state-store measures only where a gate keeps state (t26 does not)
        state = ["streaming.state.commit_ms", "streaming.state.rows",
                 "streaming.state.mem_mb"] if workload == "stream_gates" else []
        return [f"streaming.{g}.{m}" for g in SPECS[workload].gates
                for m in ("wall_s", "batches")] + \
            [f"streaming.gates.{d}_ms" for d in
             ("queryPlanning", "addBatch", "walCommit", "commitOffsets")] + \
            state + ["streaming.gates.lifecycle_s"]
    raise ValueError(workload)


def printed_layer_metrics(workload):
    """A traced run prints every per-layer metric of the regression check's
    workloads (those of the other workloads read 0: that layer did not run)."""
    if workload in DRIVER_WORKLOADS:
        return [n for w in DRIVER_WORKLOADS for n in layer_metrics(w)]
    return layer_metrics(workload)


def layer_unit(name):
    m = name.rsplit(".", 1)[-1]
    if m.endswith("_s"):
        return "s"
    if m.endswith("_ms"):
        return "ms"
    if m.endswith("_mb") or m == "mb":
        return "MB"
    if m == "kept_share":
        return "ratio"
    return "count"


@dataclass(frozen=True)
class Check:
    """One output check: `sql` reads the run's tables (`{d}` is the checked
    pass directory) and must equal oracle `oracle` over the inputs."""
    name: str
    oracle: str
    sql: str


@dataclass
class Spec:
    name: str
    sizes: dict
    checks: list = field(default_factory=list)
    # cores left out of Spark's local[N], for the driver, the JIT compiler
    # and the collector. spine_batch is bound by the driver (its task time
    # is a fraction of a core): with two task threads on a 4-core host its
    # passes settled after about three, with three threads they were still
    # getting faster after ten, and with four some JVMs ran 25% slower than
    # others. corpus_release leaves one core. The streaming workloads are
    # dominated by per-job cost and measured steady on every core.
    spare_cores: int = 0
    # the registered gates a gate workload runs, in order
    gates: list = field(default_factory=list)


def _candles(tf):
    return (f"SELECT pair, epoch(time)::BIGINT AS time_s, open, high, low, close "
            f"FROM '{{d}}/candles/*.parquet' WHERE timeframe = '{tf}'")


def _signals(kind):
    return (f"SELECT pair, epoch(event_datetime)::BIGINT AS time_s, event_type, "
            f"{SR.format('price')} AS price, trigger_indicator_period AS period "
            f"FROM '{{d}}/signals/*.parquet' WHERE event_type = '{kind}'")


SPINE_CHECKS = [
    Check("ticks", "s2_tick_dedup",
          "SELECT pair, epoch(time)::BIGINT AS time_s, bid, ask "
          "FROM '{d}/ticks/*.parquet'"),
    Check("candles_1m", "a1_ohlc_1m", _candles("1m")),
    Check("candles_5m", "a2_ohlc_5m", _candles("5m")),
    Check("candles_30m", "a2_ohlc_30m", _candles("30m")),
    Check("candles_1h", "a2_ohlc_1h", _candles("1h")),
    Check("candles_4h", "a2_ohlc_4h", _candles("4h")),
    Check("grid", "f3c_indicator_grid_full",
          "SELECT indicator, pair, timeframe, epoch(time)::BIGINT AS time_s, period, "
          f"{SR.format('value')} AS value FROM '{{d}}/grid/*.parquet'"),
    Check("signals_buy", "w1_golden_cross", _signals("BUY")),
    Check("signals_sell", "w1_dead_cross", _signals("SELL")),
    Check("trades", "f6b_trades",
          "SELECT pair, trade_no, epoch(entry_time)::BIGINT AS entry_s, "
          f"{SR.format('entry_price')} AS entry_price, "
          "epoch(exit_time)::BIGINT AS exit_s, "
          f"{SR.format('exit_price')} AS exit_price, {SR.format('pnl')} AS pnl "
          "FROM '{d}/trades/*.parquet'"),
]

GATES = ["t2_ohlc_stream", "t8_ema_stream", "t11_dedup_bounded",
         "t13_twstate_drawdown", "t29_grid_stream", "t4_relay_sink",
         "t25_ingest_stream", "t31_substr_stream"]
GATE_ONE = ["t26_sketch_stream"]

LIVE = ["e2e_live_pipeline", "e2e_live_signals", "e2e_live_trades",
        "e2e_live_trades_stopped"]

SPECS = {s.name: s for s in [
    Spec("spine_batch", dict(pairs=16, seconds=2 * 3600), SPINE_CHECKS, spare_cores=2),
    Spec("live_feed", dict(pairs=4, backlog_s=1200, tail=1000, rate=500),
         [Check(n, n, f"SELECT * FROM '{{d}}/check/{n}/*.parquet'") for n in LIVE]),
    Spec("stream_gates", dict(pairs=4, seconds=2500, docs=600),
         [Check(g, g, f"SELECT * FROM '{{d}}/{g}/*.parquet'") for g in GATES],
         gates=GATES),
    Spec("stream_gate", dict(pairs=4, seconds=2500, docs=600),
         [Check(g, g, f"SELECT * FROM '{{d}}/{g}/*.parquet'") for g in GATE_ONE],
         gates=GATE_ONE),
    Spec("corpus_release", dict(docs=3000),
         [Check("release", "llm_corpus_release",
                "SELECT * FROM '{d}/splits/*.parquet' "
                "UNION ALL SELECT * FROM '{d}/removed/*.parquet'")], spare_cores=1),
]}


def inputs(spec, seed, seconds, work):
    """Generate (or reuse) the inputs of (workload, seed, size). Returns the
    data directory, the input properties and the planted ground truth."""
    sz = dict(spec.sizes)
    key = "-".join(f"{k}{v}" for k, v in sorted(sz.items()))
    d = os.path.join(work, "data", f"{spec.name}-{seed}-{key}")
    meta = os.path.join(d, "meta.json")
    if os.path.isfile(meta):
        with open(meta) as f:
            m = json.load(f)
        return d, m["props"], m["truth"]
    os.makedirs(d, exist_ok=True)
    truth = {}
    if spec.name == "spine_batch":
        props = gen.write_events(os.path.join(d, "events.parquet"), seed,
                                 sz["pairs"], sz["seconds"])
    elif spec.gates:
        props = gen.write_events(os.path.join(d, "events.parquet"), seed,
                                 sz["pairs"], sz["seconds"])
        dp, _ = gen.write_documents(os.path.join(d, "documents.parquet"),
                                    seed, sz["docs"])
        props.update(dp)
    elif spec.name == "corpus_release":
        props, losers = gen.write_documents(os.path.join(d, "documents.parquet"),
                                            seed, sz["docs"])
        truth["near_dup_losers"] = losers
    elif spec.name == "live_feed":
        props = live_inputs(d, seed, sz)
    else:
        raise ValueError(spec.name)
    gen.save_json(meta, {"props": props, "truth": truth})
    return d, props, truth


def live_inputs(d, seed, sz):
    """Backlog then tail as one time-ordered tick sequence: the backlog is
    `backlog_s` seconds of history per pair and drains in one micro-batch,
    the tail continues it for `tail` messages sent at `rate` per second
    (the tail has to be sent within one trigger interval, see Live.scala).
    The events table holds the same ticks for the oracle."""
    pairs = sz["pairs"]
    # enough seconds for the backlog plus the tail (1.155 messages per
    # pair-second: 15% extra ticks, 0.5% invalid)
    secs = sz["backlog_s"] + int(sz["tail"] / (pairs * 1.155)) + 60
    names, pid, us, bid, msgs, props = gen.wire_messages(seed, pairs, secs, gen.START_S)
    cut_us = (gen.START_S + sz["backlog_s"]) * 1_000_000
    backlog = int((us < cut_us).sum())
    n = min(len(msgs), backlog + sz["tail"])
    gen.write_ticks_as_events(os.path.join(d, "events.parquet"),
                              names, pid[:n], us[:n], bid[:n])
    with open(os.path.join(d, "wire.txt"), "w") as f:
        f.write("\n".join(msgs[:n]) + "\n")
    gen.save_json(os.path.join(d, "live.json"), {
        "backlog": backlog, "per_batch": backlog, "rate": sz["rate"]})
    props.update(rows=n, backlog=backlog, tail=n - backlog, rate_per_s=sz["rate"])
    return props
