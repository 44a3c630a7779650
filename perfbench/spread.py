#!/usr/bin/env python3
"""Run the benchmark on several seeds and report each metric's median and
spread (interquartile range as a share of the median), the way a regression
check reads them.

    python3 perfbench/spread.py --workload spine_batch --seeds 1-10 --seconds 18 \
        [--out perfbench/baseline/spine_batch.jsonl]

Each run's last stdout line (the result JSON) is appended to `--out`, with
the seed, the run's wall time and the host load, so the record can be read
again later.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec):
    out = []
    for part in spec.split(","):
        a, _, b = part.partition("-")
        out += list(range(int(a), int(b or a) + 1))
    return out


def spread(values):
    if len(values) < 2:
        return float("nan")
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else float("inf")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True)
    ap.add_argument("--seconds", type=int, default=18)
    ap.add_argument("--out")
    a = ap.parse_args()
    rows = []
    for s in seeds(a.seeds):
        cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
               "--seed", str(s), "--seconds", str(a.seconds), "--trace", "0"]
        load = os.getloadavg()[0]
        t0 = time.time()
        p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
        wall = time.time() - t0
        lines = p.stdout.strip().splitlines()
        try:
            res = json.loads(lines[-1])
        except (IndexError, ValueError):
            sys.stderr.write(p.stdout[-2000:] + p.stderr[-2000:])
            raise SystemExit(f"seed {s}: no result (exit {p.returncode})")
        rec = {"workload": a.workload, "seed": s, "exit": p.returncode,
               "run_wall_s": round(wall, 1), "load1_before": load,
               "details": [l for l in lines[:-1] if l.startswith(("run:", "inputs", "e2e"))],
               "result": res}
        rows.append(rec)
        if a.out:
            with open(a.out, "a") as f:
                f.write(json.dumps(rec) + "\n")
        print(f"seed {s}: exit {p.returncode} wall {wall:.1f}s correct={res['correct']} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in sorted(res["metrics"].items())
                         if v["value"] is not None),
              flush=True)
    names = sorted({k for r in rows for k in r["result"]["metrics"]})
    print(f"{'metric':48s} {'median':>12s} {'iqr/median':>10s}")
    for k in names:
        vals = [r["result"]["metrics"][k]["value"] for r in rows
                if r["result"]["metrics"].get(k, {}).get("value") is not None]
        if vals:
            print(f"{k:48s} {statistics.median(vals):12.5g} {spread(vals):10.3f}")
    print(f"run wall: median {statistics.median([r['run_wall_s'] for r in rows]):.1f}s, "
          f"total {sum(r['run_wall_s'] for r in rows):.0f}s")


if __name__ == "__main__":
    main()
