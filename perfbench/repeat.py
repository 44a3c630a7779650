#!/usr/bin/env python3
"""Exact-repeat check of the host-independent counts.

    python3 perfbench/repeat.py --workload spine_batch --seed 1 [--seconds 10]

Runs the traced benchmark twice on the same seed and requires every span's
jobs, stages and shuffle bytes to be identical in every timed pass of both
runs, so a change in plan shape shows through wall-time drift. On live_feed
the batch boundaries follow the clock, so the jobs of each micro-batch are
reported instead of compared. Exits non-zero on a mismatch.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def traced(workload, seed, seconds):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "1"],
                       stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    out = {}
    for line in p.stdout.splitlines():
        for key in ("pass_counts", "run"):
            if line.startswith(key + ": "):
                out[key] = json.loads(line[len(key) + 2:])
    if "pass_counts" not in out:
        sys.stderr.write(p.stdout[-2000:] + p.stderr[-2000:])
        raise SystemExit(f"{workload}: traced run failed (exit {p.returncode})")
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    a = ap.parse_args()
    runs = [traced(a.workload, a.seed, a.seconds) for _ in range(2)]
    if a.workload == "live_feed":
        for i, r in enumerate(runs):
            print(f"run {i + 1}: jobs per micro-batch "
                  f"{r['run']['notes'].get('jobs_per_batch_by_batch')}")
        return
    passes = [p for r in runs for p in r["pass_counts"]]
    ref = passes[0]
    bad = [(i, k) for i, p in enumerate(passes) for k in sorted(set(p) | set(ref))
           if k != "-" and p.get(k) != ref.get(k)]
    for k in sorted(ref):
        if k != "-":
            print(f"{k:48s} {json.dumps(ref[k])}")
    print(f"{len(passes)} timed passes over 2 runs; "
          + ("all counts identical" if not bad else f"MISMATCH in {bad[:5]}"))
    if bad:
        for i, k in bad[:5]:
            print(f"  pass {i} {k}: {passes[i].get(k)} vs {ref.get(k)}")
        sys.exit(1)


if __name__ == "__main__":
    main()
