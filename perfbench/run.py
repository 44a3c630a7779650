#!/usr/bin/env python3
"""Benchmark runner for the graft trading ETL engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the benchmark (perfbench/build.sbt, which
compiles the engine from the checkout's sources) when its inputs changed,
generates the workload's inputs from the seed, runs the workload in one JVM
for `--seconds` of timed passes after an untimed set-up, checks the outputs
against the engine's DuckDB oracles, and prints one JSON line last:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are the end-to-end metrics of BENCHMARK.json;
with `--trace 1` they are the per-layer metrics of the workload (and the
trace is written to the run directory). Exits non-zero when an output check
fails or the run cannot be made.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

import oracle  # noqa: E402
import workloads  # noqa: E402


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every input of the build, so an edit anywhere rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "project", "build.properties"),
             os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile with sbt when the sources changed; returns the classpath."""
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit("perfbench: the engine sources are not in this checkout")
    os.makedirs(WORK, exist_ok=True)
    stamp_file = os.path.join(WORK, "build.stamp")
    cp_file = os.path.join(WORK, "classpath.txt")
    stamp = source_stamp()
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file) and \
            open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    log("building (sbt compile)")
    env = dict(os.environ)
    # the engine build makes a scratch directory when it loads; keep it here
    env["SPARK_GRAFT_TMPDIR"] = os.path.join(WORK, "sbt-tmp")
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
         "export perfbench/Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=840)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.1f}s")
    return cp


JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def heap_gb():
    with open("/proc/meminfo") as f:
        kb = int(next(l for l in f if l.startswith("MemTotal:")).split()[1])
    return max(2, min(3, kb // (1024 * 1024) // 4))


def dir_bytes(path):
    total = 0
    for d, _, fs in os.walk(path):
        for f in fs:
            try:
                total += os.lstat(os.path.join(d, f)).st_size
            except OSError:
                pass
    return total


def run_jvm(cp, spec, data, run_dir, seconds, trace, cores):
    tmp = os.path.join(run_dir, "tmp")
    out = os.path.join(run_dir, "out")
    os.makedirs(tmp)
    os.makedirs(out)
    heap = heap_gb()
    # a fixed-size heap, so collections, and the heap the memory metric
    # reads after them, do not depend on when the collector grew the heap
    cmd = ["java", f"-Xms{heap}g", f"-Xmx{heap}g", f"-Djava.io.tmpdir={tmp}",
           "-Duser.timezone=UTC", "-Dspark.ui.enabled=false"]
    for o in JDK_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    launched = int(time.time() * 1000)
    cmd += ["-cp", cp, "perfbench.Main", "--workload", spec.name,
            "--data", data, "--out", out, "--seconds", str(seconds),
            "--trace", "1" if trace else "0", "--launched-ms", str(launched),
            "--cores", str(cores), "--master", f"local[{cores}]",
            "--oracles", ",".join(sorted({c.oracle for c in spec.checks})),
            "--gates", ",".join(spec.gates) or "-"]
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=165)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = -9
    res_path = os.path.join(out, "result.json")
    if rc != 0 or not os.path.isfile(res_path):
        with open(log_path) as lf:
            tail = [l for l in lf.read().splitlines()
                    if "perfbench" in l or "Exception" in l or "Error" in l][-30:]
        sys.stderr.write("\n".join(tail) + "\n")
        raise SystemExit(f"perfbench: the {spec.name} run failed (exit {rc})")
    with open(res_path) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.SPECS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--cores", type=int,
                    help="local[N] Spark threads (default: the workload's, see workloads.py)")
    a = ap.parse_args()
    spec = workloads.SPECS[a.workload]
    cores = a.cores or max(1, os.cpu_count() - spec.spare_cores)

    cp = build()
    data, props, truth = workloads.inputs(spec, a.seed, a.seconds, WORK)
    print(f"inputs {spec.name} seed={a.seed}: " + json.dumps(props), flush=True)

    run_dir = os.path.join(WORK, f"run-{spec.name}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        res = run_jvm(cp, spec, data, run_dir, a.seconds, a.trace == 1, cores)
        checks = oracle.check(spec, res, data, truth, a.seed, WORK)
        scratch_used = dir_bytes(os.path.join(run_dir, "tmp"))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    scratch_left = dir_bytes(run_dir) if os.path.exists(run_dir) else 0

    failed_checks = [c for c in checks if not c["ok"]]
    for c in checks:
        print(f"check {c['name']}: {'ok' if c['ok'] else 'FAIL'} "
              f"rows={c['rows']} oracle_rows={c['oracle_rows']} ({c['oracle']}; "
              f"oracle {c['oracle_s']}s, digest {c['check_s']}s)")
    attempted = int(res["attempted"]) + len(checks)
    failed = int(res["failed"]) + len(failed_checks) + (1 if scratch_left else 0)
    print("run: " + json.dumps({
        "passes": res["passes"], "pass_wall_s": res["pass_wall_s"],
        "notes": res["notes"], "scratch_used_bytes": scratch_used,
        "scratch_left_bytes": scratch_left, "cores": cores,
        "loadavg": os.getloadavg()}), flush=True)
    if a.trace:
        print("e2e (traced): " + json.dumps(res["e2e"]))
        print("pass_counts: " + json.dumps(res["pass_counts"]))
        print("spans: " + json.dumps(res["spans"]))
        print("counts: " + json.dumps(res["counts"]))
        own = set(workloads.layer_metrics(spec.name))
        metrics = {k: {"value": res["layer"].get(k) if k in own else 0.0,
                       "unit": workloads.layer_unit(k)}
                   for k in workloads.printed_layer_metrics(spec.name)}
    else:
        metrics = {k: {"value": v, "unit": workloads.E2E_UNITS[k]}
                   for k, v in res["e2e"].items()}
        metrics["ok_share"] = {"value": 1.0 - failed / attempted, "unit": "ratio"}
    missing = [k for k, v in metrics.items() if v["value"] is None]
    correct = not failed and not missing
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}), flush=True)
    if not correct:
        sys.exit(1)


if __name__ == "__main__":
    main()
