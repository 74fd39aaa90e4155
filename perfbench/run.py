#!/usr/bin/env python3
"""Dedup benchmark: one workload, one seed, one JVM.

    python3 perfbench/run.py --workload planted --seed 1 --seconds 8 --trace 0

Builds the program from source (perfbench/build.py), writes the workload's
corpus for the seed (and the brute-force oracle's labels for the oracle
draw) with `graftbench.Generate` in a JVM of its own, then runs
`graftbench.Main` on it in a fresh JVM with a fixed environment:
local[<cores>], a 3 GiB heap, and Spark's scratch space inside
.bench_build/work. The last stdout line is the result:

    {"correct": true, "attempted": 14, "failed": 0, "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones of BENCHMARK.json, with
--trace 1 the per-layer ones; any other set of names is an error. A failed
correctness check prints the result with "correct": false and exits 1.
`--workload all` runs every workload in turn and prints one result line per
workload, each with a "workload" key.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

ROOT = build.ROOT
WORKLOADS = ["planted", "distinct"]
HEAP = "3g"
TIMEOUT_S = 170
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def expected_metrics(trace):
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def check_metrics(metrics, trace):
    """Names and units printed must be exactly those BENCHMARK.json declares."""
    want = expected_metrics(trace)
    got = {k: v["unit"] for k, v in metrics.items()}
    if got != want:
        missing = sorted(set(want) - set(got))
        extra = sorted(set(got) - set(want))
        units = sorted(k for k in set(want) & set(got) if want[k] != got[k])
        raise SystemExit(f"metrics do not match BENCHMARK.json: missing={missing} "
                         f"extra={extra} unit-mismatch={units}")


def java_cmd(classes, tmp, main, args):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    log4j = ROOT / "perfbench" / "log4j2.properties"
    # the benchmark's heap is touched once at JVM start (inside setup_s), so
    # no timed run pays page faults on fresh heap, which would count as the
    # faulting task's CPU time
    touch = ["-XX:+AlwaysPreTouch"] if main == "graftbench.Main" else []
    return ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", *touch, "-XX:+UseParallelGC", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}", *opens,
            f"-Dlog4j2.configurationFile={log4j}",
            "-cp", build.classpath([classes]), main, *args]


def java(classes, work, main, args, timeout):
    """Run one JVM to its end; returns (stdout, exit code)."""
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(work / "spark-local"))
    proc = subprocess.Popen(java_cmd(classes, work / "tmp", main, args), stdout=subprocess.PIPE,
                            stderr=sys.stderr, text=True, cwd=ROOT, env=env)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise SystemExit(f"{main} did not finish within {timeout:.0f} s")
    return out, proc.returncode


def run_one(workload, seed, seconds, trace):
    """One workload: the corpus, then the benchmark in a fresh JVM.
    Returns (result dict, JVM exit code)."""
    classes = build.build()
    t0 = time.monotonic()
    work = build.BUILD / "work" / f"{workload}-{seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    input_dir = work / "input"
    oracle = work / "oracle.txt"
    try:
        _, rc = java(classes, work, "graftbench.Generate",
                     ["--workload", workload, "--seed", str(seed), "--out", str(input_dir),
                      "--oracle", str(oracle)], TIMEOUT_S)
        if rc != 0:
            raise SystemExit(f"corpus generator exited {rc}")
        print(f"[run.py] corpus written in {time.monotonic() - t0:.1f} s", file=sys.stderr)
        out, rc = java(classes, work, "graftbench.Main",
                       ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
                        "--trace", str(trace), "--work", str(work), "--input", str(input_dir),
                        "--oracle", str(oracle)],
                       TIMEOUT_S - (time.monotonic() - t0))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    lines = out.splitlines()
    result = next((ln[len("BENCH_RESULT "):] for ln in reversed(lines)
                   if ln.startswith("BENCH_RESULT ")), None)
    if result is None:
        raise SystemExit(f"benchmark JVM exited {rc} without a result")
    res = json.loads(result)
    for ln in lines:
        if ln.startswith("BENCH_SPANS "):
            print(json.dumps({"workload": workload, "spans": json.loads(ln[len("BENCH_SPANS "):])}))
    if res["correct"]:
        check_metrics(res["metrics"], trace)
    return res, rc


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"],
                    help="one workload, or all of them one after another")
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=[0, 1])
    a = ap.parse_args()

    ok = True
    for w in WORKLOADS if a.workload == "all" else [a.workload]:
        res, rc = run_one(w, a.seed, a.seconds, a.trace)
        ok = ok and res["correct"] and rc == 0
        print(json.dumps(dict(workload=w, **res) if a.workload == "all" else res))
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
