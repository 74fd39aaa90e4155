#!/usr/bin/env python3
"""Self-tests of the benchmark's own code: `python3 perfbench/selftest.py`.

1. graftbench.SelfTest (JVM, no Spark): corpus checksums per seed, the
   parquet files the generator writes, the oracle draw, planted's giant
   clusters, distinct's pair and hard-negative shares, span self time.
2. BENCHMARK.json follows its schema.
3. Two one-second runs of `planted` (--trace 0 and --trace 1) print exactly
   the metric names and units of BENCHMARK.json, with a correct verdict.
4. In a directory that holds only BENCHMARK.json and perfbench/, the
   benchmark exits non-zero without printing a result.
"""
import json
import re
import shutil
import subprocess
import sys
import tempfile
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import build  # noqa: E402
import run  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def check_spec():
    spec = json.loads((build.ROOT / "BENCHMARK.json").read_text())
    assert set(spec) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert [w["name"] for w in spec["workloads"]] == run.WORKLOADS
    assert all(set(w) == {"name", "why"} and len(w["why"]) <= 200 for w in spec["workloads"])
    names = [m["name"] for k in ("end_to_end", "per_layer") for m in spec[k]]
    assert len(names) == len(set(names)), "metric names are unique"
    for m in spec["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"} and 0 < m["bound"] <= 0.25, m
    for m in spec["per_layer"]:
        assert set(m) == {"name", "unit", "better"}, m
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert NAME.match(m["name"]) and UNIT.match(m["unit"]), m
        assert m["better"] in ("higher", "lower"), m
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])


def short_run(trace):
    cmd = [sys.executable, str(HERE / "run.py"), "--workload", "planted", "--seed", "5",
           "--seconds", "1", "--trace", str(trace)]
    r = subprocess.run(cmd, cwd=build.ROOT, capture_output=True, text=True, timeout=300)
    assert r.returncode == 0, r.stderr[-3000:]
    res = json.loads(r.stdout.splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    run.check_metrics(res["metrics"], trace)


def bare_checkout_fails():
    with tempfile.TemporaryDirectory(dir=build.BUILD) as d:
        shutil.copy(build.ROOT / "BENCHMARK.json", d)
        shutil.copytree(HERE, Path(d) / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
        r = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "planted",
                            "--seed", "1", "--seconds", "1", "--trace", "0"],
                           cwd=d, capture_output=True, text=True, timeout=180)
        assert r.returncode != 0 and '"metrics"' not in r.stdout, r.stdout


def main():
    classes = build.build()
    subprocess.run(run.java_cmd(classes, build.BUILD, "graftbench.SelfTest", []), check=True)
    check_spec()
    print("BENCHMARK.json schema OK")
    for trace in (0, 1):
        short_run(trace)
        print(f"short run --trace {trace}: metric names and units match BENCHMARK.json")
    bare_checkout_fails()
    print("bare checkout: exits non-zero without a result")


if __name__ == "__main__":
    main()
