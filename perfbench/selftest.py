#!/usr/bin/env python3
"""Self-tests for the benchmark.

    python3 perfbench/selftest.py

1. BENCHMARK.json names exactly the metrics run.py emits, with the same units.
2. A tiny run of each workload, untraced and traced, emits every named
   metric with a finite value, and its output checks pass.
3. A run against an expected-hash file with one hash altered reports
   correct=false.
4. In a directory holding only BENCHMARK.json and perfbench/, the
   benchmark exits non-zero without printing a result.
"""
import json
import math
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import run as bench  # noqa: E402

failures = []


def expect(ok, what):
    print(("ok   " if ok else "FAIL ") + what, flush=True)
    if not ok:
        failures.append(what)


def run(workload, trace, *extra, cwd=ROOT, script=None):
    r = subprocess.run([sys.executable, script or os.path.join(HERE, "run.py"),
                        "--workload", workload, "--seed", "7", "--seconds", "1",
                        "--trace", str(trace), *extra], cwd=cwd, capture_output=True, text=True)
    lines = r.stdout.strip().splitlines()
    try:
        return r.returncode, json.loads(lines[-1]) if lines else None, r
    except json.JSONDecodeError:
        return r.returncode, None, r


def test_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    expect({m["name"]: m["unit"] for m in spec["end_to_end"]} == bench.END_TO_END,
           "BENCHMARK.json end_to_end matches run.py")
    expect({m["name"]: m["unit"] for m in spec["per_layer"]} == bench.PER_LAYER,
           "BENCHMARK.json per_layer matches run.py")
    expect([w["name"] for w in spec["workloads"]] == list(bench.WORKLOADS),
           "BENCHMARK.json workloads match run.py")


def test_smoke():
    for w in bench.WORKLOADS:
        for trace, names in ((0, bench.END_TO_END), (1, bench.PER_LAYER)):
            rc, res, r = run(w, trace)
            ok = rc == 0 and res is not None and res["correct"] and res["failed"] == 0 \
                and set(res["metrics"]) == set(names) \
                and all(isinstance(m["value"], (int, float)) and math.isfinite(m["value"])
                        and m["unit"] == names[k] for k, m in res["metrics"].items())
            expect(ok, f"smoke {w} trace={trace} emits every metric, checks pass")
            if not ok:
                print(r.stdout[-2000:], r.stderr[-2000:])


def test_wrong_hash_fails():
    with open(os.path.join(HERE, "expected.json")) as fh:
        expected = json.load(fh)
    name = sorted(expected["pipeline_batch"])[0]
    expected["pipeline_batch"][name] = "0:000000000000000000000000"
    os.makedirs(bench.WORK, exist_ok=True)
    bad = os.path.join(bench.WORK, "expected-wrong.json")
    with open(bad, "w") as fh:
        json.dump(expected, fh)
    rc, res, _ = run("pipeline_batch", 0, "--expected", bad)
    expect(res is not None and res["correct"] is False and res["failed"] >= 1,
           f"a wrong pinned hash for {name} makes the run incorrect")


def test_bare_directory_fails():
    with tempfile.TemporaryDirectory(dir=bench.WORK) as d:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
        shutil.copytree(HERE, os.path.join(d, "perfbench"),
                        ignore=shutil.ignore_patterns(".work", "target"))
        rc, res, r = run("sql_adhoc", 0, cwd=d, script=os.path.join(d, "perfbench", "run.py"))
        expect(rc != 0 and res is None and "{" not in r.stdout,
               "without the program's sources the benchmark exits non-zero, no result")


if __name__ == "__main__":
    test_benchmark_json()
    test_bare_directory_fails()
    test_wrong_hash_fails()
    test_smoke()
    print(f"{len(failures)} failed" if failures else "all passed")
    sys.exit(1 if failures else 0)
