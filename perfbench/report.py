#!/usr/bin/env python3
"""Print every metric of every workload, with units, sample counts and
output checks: one untraced and one traced run per workload.

    python3 perfbench/report.py [--seed 1] [--seconds 15]

The tracing overhead is printed twice: inside the traced run (its traced
passes against its own untraced passes, in ABBA order) and across the two
runs (traced-run traced throughput minus untraced-run throughput).
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import run as bench  # noqa: E402


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    a = ap.parse_args()
    ok = True
    for w in bench.WORKLOADS:
        result = {}
        for trace in (0, 1):
            r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                                "--seed", str(a.seed), "--seconds", str(a.seconds),
                                "--trace", str(trace)], capture_output=True, text=True)
            lines = r.stdout.strip().splitlines()
            print("\n".join(lines[:-1]))
            if r.returncode != 0 or not lines:
                print(r.stderr[-3000:])
                print(f"# {w} trace={trace}: FAILED (exit {r.returncode})")
                ok = False
                continue
            result[trace] = json.loads(lines[-1])
            ok = ok and result[trace]["correct"]
            print(f"# {w} trace={trace}: correct={result[trace]['correct']} "
                  f"attempted={result[trace]['attempted']} failed={result[trace]['failed']}\n")
        if len(result) == 2:
            untraced = result[0]["metrics"]["throughput_ops_s"]["value"]
            traced = result[1]["metrics"]["trace.throughput_ops_s"]["value"]
            print(f"# {w} tracing overhead across runs: {traced - untraced:+.4g} ops/s "
                  f"(traced {traced:.4g} - untraced {untraced:.4g})\n")
    print(f"# all output checks {'passed' if ok else 'FAILED'}")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
