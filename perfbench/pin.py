#!/usr/bin/env python3
"""Pin the benchmark's expected outputs against DuckDB.

    python3 perfbench/pin.py

1. Probes every Core oracle SQL text (SparkEntry.oracleSql) through Spark
   and keeps, for sql_adhoc, the statements Spark runs unchanged whose
   full result equals DuckDB's on the same parquet: sql_adhoc.json.
2. Runs every pipeline_batch operator and compares its full result with
   its DuckDB oracle.
3. Writes expected.json: the sha256 of each input file and the result
   hash of every statement and operator, as the benchmark computes it.

The comparison with DuckDB is the repo's own, tools/compare_oracle.py.

Refuses to pin an operator whose result does not match its oracle. Run it
only when the inputs or the workload definitions change.
"""
import hashlib
import json
import os
import re
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run as bench  # noqa: E402

TPCH = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem"]
COMPARE = os.path.join(bench.ROOT, "tools", "compare_oracle.py")


def compare(out, dumped):
    """Compare each dumped result (parquet under out/<name>/) with DuckDB's
    result of its SQL; returns {name: None if equal, else the reason}."""
    sqls = {n: r["sql"] for n, r in dumped.items() if "error" not in r and r["sql"]}
    with open(os.path.join(out, "oracle_sql.json"), "w") as fh:
        json.dump(sqls, fh)
    report = os.path.join(out, "compare.json")
    subprocess.run([sys.executable, COMPARE, bench.DATA, out, "--json", report],
                   stdout=subprocess.DEVNULL, check=False)
    with open(report) as fh:
        rep = json.load(fh)
    return {n: None if rep[n]["hash_match"] else rep[n]["err"] for n in sqls}


def dump(cp, workload, extra):
    out = os.path.join(bench.WORK, "pin", workload)
    work = os.path.join(bench.WORK, "pin", workload + "-work")
    os.makedirs(out, exist_ok=True)
    bench.run_jvm(cp, ["--mode", "dump", "--workload", workload, "--data", bench.DATA,
                       "--work", work, "--out", out] + extra, f"pin-{workload}", 900)
    with open(os.path.join(out, "dump.json")) as fh:
        return out, json.load(fh)


def main():
    os.makedirs(bench.WORK, exist_ok=True)
    cp = bench.build()
    expected = {"data": {}}
    for f in sorted(os.listdir(bench.DATA)):
        with open(os.path.join(bench.DATA, f), "rb") as fh:
            expected["data"][f] = hashlib.sha256(fh.read()).hexdigest()

    out, probe = dump(cp, "sql_adhoc", [])
    diff = compare(out, probe)
    stmts, pins = {}, {}
    for name, r in sorted(probe.items()):
        if "error" in r:
            print(f"sql_adhoc: skip {name}: spark: {r['error'][:120]}")
            continue
        why = diff[name]
        if why:
            print(f"sql_adhoc: skip {name}: {why}")
            continue
        stmts[name], pins[name] = r["sql"], r["hash"]
    used = [t for t in TPCH if any(re.search(rf"\b{t}\b", s) for s in stmts.values())]
    print(f"sql_adhoc: {len(stmts)} of {len(probe)} statements kept; tables {used}")
    with open(os.path.join(bench.HERE, "sql_adhoc.json"), "w") as fh:
        json.dump({"tables": used, "statements": stmts}, fh, indent=1, sort_keys=True)
        fh.write("\n")
    expected["sql_adhoc"] = pins

    out, ops = dump(cp, "pipeline_batch", ["--ops", ",".join(bench.PIPELINE_OPS)])
    diff = compare(out, ops)
    expected["pipeline_batch"] = {}
    for name, r in sorted(ops.items()):
        why = r.get("error") or (not r["sql"] and "no oracle") or diff[name]
        if why:
            sys.exit(f"pipeline_batch: {name} does not match its oracle: {why}")
        expected["pipeline_batch"][name] = r["hash"]
        print(f"pipeline_batch: {name} matches its oracle ({r['hash']})")

    with open(os.path.join(bench.HERE, "expected.json"), "w") as fh:
        json.dump(expected, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print("wrote sql_adhoc.json and expected.json")


if __name__ == "__main__":
    main()
