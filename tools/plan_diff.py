#!/usr/bin/env python3
"""Diff two directories of `Diag explain --out` dumps (one `<query>.txt`
per query, `explain formatted` text).

Usage: python3 tools/plan_diff.py <before_dir> <after_dir>

Each plan is normalised before comparison, so that two runs of the same
code compare equal: expression ids (`#123`), `plan_id=` values, RDD ids,
`File.scala:123` source positions, lambda variable names, JVM lambda
class names (`Foo$$$Lambda$123/0x...@1a2b`) and temporary paths (process
ids, nonces) are replaced by placeholders. For every
query whose normalised plan differs, one line gives the before → after
count of Exchange, Sort, Window and BroadcastNestedLoopJoin operators,
read from the numbered operator headers of the dump. Queries present on
one side only are listed too. The last line reads
`changed plans: N of M`. Exit code 0 on success, 2 on bad arguments.
"""
import os
import re
import sys

OPS = ("Exchange", "Sort", "Window", "BroadcastNestedLoopJoin")

_RULES = [
    (re.compile(r"(?:file:)?/tmp/[^\s,\]\)]*"), "<tmp>"),
    (re.compile(r"\b\w+\.scala:\d+"), "<src>"),
    (re.compile(r"\blambda \w+#\d+L?"), "lambda <v>"),
    (re.compile(r"\$\$Lambda[$\w/]*@[0-9a-f]+"), "$$Lambda<fn>"),
    (re.compile(r"#\d+L?"), "#<id>"),
    (re.compile(r"plan_id=\d+"), "plan_id=<id>"),
    (re.compile(r"RDD\[\d+\]"), "RDD[<id>]"),
]
_HEADER = re.compile(r"^\(\d+\) (\S+)", re.M)


def normalise(text):
    for pat, rep in _RULES:
        text = pat.sub(rep, text)
    return text


def op_counts(text):
    names = _HEADER.findall(text)
    return {op: names.count(op) for op in OPS}


def load(d):
    return {f[:-4]: open(os.path.join(d, f), encoding="utf-8").read()
            for f in sorted(os.listdir(d)) if f.endswith(".txt")}


def main(argv):
    if len(argv) != 3 or not all(os.path.isdir(d) for d in argv[1:]):
        print("usage: python3 tools/plan_diff.py <before_dir> <after_dir>",
              file=sys.stderr)
        return 2
    before, after = load(argv[1]), load(argv[2])
    changed = 0
    for name in sorted(set(before) | set(after)):
        if name not in after:
            print(f"{name}: only in before")
            changed += 1
            continue
        if name not in before:
            print(f"{name}: only in after")
            changed += 1
            continue
        if normalise(before[name]) == normalise(after[name]):
            continue
        changed += 1
        b, a = op_counts(before[name]), op_counts(after[name])
        cells = [f"{op} {b[op]}->{a[op]} ({a[op] - b[op]:+d})" for op in OPS]
        print(f"{name}: " + ", ".join(cells))
    print(f"changed plans: {changed} of {len(set(before) | set(after))}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
