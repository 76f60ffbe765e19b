#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload sql_adhoc --seed 1 --seconds 10 --trace 0

Builds the program and the benchmark's Scala code from source (sbt, offline)
when the sources changed since the last build, runs one workload in one
JVM, checks every op's output against the hashes pinned from DuckDB in
expected.json, prints a report and, as the last stdout line, one JSON
object {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones, with --trace 1 the per-layer ones.
See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
DATA = os.path.join(HERE, "data", "sf0.01")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
PROGRAM_JVM_OPTS = os.path.join(ROOT, "tools", "jvm_opts.txt")

WORKLOADS = ("sql_adhoc", "pipeline_batch", "ingest_mixed")

# the LLM-data operators pipeline_batch calls, in a fixed first-op order
PIPELINE_OPS = ["dedup_minhash_lsh", "dedup_cluster", "dedup_simhash", "dedup_sorted_neighborhood",
                "sim_ann_ivf", "sim_ann_lsh", "sim_kmeans_step",
                "text_lm_surprisal", "text_bm25_topk", "text_gopher_rules",
                "events_cusum", "events_transitions",
                "multimodal_hist_topk", "multimodal_cdc_dedup"]

# name -> unit; mirrored by BENCHMARK.json
END_TO_END = {
    "setup_s": "s",
    "first_result_s": "s",
    "throughput_ops_s": "ops/s",
    "latency_ms.p50": "ms",
    "latency_ms.tail": "ms",
    "heap_live_mb": "MB",
}
# reported by the end-to-end run but not gated: workload-specific, zero
# when all is well, or (rss_peak_mb) too noisy for any bound allowed
END_TO_END_REPORT = {
    "rss_peak_mb": "MB",
    "latency_ms.tail_pct": "pct",
    "latency_ms.n": "count",
    "error_rate": "ratio",
    "commit_ms.p50": "ms", "commit_ms.tail": "ms", "commit_ms.tail_pct": "pct", "commit_ms.n": "count",
    "read_ms.p50": "ms", "read_ms.tail": "ms", "read_ms.tail_pct": "pct", "read_ms.n": "count",
    "space_amp": "ratio",
}
PER_LAYER = {
    "plan.analysis_ms": "ms",
    "plan.optimization_ms": "ms",
    "plan.planning_ms": "ms",
    "plan.exchanges": "count",
    "plan.sorts": "count",
    "plan.nested_loop_joins": "count",
    "codegen.compiles": "count",
    "codegen.compile_ms": "ms",
    "sched.jobs": "count",
    "sched.stages": "count",
    "sched.tasks": "count",
    "sched.task_delay_ms": "ms",
    "sched.driver_gap_ms": "ms",
    "exec.run_ms": "ms",
    "exec.cpu_ms": "ms",
    "shuffle.write_bytes": "bytes",
    "shuffle.read_bytes": "bytes",
    "spill.bytes": "bytes",
    "io.read_bytes": "bytes",
    "io.write_bytes": "bytes",
    "catalog.register_jobs": "count",
    "build.jobs": "count",
    "materialize.staged_bytes": "bytes",
    "snap.batches_live": "count",
    "snap.point_batches_read": "count",
    "snap.replays_skipped": "ratio",
    "snap.table_bytes": "bytes",
    "format.rows": "count",
    "unattributed_ms": "ms",
    "trace.throughput_ops_s": "ops/s",
    "trace.overhead_ops_s": "ops/s",
}
# added to the program's own flags (tools/jvm_opts.txt); the heap only
# has a cap, so rss_peak_mb grows with the program's heap use
BENCH_JVM_OPTS = ["-Xmx2g", "-XX:+UseG1GC", "-Dspark.ui.enabled=false"]
JVM_TIMEOUT_S = 170


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def fail(msg, code=1):
    log(f"perfbench: {msg}")
    sys.exit(code)


def tree_digest(paths):
    """sha256 over the relative path and bytes of every file under paths."""
    h = hashlib.sha256()
    for base in paths:
        if os.path.isfile(base):
            files = [base]
        else:
            files = sorted(os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile with sbt when the sources changed; return the classpath."""
    digest = tree_digest([PROGRAM_SRC, os.path.join(ROOT, "build.sbt"),
                          os.path.join(ROOT, "project", "build.properties"),
                          os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt"),
                          os.path.join(HERE, "project", "build.properties")])
    stamp = os.path.join(WORK, "build.json")
    if os.path.exists(stamp):
        with open(stamp) as fh:
            prev = json.load(fh)
        if prev.get("digest") == digest:
            return prev["classpath"]
    if shutil.which("sbt") is None:
        fail("sbt not found on PATH")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log("perfbench: building (sbt compile) ...")
    build_log = os.path.join(WORK, "build.log")
    with open(build_log, "w") as out:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=840)
    with open(build_log) as fh:
        lines = fh.read().splitlines()
    if r.returncode != 0:
        log("\n".join(lines[-40:]))
        fail(f"build failed (exit {r.returncode}); log: {build_log}")
    cp = next((l for l in reversed(lines) if ".jar" in l and not l.startswith("[")), None)
    if cp is None:
        fail(f"no classpath in the build output; log: {build_log}")
    with open(stamp, "w") as fh:
        json.dump({"digest": digest, "classpath": cp}, fh)
    return cp


def check_data(expected):
    for name, sha in sorted(expected["data"].items()):
        path = os.path.join(DATA, name)
        if not os.path.exists(path):
            fail(f"input {path} is missing")
        with open(path, "rb") as fh:
            if hashlib.sha256(fh.read()).hexdigest() != sha:
                fail(f"input {path} differs from the pinned bytes")


def jvm_opts():
    with open(PROGRAM_JVM_OPTS) as fh:
        return [l.strip() for l in fh if l.strip()] + BENCH_JVM_OPTS


def run_jvm(cp, args, tag, timeout=JVM_TIMEOUT_S):
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    os.makedirs(os.path.join(WORK, "logs"), exist_ok=True)
    jvm_log = os.path.join(WORK, "logs", f"{tag}.log")
    cmd = (["java"] + jvm_opts() + [f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
                                    "-cp", cp, "perfbench.Main"] + args)
    with open(jvm_log, "w") as out:
        p = subprocess.Popen(cmd, cwd=HERE, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"{tag}: JVM did not finish in time; log: {jvm_log}")
    if rc != 0:
        with open(jvm_log) as fh:
            log("\n".join(fh.read().splitlines()[-40:]))
        fail(f"{tag}: JVM exited with {rc}; log: {jvm_log}")


def workload_args(workload):
    if workload == "sql_adhoc":
        return ["--sql", os.path.join(HERE, "sql_adhoc.json")]
    if workload == "pipeline_batch":
        return ["--ops", ",".join(PIPELINE_OPS)]
    return []


def fmt(v):
    return "nan" if v is None else f"{v:.6g}"


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--expected", default=os.path.join(HERE, "expected.json"),
                    help="pinned output hashes (default perfbench/expected.json)")
    a = ap.parse_args(argv)

    if not (os.path.isdir(os.path.join(PROGRAM_SRC, "graft"))
            and os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isfile(PROGRAM_JVM_OPTS)):
        fail(f"the program's sources, build.sbt and tools/jvm_opts.txt are not found under {ROOT}",
             code=2)
    os.makedirs(WORK, exist_ok=True)
    with open(a.expected) as fh:
        expected = json.load(fh)
    check_data(expected)
    cp = build()

    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}-{os.getpid()}"
    run_dir = os.path.join(WORK, "runs", tag)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    out = os.path.join(WORK, "runs", f"{tag}.json")
    try:
        run_jvm(cp, ["--workload", a.workload, "--seed", str(a.seed),
                     "--seconds", str(a.seconds), "--trace", str(a.trace),
                     "--data", DATA, "--work", run_dir, "--out", out]
                + workload_args(a.workload), tag)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    with open(out) as fh:
        rec = json.load(fh)

    # output checks: every distinct op's result hash against the pinned one
    errors = list(rec["errors"])
    pinned = expected.get(a.workload, {})
    for name, want in sorted(pinned.items()):
        got = rec["hashes"].get(name)
        if got != want:
            errors.append(f"{name}: result hash {got} != pinned {want}")
    attempted = rec["attempted"] + len(pinned)
    failed = len(errors)

    e2e, layers, env = rec["end_to_end"], rec["per_layer"], rec["env"]
    print(f"# perfbench {a.workload} seed={a.seed} seconds={a.seconds} trace={a.trace}")
    print(f"# env: nproc={env['nproc']} task_slots={env['task_slots']} passes={env['passes']} "
          f"check_s={fmt(env['check_s'])} window_s={fmt(env['window_s'])} "
          f"foreign_cores_busy={fmt(env['foreign_cores_busy'])} "
          f"speed_probe_ms={'/'.join(map(fmt, env['speed_probe_ms']))} "
          f"loadavg={env['loadavg_before']} -> {env['loadavg_after']}")
    print(f"# env: jvm_flags={' '.join(env['jvm_flags'])} java={env['java_version']} "
          f"spark={env['spark_version']}")
    print(f"# checks: {len(pinned)} pinned hashes, {attempted} attempted, {failed} failed")
    for e in errors[:20]:
        print(f"#   error: {e}")
    if a.trace == 0:
        n = int(e2e.get("latency_ms.n", 0))
        for k, unit in {**END_TO_END, **END_TO_END_REPORT}.items():
            if k in e2e:
                extra = ""
                if k == "latency_ms.tail":
                    extra = f" (p{fmt(e2e['latency_ms.tail_pct'])}, n={n})"
                elif k == "latency_ms.p50":
                    extra = f" (n={n})"
                elif k == "setup_s":
                    extra = " (cold, from JVM start)"
                print(f"{k:28s} {fmt(e2e[k]):>14s} {unit}{extra}")
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    else:
        print(f"# per-layer, mean per traced op over {int(layers['trace.ops'])} ops; "
              f"self times sum to the op wall time")
        for k in sorted(layers):
            unit = PER_LAYER.get(k) or ("ms" if k.endswith("_ms") else
                                        "bytes" if k.endswith("_bytes") else "")
            print(f"{k:28s} {fmt(layers[k]):>14s} {unit}")
        print(f"# spans: {out}.spans.jsonl")
        metrics = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER.items()}
    unmeasured = [k for k, m in metrics.items() if m["value"] is None]
    if unmeasured:
        fail(f"no value for {', '.join(unmeasured)}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
