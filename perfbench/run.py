#!/usr/bin/env python3
"""Benchmark of the graft engine: two seeded workloads, one closed-loop
client, one local-mode JVM with at most 4 Spark threads.

    python3 perfbench/run.py --workload asof_headline --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --smoke

Run from the repository root. The first run builds the engine and the
benchmark from source into .bench_build (see build.py). Untraced runs
(--trace 0) print the end-to-end metrics; traced runs (--trace 1) print the
per-layer metrics and the tracing overhead. The last line of standard output
is one JSON object {"correct", "attempted", "failed", "metrics"}; the line
before it holds the run's samples, quartiles and provenance. --smoke runs
every workload once at a tiny size, both ways, and checks every printed
metric name and unit against BENCHMARK.json. See README.md.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import reference  # noqa: E402

# Per workload, for --seconds 10: untimed iterations after the set-up's one,
# then timed iterations at local[4] and at local[1]. The warm-ups bring the
# JIT near its steady state: a JVM's first iterations are up to twice as
# slow. A traced run makes half as many untraced/traced pairs. The timed
# counts scale with --seconds and never depend on what a run measures.
PLAN = {
    "asof_headline": (12, 10, 4),
    "operators_extract": (2, 4, 1),
}
SMOKE_SCALE = 0.02
JVM_HEAP = ["-Xms2g", "-Xmx2g"]  # fixed size: no heap growth during a run
RUN_TIMEOUT_S = 170

END_TO_END = [("wall_s", "s"), ("seq_per_s", "1/s"), ("scaling_eff", "ratio"),
              ("setup_s", "s")]
PER_LAYER = [
    ("sources.scan_rows", "count"), ("sources.scan_bytes", "B"), ("sources.scan_s", "s"),
    ("engine.input_scans", "count"), ("engine.plan_s", "s"), ("engine.jobs", "count"),
    ("functions.kernel_cpu_s", "s"), ("functions.frames_out", "count"),
    ("plans.asof_rows", "count"), ("plans.asof_matched", "count"),
    ("plans.asof_match_rate", "ratio"), ("plans.merge_s", "s"),
    ("exchange.write_bytes", "B"), ("exchange.records", "count"),
    ("exchange.write_s", "s"), ("exchange.fetch_wait_s", "s"),
    ("sort.sort_s", "s"), ("sort.spill_bytes", "B"),
    ("operators.window_s", "s"), ("operators.task_skew", "ratio"),
    ("operators.carry_rows", "count"),
    ("dedup.candidates", "count"), ("dedup.pairs", "count"), ("dedup.pair_yield", "ratio"),
    ("dedup.cap_dropped_rows", "count"), ("dedup.cc_edges", "count"),
    ("dedup.cc_path", "count"), ("dedup.cc_jobs", "count"),
    ("dedup.pairs_s", "s"), ("dedup.cc_s", "s"),
    ("summaries.in_rows", "count"), ("summaries.groups", "count"),
    ("summaries.agg_s", "s"), ("summaries.spill_bytes", "B"),
    ("sinks.rows_written", "count"), ("sinks.bytes_written", "B"),
    ("sinks.files_written", "count"), ("sinks.write_s", "s"),
    ("tasks.cpu_s", "s"), ("tasks.run_s", "s"), ("tasks.sched_delay_s", "s"),
    ("tasks.gc_s", "s"), ("tasks.peak_exec_mem_mb", "MiB"), ("tasks.failed", "count"),
    ("trace.overhead_s", "s"),
]

# Spark on JDK 17 outside spark-submit needs these (the list build.sbt uses).
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg):
    sys.stderr.write("perfbench: %s\n" % msg)
    sys.exit(1)


def iteration_plan(workload, seconds, trace, smoke):
    if smoke:
        return 0, 1, 1
    warmups, iters4, iters1 = PLAN[workload]
    iters4 = max(3, round(iters4 * seconds / 10))
    if trace:
        return warmups, (iters4 + 1) // 2, 0
    return warmups, iters4, max(1, round(iters1 * seconds / 10))


def run_jvm(root, work, cp, workload, seed, trace, plan, scale):
    """Runs one benchmark JVM; answers its READY line with the DuckDB
    reference; returns the parsed result record."""
    warmups, iters4, iters1 = plan
    tmp = os.path.join(work, "tmp")
    logs = os.path.join(work, "logs")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(logs, exist_ok=True)
    result_file = os.path.join(work, "result.json")
    if os.path.exists(result_file):
        os.remove(result_file)
    cmd = ["java"] + JVM_HEAP + ["-Djava.io.tmpdir=" + tmp, "-Dspark.ui.enabled=false"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", m + "=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", workload, "--seed", str(seed),
            "--trace", "1" if trace else "0", "--work", work, "--warmups", str(warmups),
            "--iters4", str(iters4), "--iters1", str(iters1), "--scale", str(scale)]
    log_path = os.path.join(logs, "%s-seed%s-trace%d.log" % (workload, seed, trace))
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=root, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
                                stderr=log, text=True)
        timer = threading.Timer(RUN_TIMEOUT_S, proc.kill)
        timer.start()
        try:
            line = proc.stdout.readline()
            if not line.startswith("READY "):
                proc.wait()
                fail("JVM ended before its inputs were ready (log: %s)" % log_path)
            in_dir = line.split(" ", 1)[1].strip()
            for sub, ref in reference.REFERENCES.get(workload, []):
                d = os.path.join(in_dir, sub)
                with open(os.path.join(d, "duckdb_ref.json"), "w") as f:
                    json.dump(ref(d), f)
            proc.stdin.write("go\n")
            proc.stdin.flush()
            proc.stdout.read()
            rc = proc.wait()
        finally:
            timer.cancel()
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0 or not os.path.exists(result_file):
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        fail("JVM failed with exit code %s (log: %s)" % (rc, log_path))
    with open(result_file) as f:
        return json.load(f)


def stats(xs):
    q = statistics.quantiles(xs, n=4) if len(xs) >= 2 else [xs[0]] * 3
    return {"median": statistics.median(xs), "q1": q[0], "q3": q[2], "n": len(xs)}


def end_to_end(r):
    p4, p1 = r["local4"], r["local1"]
    if not p4["wall_s"] or not p1["wall_s"]:
        fail("no iteration passed its output check: %s" % r["failures"][:3])
    seq = [u / w for u, w in zip(p4["units"], p4["wall_s"])]
    samples = {"wall_s": p4["wall_s"], "seq_per_s": seq, "setup_s": [r["setup_s"]],
               "live_heap_mb": p4["live_heap_mb"], "wall_s_local1": p1["wall_s"]}
    detail = {k: stats(v) for k, v in samples.items()}
    values = {k: detail[k]["median"] for k in ("wall_s", "seq_per_s", "setup_s")}
    values["scaling_eff"] = detail["wall_s_local1"]["median"] / detail["wall_s"]["median"] / 4
    return values, detail, samples


def per_layer(r):
    layers = r["layers"]
    if not layers or not r["local4"]["wall_s"]:
        fail("no traced iteration passed its output check: %s" % r["failures"][:3])
    names = [n for n, _ in PER_LAYER if n != "trace.overhead_s"]
    values = {n: statistics.median([x.get(n, 0.0) for x in layers]) for n in names}
    values["trace.overhead_s"] = (statistics.median(r["traced"]["wall_s"])
                                  - statistics.median(r["local4"]["wall_s"]))
    units = dict(PER_LAYER)
    unsteady = [n for n in names
                if units[n] in ("count", "B") and len({x.get(n, 0.0) for x in layers}) > 1]
    detail = {"untraced_wall_s": stats(r["local4"]["wall_s"]),
              "traced_wall_s": stats(r["traced"]["wall_s"]),
              "counts_repeat": not unsteady, "counts_varying": unsteady,
              "spans": r["spans"][-1] if r["spans"] else []}
    return values, detail


def provenance(root):
    def git(*a):
        try:
            p = subprocess.run(["git"] + list(a), cwd=root, stdout=subprocess.PIPE,
                               stderr=subprocess.DEVNULL, text=True, timeout=10)
            return p.stdout.strip() if p.returncode == 0 else None
        except (OSError, subprocess.SubprocessError):
            return None
    sha = git("rev-parse", "HEAD")
    dirty = git("status", "--porcelain", "--", "src", "perfbench") if sha else None
    mem_kb = None
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    mem_kb = int(line.split()[1])
    except OSError:
        pass
    return {"git_sha": sha, "git_dirty": bool(dirty) if sha else None,
            "nproc": os.cpu_count(), "mem_total_kb": mem_kb, "jvm_heap": JVM_HEAP}


def one_run(root, workload, seed, seconds, trace, smoke=False):
    work = os.path.join(root, ".bench_build")
    os.makedirs(work, exist_ok=True)
    try:
        cp = build.build(root, work)
    except SystemExit as e:
        fail(str(e))
    plan = iteration_plan(workload, seconds, trace, smoke)
    scale = SMOKE_SCALE if smoke else 1.0
    r = run_jvm(root, work, cp, workload, seed, trace, plan, scale)
    samples = None
    if trace:
        values, detail = per_layer(r)
        units = dict(PER_LAYER)
    else:
        values, detail, samples = end_to_end(r)
        units = dict(END_TO_END)
    out = {"correct": r["failed"] == 0, "attempted": r["attempted"], "failed": r["failed"],
           "metrics": {n: {"value": v, "unit": units[n]} for n, v in values.items()}}
    details = {"workload": workload, "seed": seed, "trace": int(trace),
               "failed_frac": r["failed"] / r["attempted"], "failures": r["failures"],
               "iterations": {"setup": 1, "warmups": plan[0], "local4": plan[1],
                              "local1": plan[2]},
               "stats": detail, "samples": samples, "provenance": provenance(root),
               "spark_version": r["spark_version"], "conf": r["conf"],
               "jvm_args": r["jvm_args"], "heap_max_mb": r["heap_max_mb"],
               "phases": r["phases"],
               "load_before": r["local4"]["load_before"],
               "load_after": r["local4"]["load_after"]}
    return out, details


def smoke(root):
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    declared = {
        0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
        1: {m["name"]: m["unit"] for m in bench["per_layer"]},
    }
    bad = []
    for w in (x["name"] for x in bench["workloads"]):
        for trace in (0, 1):
            t0 = time.time()
            out, details = one_run(root, w, 1, 1, trace, smoke=True)
            printed = {n: m["unit"] for n, m in out["metrics"].items()}
            ok = printed == declared[trace] and out["correct"]
            if not ok:
                bad.append((w, trace))
            print("%-18s trace=%d %s  %d metrics  %.0fs%s" % (
                w, trace, "ok" if ok else "MISMATCH", len(printed), time.time() - t0,
                "" if out["correct"] else "  failures: %s" % details["failures"]))
            if printed != declared[trace]:
                print("  printed only: %s" % sorted(set(printed.items()) - set(declared[trace].items())))
                print("  declared only: %s" % sorted(set(declared[trace].items()) - set(printed.items())))
    if bad:
        fail("smoke: %s" % bad)
    print("smoke: every workload ran; metric names and units match BENCHMARK.json")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(PLAN))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    a = ap.parse_args()
    root = os.getcwd()
    if a.smoke:
        smoke(root)
        return
    if not a.workload:
        ap.error("--workload is required")
    out, details = one_run(root, a.workload, a.seed, a.seconds, bool(a.trace))
    print(json.dumps(details))
    print(json.dumps(out))


if __name__ == "__main__":
    main()
