#!/usr/bin/env python3
"""Benchmark of the declared queries at sf0.1, run from the repo root.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program and the harness (perfbench/build.sbt, outputs under
.bench_build/) when the sources changed, then runs one closed-loop client
in one JVM over the workload's queries (perfbench/workloads.json): a check
pass that fingerprints every result, then timed passes for `--seconds`, in
an order drawn from `--seed`. The seed sets only that order; the inputs are
the committed fixtures under perfbench/data/sf0.1.

`--trace 0` prints the end-to-end metrics, `--trace 1` the per-layer
metrics from a span trace (written to .bench_build/traces/). The last line
of stdout is one JSON object: correct, attempted, failed, metrics.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "sbt", "scala-2.13", "classes")
SF_DIR = os.path.join(HERE, "data", "sf0.1")
RUN_LIMIT_S = 170
CPUS = len(os.sched_getaffinity(0))  # nproc
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


class BenchError(Exception):
    pass


def source_stamp():
    """Path, size and mtime of every input of the build."""
    h = hashlib.sha256()
    dirs = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for d in dirs:
        for base, _, names in os.walk(d):
            files += [os.path.join(base, n) for n in names]
    for f in sorted(files):
        st = os.stat(f)
        h.update(f"{os.path.relpath(f, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft",
                                       "SparkEntry.scala")):
        raise BenchError("no program sources under src/main/scala; run from a checkout")
    if not os.environ.get("SPARK_HOME"):
        raise BenchError("SPARK_HOME is not set")
    stamp_file = os.path.join(BUILD, "build.stamp")
    stamp = source_stamp()
    if os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return False
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        rc = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                         HERE, dict(os.environ), out, 850)
    if rc != 0:
        sys.stderr.write(open(log).read()[-4000:])
        raise BenchError(f"build failed (exit {rc}); log in {log}")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return True


def run_bounded(cmd, cwd, env, out, limit_s):
    """Runs cmd in its own process group; kills the group at the limit and
    waits for it, so nothing the benchmark starts outlives it."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out,
                         stderr=subprocess.STDOUT, start_new_session=True)
    try:
        return p.wait(timeout=limit_s)
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    finally:
        try:  # children the JVM forked
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def java_cmd(run_dir, main_class, args):
    """The JVM flags graft's own launchers use (build.sbt's forked runs)."""
    jars = os.path.join(os.environ["SPARK_HOME"], "jars", "*")
    cmd = ["java"]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + [
        "-Xms4g", "-Xmx4g", f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", f"{CLASSES}:{jars}", main_class] + args


def run_harness(queries, seed, seconds, trace, trace_path, limit_s):
    """One JVM run in a fresh per-run directory that is removed afterwards:
    sink output, shuffle files and stream checkpoints never survive a run."""
    run_dir = os.path.join(BUILD, "runs", f"{os.getpid()}-{time.time_ns()}")
    try:
        for d in ("tmp", "local", "graft"):
            os.makedirs(os.path.join(run_dir, d))
        env = dict(os.environ,
                   SPARK_GRAFT_TMP=os.path.join(run_dir, "graft"),
                   SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"))
        report = os.path.join(run_dir, "report.json")
        cmd = java_cmd(run_dir, "perfbench.Harness", [
            SF_DIR, str(CPUS), str(seed), str(seconds), "1" if trace else "0",
            report, trace_path] + queries)
        log = os.path.join(run_dir, "harness.log")
        with open(log, "w") as out:
            rc = run_bounded(cmd, run_dir, env, out, limit_s)
        if rc != 0 or not os.path.isfile(report):
            sys.stderr.write(open(log).read()[-4000:])
            raise BenchError(f"harness exited {rc}")
        with open(report) as f:
            return json.load(f)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def tail(values):
    """Highest percentile with at least ten samples above it, when that is
    above the median; otherwise the maximum. Returns (value, percentile,
    samples beyond)."""
    v = sorted(values)
    n = len(v)
    if n <= 20:
        return v[-1], 100.0, 0
    return v[n - 11], 100.0 * (n - 10) / n, 10


def end_to_end(report, expected):
    """Failure accounting and the end-to-end metrics of one run."""
    failures = {}
    for c in report["checks"]:
        q, exp = c["query"], expected.get(c["query"])
        if c["error"]:
            failures[q] = f"check pass threw: {c['error']}"
        elif exp is None:
            failures[q] = "no expected output recorded"
        elif (c["rows"], c["fingerprint"]) != (exp["rows"], exp["fingerprint"]):
            failures[q] = (f"output check: rows {c['rows']} fingerprint "
                           f"{c['fingerprint']}, expected rows {exp['rows']} "
                           f"fingerprint {exp['fingerprint']}")
    execs = report["executions"]
    attempted = len(execs) + len(report["checks"])
    bad_output = set(failures)
    failed = len(bad_output)
    for e in execs:
        if e["error"]:
            failures.setdefault(e["query"], f"threw: {e['error']}")
        if e["error"] or e["query"] in bad_output:
            failed += 1
    ok = [e for e in execs if not e["error"] and e["query"] not in bad_output]
    # One latency per query, its median over the run's passes, so that the
    # statistics below do not depend on how many passes fit in the run.
    per_query = {}
    for e in ok:
        per_query.setdefault(e["query"], []).append(e["total_s"])
    lat = [statistics.median(v) for v in per_query.values()] or [float("nan")]
    t, pct, beyond = tail(lat)
    m = {
        "setup_s": (report["setup_s"], "s", 1),
        "wall_s": (statistics.median(report["pass_walls"]), "s",
                   len(report["pass_walls"])),
        "geomean_s": (math.exp(statistics.fmean(math.log(max(x, 1e-6)) for x in lat)),
                      "s", len(lat)),
        "query_p50_s": (statistics.median(lat), "s", len(lat)),
        "query_tail_s": (t, "s", len(lat)),
        "failed_frac": (failed / attempted, "ratio", attempted),
    }
    of = f"per-query medians of {len(ok)} timed executions"
    notes = {"geomean_s": of, "query_p50_s": of,
             "query_tail_s": f"p{pct:.1f}, {beyond} queries beyond; {of}"}
    return m, notes, failures, attempted, failed


def spans_rollup(trace_path, report, cpus):
    """Per-query layer numbers from the span file, and the per-pass
    workload totals."""
    spans = [json.loads(l) for l in open(trace_path) if l.strip()]
    by_trace = {}
    for s in spans:
        by_trace.setdefault(s["trace"], []).append(s)
    rows = {c["query"]: c["rows"] or 0 for c in report["checks"]}
    per_query = []
    for trace, ss in by_trace.items():
        idx = {s["span"]: s for s in ss}
        q = next(s for s in ss if s["kind"] == "query")
        phases = {s["span"]: s for s in ss if s["kind"] == "phase"}
        jobs = [s for s in ss if s["kind"] == "job"]
        stages = [s for s in ss if s["kind"] == "stage"]
        batches = [s for s in ss if s["kind"] == "batch"]

        def phase_of(s):
            p = idx.get(s["parent"])
            return p["name"] if p else None

        def dur(s):
            return (s["end_ms"] - s["start_ms"]) / 1e3

        build = [p for p in phases.values() if p["name"] == "build"]
        build_s = sum(dur(p) for p in build)
        build_jobs = [j for j in jobs if phase_of(j) == "build"]
        covered = 0.0
        for p in build:  # union of job intervals clipped to the phase
            iv = sorted((max(j["start_ms"], p["start_ms"]), min(j["end_ms"], p["end_ms"]))
                        for j in build_jobs)
            hi = p["start_ms"]
            for a, b in iv:
                if b > hi:
                    covered += (b - max(a, hi)) / 1e3
                    hi = b
        streams = {}
        for b in batches:
            st = streams.setdefault(b["stream"], [0, 0])
            st[0] = max(st[0], b["state_rows"])
            st[1] = max(st[1], b["state_mem_bytes"])
        ssum = lambda k: sum(s[k] for s in stages)
        skews = [s["max_run_ms"] / s["median_run_ms"] for s in stages
                 if s["tasks"] >= 2 and s["median_run_ms"] > 0 and s["run_ms"] >= 100]
        per_query.append({
            "query": q["name"], "trace": trace, "wall_s": sum(
                dur(p) for p in phases.values() if p["name"] != "teardown"),
            "operators.build_s": build_s,
            "operators.build_jobs": len(build_jobs),
            "operators.build_driver_s": max(0.0, build_s - covered),
            "catalyst.plan_s": sum(dur(p) for p in phases.values() if p["name"] == "plan"),
            "scheduler.jobs": len(jobs),
            "scheduler.stages": len(stages),
            "scheduler.tasks": ssum("tasks"),
            "tiny_tasks": ssum("tiny_tasks"),
            "tasks.run_s": ssum("run_ms") / 1e3,
            "tasks.cpu_s": ssum("cpu_ns") / 1e9,
            "tasks.gc_s": ssum("gc_ms") / 1e3,
            "tasks.skew_max": max(skews, default=1.0),
            "shuffle.write_bytes": ssum("shuffle_write_bytes"),
            "shuffle.read_bytes": ssum("shuffle_read_bytes"),
            "shuffle.spill_bytes": ssum("spill_bytes"),
            "shuffle.fetch_wait_s": ssum("fetch_wait_ms") / 1e3,
            "Tables.input_bytes": ssum("input_bytes"),
            "Tables.input_rows": ssum("input_rows"),
            "Sink.output_bytes": ssum("output_bytes"),
            "Sink.output_rows": ssum("output_rows"),
            "Sink.write_task_s": ssum("write_task_ms") / 1e3,
            "EventStream.batches": len(batches),
            "EventStream.add_batch_ms": sum(b["add_batch_ms"] for b in batches),
            "EventStream.planning_ms": sum(b["planning_ms"] for b in batches),
            "EventStream.commit_ms": sum(b["commit_ms"] for b in batches),
            "EventStream.state_rows": sum(s[0] for s in streams.values()),
            "EventStream.state_mem_bytes": sum(s[1] for s in streams.values()),
            "storage.peak_bytes": q["storage_peak_bytes"],
            "storage.pinned_after_bytes": q["storage_pinned_after_bytes"],
            "result.rows": rows.get(q["name"], 0),
        })
    n = len(report["pass_walls"])
    tot = lambda k: sum(r[k] for r in per_query)
    per_pass = lambda k: tot(k) / n
    wall = tot("wall_s")
    layer = {k: per_pass(k) for k in per_query[0] if k not in (
        "query", "trace", "wall_s", "tiny_tasks", "tasks.skew_max",
        "storage.peak_bytes")}
    layer["scheduler.tiny_task_frac"] = tot("tiny_tasks") / max(1, tot("scheduler.tasks"))
    layer["scheduler.core_util"] = tot("tasks.run_s") / max(1e-9, wall * cpus)
    layer["tasks.skew_max"] = max(r["tasks.skew_max"] for r in per_query)
    layer["storage.peak_bytes"] = max(r["storage.peak_bytes"] for r in per_query)
    layer["Tables.rows_per_result_row"] = (tot("Tables.input_rows") /
                                           max(1, tot("result.rows")))
    layer["jvm.heap_peak_mb"] = report["jvm"]["heap_peak_mb"]
    layer["jvm.gc_s"] = report["jvm"]["gc_s"]
    return layer, per_query


QUERY_COLUMNS = ["wall_s", "operators.build_s", "operators.build_jobs",
                 "operators.build_driver_s", "catalyst.plan_s", "scheduler.jobs",
                 "EventStream.batches", "EventStream.add_batch_ms",
                 "EventStream.planning_ms", "EventStream.commit_ms",
                 "storage.pinned_after_bytes", "result.rows"]


def run_workload(name, spec, seed, seconds, trace, bench, layers,
                 limit_s=RUN_LIMIT_S):
    """Runs one workload and prints its report; returns the contract line."""
    # The check pass (also the JIT warm-up) runs in the declared order, so
    # every run warms up alike; the seed shuffles each timed pass.
    order = list(spec["queries"])
    trace_path = os.path.join(BUILD, "traces", f"{name}-seed{seed}.jsonl")
    os.makedirs(os.path.dirname(trace_path), exist_ok=True)
    report = run_harness(order, seed, seconds, trace, trace_path, limit_s)
    e2e, notes, failures, attempted, failed = end_to_end(report, spec["expected"])
    print(f"workload {name}: {len(order)} queries, {len(report['pass_walls'])} "
          f"timed passes, local[{report['cpus']}], seed {seed}")
    for q, why in sorted(failures.items()):
        print(f"FAILED {q}: {why}")
    for k, (v, unit, n) in e2e.items():
        extra = f", {notes[k]}" if k in notes else ""
        print(f"  {k} = {v:.6g} {unit} (n={n}{extra})")
    if trace:
        layer, per_query = spans_rollup(trace_path, report, report["cpus"])
        print(f"  traced wall_s = {e2e['wall_s'][0]:.6g} s; span trace {trace_path}")
        print("  per query: " + " | ".join(QUERY_COLUMNS))
        for r in sorted(per_query, key=lambda r: r["trace"]):
            print(f"    {r['trace']}: " + " | ".join(
                f"{r[c]:.4g}" for c in QUERY_COLUMNS))
        wanted = bench["per_layer"]
        metrics = {m["name"]: {"value": layer[m["name"]], "unit": m["unit"]}
                   for m in wanted}
        for m in wanted:
            tie = layers[m["name"].split(".")[0]]
            quiet = f"; quiet on {tie['quiet_on']}" if tie["quiet_on"] else ""
            print(f"  {m['name']} = {layer[m['name']]:.6g} {m['unit']} "
                  f"[moves {tie['moves']}{quiet}]")
    else:
        metrics = {m["name"]: {"value": e2e[m["name"]][0], "unit": m["unit"]}
                   for m in bench["end_to_end"]}
    return {"correct": not failures, "attempted": attempted, "failed": failed,
            "metrics": metrics}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    started = time.monotonic()
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            bench = json.load(f)
        with open(os.path.join(HERE, "workloads.json")) as f:
            spec = json.load(f)
        workloads = spec["workloads"]
        if a.workload not in workloads:
            raise BenchError(f"unknown workload {a.workload}; "
                             f"known: {', '.join(workloads)}")
        # A run that had to build may take 900 s in all, any other 180 s.
        limit = (880 if build() else RUN_LIMIT_S) - (time.monotonic() - started)
        line = run_workload(a.workload, workloads[a.workload], a.seed,
                            a.seconds, a.trace, bench, spec["layers"], limit)
    except (BenchError, OSError, subprocess.TimeoutExpired, KeyError) as e:
        sys.stderr.write(f"perfbench: {e}\n")
        sys.exit(1)
    print(json.dumps(line))


if __name__ == "__main__":
    main()
