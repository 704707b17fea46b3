#!/usr/bin/env python3
"""Benchmark of the graft engine: one named workload of registry queries,
run by a closed-loop client inside one JVM at local[nproc].

    python3 perfbench/run.py --workload star_sql --seed 1 --seconds 12 --trace 0

Builds the engine and the harness (perfbench/harness) on first use, runs
the harness on the fixed input tables in perfbench/data (--seed permutes
the order of each measured pass), checks every query's result against its
DuckDB oracle, and prints the metrics as the last line of stdout.
--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones and
writes per-query spans. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

import oracle  # noqa: E402

DATA = os.path.join(HERE, "data", "sf0.01")
HEAP = "3g"
# A large, fixed young generation: few collections run inside a measured
# pass, so a pass's heap peak follows what the pass holds and allocates
# rather than when the collector ran. With G1's adaptive sizing the
# peak moved by up to 8 % between runs.
YOUNG = "1536m"
JVM_TIMEOUT_S = 165

WORKLOADS = {
    "star_sql": [
        "tpch_q1", "a7_approx_distinct", "f9_mii_demo", "s13_partitioned_sink",
        "pipe_fact_assembly"],
    "corpus_stream": ["pipe_e2e_sft", "st_update_mode"],
}

END_TO_END = {
    "setup_s": "s", "pass_s": "s", "query_p50_s": "s", "query_p90_s": "s",
    "task_cpu_s": "s", "shuffle_write_bytes": "bytes",
    "scan_input_bytes": "bytes", "output_bytes": "bytes", "peak_heap_mb": "MB",
}

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def newest_source_mtime():
    """Latest change to anything the build compiles."""
    newest = 0.0
    for r in (os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
              os.path.join(HERE, "harness")):
        for d, dirs, fs in os.walk(r):
            dirs[:] = [x for x in dirs if x != "target"]
            for f in fs:
                if f.endswith((".scala", ".java", ".sbt", ".properties")):
                    newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    return max(newest, os.path.getmtime(os.path.join(ROOT, "build.sbt")))


def build():
    """Compile engine + harness with sbt; return the runtime classpath."""
    stamp = os.path.join(WORK, "classpath.txt")
    if os.path.exists(stamp) and os.path.getmtime(stamp) >= newest_source_mtime():
        cp = open(stamp).read().strip()
        if all(os.path.exists(p) for p in cp.split(os.pathsep)):
            return cp
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as f:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
             "export Runtime/fullClasspath"],
            cwd=os.path.join(HERE, "harness"), stdout=subprocess.PIPE, stderr=f,
            text=True, timeout=840)
        f.write(p.stdout)
    lines = [ln.strip() for ln in p.stdout.splitlines() if "scala-2.13" in ln and os.pathsep in ln]
    if p.returncode != 0 or not lines:
        die(f"build failed, see {log}", 3)
    with open(stamp, "w") as f:
        f.write(lines[-1] + "\n")
    return lines[-1]


def percentile(xs, q):
    xs = sorted(xs)
    k = (len(xs) - 1) * q
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


LAYERS = ("construct", "catalyst", "execute")


def per_pass(runs, f):
    """Median over measured passes of the per-pass sum of f(record)."""
    passes = {}
    for r in runs:
        passes[r["pass"]] = passes.get(r["pass"], 0) + f(r)
    return statistics.median(passes.values())


def all_layers(key):
    return lambda r: sum(r[layer][key] for layer in LAYERS)


def end_to_end(res):
    runs = res["runs"]
    times = [r["total_s"] for r in runs]
    return {
        "setup_s": statistics.median(res["setup_s"]),
        "pass_s": per_pass(runs, lambda r: r["total_s"]),
        "query_p50_s": percentile(times, 0.5),
        "query_p90_s": percentile(times, 0.9),
        "task_cpu_s": per_pass(runs, all_layers("task_cpu_s")),
        "shuffle_write_bytes": per_pass(runs, all_layers("shuffle_write_bytes")),
        "scan_input_bytes": per_pass(runs, all_layers("scan_bytes")),
        "output_bytes": per_pass(runs, all_layers("output_bytes")),
        "peak_heap_mb": statistics.median(res["pass_heap_mb"]),
    }


def per_layer(res):
    runs = res["runs"]

    def c(layer, key):
        return per_pass(runs, lambda r: r[layer][key])

    def busy(layer, wall):
        # task CPU seconds per wall second of the phase: cores kept busy
        cpu = c(layer, "task_cpu_s")
        t = per_pass(runs, lambda r: r[wall])
        return cpu / t if t > 0 else 0.0

    def st(key):
        return per_pass(runs, lambda r: r["stream"][key])

    return {
        "construct.s": (per_pass(runs, lambda r: r["construct_s"]), "s"),
        "construct.jobs": (c("construct", "jobs"), "count"),
        "construct.stages": (c("construct", "stages"), "count"),
        "construct.tasks": (c("construct", "tasks"), "count"),
        "construct.task_cpu_s": (c("construct", "task_cpu_s"), "s"),
        "construct.core_busy": (busy("construct", "construct_s"), "cores"),
        "construct.persisted_blocks": (per_pass(runs, lambda r: r["persisted_blocks"]), "count"),
        "catalyst.analysis_ms": (per_pass(runs, lambda r: r["analysis_ms"]), "ms"),
        "catalyst.optimization_ms": (per_pass(runs, lambda r: r["optimization_ms"]), "ms"),
        "catalyst.planning_ms": (per_pass(runs, lambda r: r["planning_ms"]), "ms"),
        "catalyst.exchanges": (per_pass(runs, lambda r: r["exchanges"]), "count"),
        "catalyst.file_scans": (per_pass(runs, lambda r: r["file_scans"]), "count"),
        "catalyst.plan_nodes": (per_pass(runs, lambda r: r["plan_nodes"]), "count"),
        "exec.s": (per_pass(runs, lambda r: r["exec_s"]), "s"),
        "exec.jobs": (c("execute", "jobs"), "count"),
        "exec.tasks": (c("execute", "tasks"), "count"),
        "exec.core_busy": (busy("execute", "exec_s"), "cores"),
        "exec.task_cpu_s": (c("execute", "task_cpu_s"), "s"),
        "exec.gc_s": (c("execute", "gc_s"), "s"),
        "exec.shuffle_read_bytes": (c("execute", "shuffle_read_bytes"), "bytes"),
        "exec.shuffle_write_bytes": (c("execute", "shuffle_write_bytes"), "bytes"),
        "exec.spill_bytes": (c("execute", "spill_bytes"), "bytes"),
        "exec.input_bytes": (c("execute", "scan_bytes"), "bytes"),
        "exec.result_rows": (per_pass(runs, lambda r: r["rows"]), "rows"),
        "write.bytes": (per_pass(runs, all_layers("output_bytes")), "bytes"),
        "write.records": (per_pass(runs, all_layers("output_records")), "rows"),
        "write.tasks": (per_pass(runs, all_layers("write_tasks")), "count"),
        "stream.batches": (st("batches"), "count"),
        "stream.input_rows": (st("input_rows"), "rows"),
        "stream.trigger_ms": (st("trigger_ms"), "ms"),
        "stream.add_batch_ms": (st("add_batch_ms"), "ms"),
        "stream.wal_commit_ms": (st("wal_commit_ms"), "ms"),
        "stream.query_planning_ms": (st("query_planning_ms"), "ms"),
        "stream.state_rows": (st("state_rows"), "rows"),
        "stream.state_mem_bytes": (st("state_mem_bytes"), "bytes"),
    }


def self_check(res, trace_file):
    """Problems with the job attribution; empty when the trace is sound."""
    problems = []
    for r in res["warmup"] + res["runs"]:
        if r["trace_jobs"] != r["job_span"]:
            problems.append(f"{r['name']} pass {r['pass']}: listener counted "
                            f"{r['trace_jobs']} jobs, scheduler {r['job_span']}")
    if res["unattributed_jobs"]:
        problems.append(f"{res['unattributed_jobs']} jobs attributed to no query")
    if trace_file:
        spans = [json.loads(ln) for ln in open(trace_file) if ln.strip()]
        by_q = {}
        for s in spans:
            by_q.setdefault(s["qid"], []).append(s)
        for r in res["runs"]:
            ss = by_q.get(r["qid"], [])
            ids = {s["id"] for s in ss}
            jobs = sum(1 for s in ss if s["name"].startswith("job "))
            if jobs != r["trace_jobs"]:
                problems.append(f"{r['name']} pass {r['pass']}: {jobs} job spans, "
                                f"{r['trace_jobs']} jobs")
            if any(s["parent"] != -1 and s["parent"] not in ids for s in ss):
                problems.append(f"{r['name']} pass {r['pass']}: span without parent")
    return problems


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if a.workload not in WORKLOADS:
        die(f"unknown workload {a.workload!r}; one of {sorted(WORKLOADS)}")
    for f in ("build.sbt", "src/main/scala/graft/SparkEntry.scala"):
        if not os.path.exists(os.path.join(ROOT, f)):
            die(f"engine source {f} not found next to perfbench/")
    os.makedirs(WORK, exist_ok=True)
    cp = build()

    t0 = time.time()
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    cpus = len(os.sched_getaffinity(0))
    names = WORKLOADS[a.workload]
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    cmd = [java] + [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}", "-XX:-UsePerfData",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}", "-cp", cp,
        "org.apache.spark.graftbench.Harness",
        "--queries", ",".join(names), "--data", DATA, "--out", run_dir,
        "--seconds", str(a.seconds), "--seed", str(a.seed), "--trace", str(a.trace)]
    with open(os.path.join(run_dir, "harness.log"), "w") as log:
        try:
            p = subprocess.run(cmd, cwd=run_dir, stdout=log, stderr=log,
                               timeout=JVM_TIMEOUT_S - (time.time() - t0))
        except subprocess.TimeoutExpired:
            die("harness timed out", 4)
    res_file = os.path.join(run_dir, "result.json")
    if p.returncode != 0 or not os.path.exists(res_file):
        die(f"harness failed (exit {p.returncode}), see {run_dir}/harness.log", 4)
    res = json.load(open(res_file))
    t_jvm = time.time() - t0

    wrong = oracle.check(DATA, os.path.join(run_dir, "check"), names,
                         res["oracle_sql"], cpus)
    wrong.update(res["check_errors"])
    failed = sum(1 for r in res["runs"] if r["error"] or r["name"] in wrong)
    trace_file = os.path.join(run_dir, "trace.jsonl") if a.trace else None
    problems = self_check(res, trace_file)
    e2e = end_to_end(res)

    print(f"workload {a.workload} seed {a.seed} cpus {res['cpus']} queries {len(names)} "
          f"passes {res['passes']} query_windows {len(res['runs'])} "
          f"measured_s {res['measure_s']:.2f} "
          f"jvm_s {t_jvm:.1f} run_s {time.time() - t0:.1f}")
    print("box_speed " + json.dumps(res["box_speed"]))
    for h in res["hygiene"]:
        print(f"hygiene {h['query']} {h['kind']} {h['detail']} x{h['times']}")
    for m in res["reuse_mismatches"]:
        print(f"reuse_guard {m['name']} jobs per invocation {m['jobs_per_invocation']}")
    print("trace_self_check " + ("ok" if not problems else "FAILED: " + "; ".join(problems[:5])))
    for n, why in sorted(wrong.items()):
        print(f"check_failed {n}: {why}")
    for r in res["runs"]:
        if r["error"]:
            print(f"query_failed {r['name']} pass {r['pass']}: {r['error']}")
    if a.trace:
        layers = per_layer(res)
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in layers.items()}
        print("end_to_end " + json.dumps(e2e))
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        shutil.copy(trace_file, os.path.join(WORK, "traces", f"{a.workload}-seed{a.seed}.jsonl"))
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
    out = {"correct": not wrong and not problems, "attempted": len(res["runs"]),
           "failed": failed, "metrics": metrics}
    print(json.dumps(out))


if __name__ == "__main__":
    main()
