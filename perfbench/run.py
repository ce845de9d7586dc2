#!/usr/bin/env python3
"""graft's benchmark: closed-loop warehouse workloads, measured end to end and
layer by layer.

Run from the root of a checkout of the engine:

    python3 perfbench/run.py --workload txn_dml --seed 1 --seconds 10 --trace 0

One run builds the engine and the runner from the checkout's sources (the
first time only; outputs go under .bench_build/), copies the fixed tables in
perfbench/data/ into a fresh run directory, runs one JVM in which a single
client thread drives the workload's queries in a closed loop (a checked run
and warm-up per query, then seeded rounds for at least `--seconds`; the seed
sets only the order of the queries), compares every distinct query's result
with its DuckDB oracle using the repository's own compare script, and prints
as its last stdout line one JSON object: the end-to-end metrics with
`--trace 0`, the per-layer metrics with `--trace 1` (which also keeps a spans
file under .bench_build/traces/). Workload definitions live in
perfbench/workloads.json.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
DATA = os.path.join(HERE, "data", "sf0.01")
SETUP_ALLOWANCE_S = 150  # JVM start, checked runs, warm-up, slow rounds
CORES = 4           # Spark local[k], k <= nproc
HEAP = "3g"         # fixed (-Xms = -Xmx): a growing heap adds GC noise
MIN_QUERIES = 30    # timed queries per run: 6 rounds of 5 distinct queries
MAX_WARM = 2        # noop warm-up runs after the checked run, at most
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every input of the build, so a changed tree rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, subdirs, names in os.walk(r):
            subdirs[:] = sorted(s for s in subdirs if s != "target")
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        if os.path.isfile(f):
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the engine and the runner with sbt; return the classpath."""
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline=true" not in opts:
        env["SBT_OPTS"] = (opts + " -Dsbt.offline=true").strip()
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as fh:
        rc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=fh, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=600).returncode
    with open(log) as fh:
        lines = [l.strip() for l in fh]
    cps = [l for l in lines if ".jar" in l and not l.startswith("[")]
    if rc != 0 or not cps:
        fail(f"build failed (sbt exit {rc}); see {log}")
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cps[-1]


def oracle_check(check_dir, data_dir, names, check_errors):
    """Per distinct query: None if it matched its oracle, else the reason."""
    bad = {n: f"no result: {e}" for n, e in check_errors.items()}
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "scripts", "check.py"),
         check_dir, data_dir], capture_output=True, text=True, timeout=60)
    seen = set()
    for line in proc.stdout.splitlines():
        parts = line.split(None, 2)
        if len(parts) >= 2 and parts[0] in ("ok", "FAIL"):
            name = parts[1].rstrip(":")
            seen.add(name)
            if parts[0] == "FAIL":
                bad.setdefault(name, line)
    for n in names:
        if n not in seen:
            bad.setdefault(n, "no oracle verdict")
    return bad


def remove_stale_runs(runs):
    """Deletes run dirs left by killed runs: those whose pid is gone."""
    if not os.path.isdir(runs):
        return
    for d in os.listdir(runs):
        try:
            os.kill(int(d.rsplit("-", 1)[1]), 0)
        except (IndexError, ValueError, ProcessLookupError):
            shutil.rmtree(os.path.join(runs, d), ignore_errors=True)
        except PermissionError:
            pass


def per_query_medians(execs, key):
    by = {}
    for e in execs:
        if e["ok"]:
            by.setdefault(e["name"], []).append(e[key])
    return {n: statistics.median(v) for n, v in by.items()}


def round_sum(execs, key, scale=1.0):
    """A counter per round of the workload: the median over each distinct
    query's timed executions, summed over the distinct queries."""
    return sum(per_query_medians(execs, key).values()) * scale


def median_round_qpm(res):
    """Queries per minute of the median round. Every round runs each
    distinct query once, so a burst of host noise that slows one round
    does not move it."""
    starts = {}
    for e in res["execs"]:
        starts.setdefault(e["round"], e["start_ns"])
    bounds = sorted(starts.values()) + [res["window_ns"]]
    per_round = len(res["execs"]) / len(starts)
    return statistics.median(60e9 * per_round / (b - a)
                             for a, b in zip(bounds, bounds[1:]))


def job_cover(spans):
    """Per query id: (span length, part of it its Spark job spans cover)."""
    jobs = {}
    for s in spans:
        if s["name"] == "spark.job":
            jobs.setdefault(s["parent"], []).append(s)
    out = {}
    for q in (s for s in spans if s["name"] == "query"):
        lo, hi = q["start_ns"], q["end_ns"]
        iv = sorted((max(lo, j["start_ns"]), min(hi, j["end_ns"]))
                    for j in jobs.get(q["id"], []))
        covered, reach = 0, lo
        for s, e in iv:
            s = max(s, reach)
            if e > s:
                covered += e - s
                reach = e
        out[q["id"]] = (hi - lo, covered)
    return out


def layer_metrics(res, spans, cores):
    ex = [e for e in res["execs"] if e["ok"]]
    cover = job_cover(spans)
    for e in ex:
        span, jobs = cover.get(e["qid"], (0, 0))
        e["self_ns"], e["job_ns"] = span - jobs, jobs
    busy_s = sum(e["task_busy_ms"] for e in ex) / 1e3
    job_s = sum(e["job_ns"] for e in ex) / 1e9
    return {
        "operators.build_s": (round_sum(ex, "build_ns", 1e-9), "s"),
        "operators.exec_s": (round_sum(ex, "exec_ns", 1e-9), "s"),
        "operators.self_s": (round_sum(ex, "self_ns", 1e-9), "s"),
        "txtable.meta_rpcs": (round_sum(ex, "meta_rpcs"), "count"),
        "storage.fs_bytes_written": (round_sum(ex, "fs_bytes_written"), "B"),
        "storage.fs_bytes_read": (round_sum(ex, "fs_bytes_read"), "B"),
        "storage.files_written": (round_sum(ex, "files_written"), "count"),
        "spark.jobs": (round_sum(ex, "jobs"), "count"),
        "spark.stages": (round_sum(ex, "stages"), "count"),
        "spark.tasks": (round_sum(ex, "tasks"), "count"),
        "spark.task_failures": (round_sum(ex, "task_failures"), "count"),
        "plans.exchanges": (round_sum(ex, "exchanges"), "count"),
        "plans.broadcasts": (round_sum(ex, "broadcasts"), "count"),
        "spark.shuffle_write_bytes": (round_sum(ex, "shuffle_write_bytes"), "B"),
        "spark.shuffle_read_bytes": (round_sum(ex, "shuffle_read_bytes"), "B"),
        "spark.spill_bytes": (round_sum(ex, "spill_bytes"), "B"),
        "plans.analysis_s": (round_sum(ex, "analysis_ms", 1e-3), "s"),
        "plans.optimize_s": (round_sum(ex, "optimize_ms", 1e-3), "s"),
        "plans.planning_s": (round_sum(ex, "planning_ms", 1e-3), "s"),
        "tables.scan_rows": (round_sum(ex, "input_rows"), "count"),
        "tables.scan_bytes": (round_sum(ex, "input_bytes"), "B"),
        "tables.files_read": (round_sum(ex, "files_read"), "count"),
        "spark.task_busy_s": (round_sum(ex, "task_busy_ms", 1e-3), "s"),
        "spark.slot_util": (busy_s / (job_s * cores) if job_s else 0.0,
                            "ratio"),
        "spark.sched_wait_s": (round_sum(ex, "sched_wait_ms", 1e-3), "s"),
        "scratch.build_s": (res["scratch_setup_ns"] / 1e9, "s"),
        "jvm.gc_s": (res["gc_window_ms"] / 1e3 / res["rounds"], "s"),
        "trace.queries_per_min": (median_round_qpm(res), "1/min"),
    }


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still stops its JVM: subprocess.run kills its child
    # when the wait is interrupted by an exception
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    with open(os.path.join(HERE, "workloads.json")) as f:
        workloads = json.load(f)["workloads"]
    wl = workloads.get(args.workload)
    if wl is None:
        fail(f"unknown workload {args.workload!r}; "
             f"known: {', '.join(workloads)}")
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))
            and os.path.isfile(os.path.join(ROOT, "scripts", "check.py"))):
        fail("run this from the root of a graft checkout "
             "(build.sbt, src/main/scala/graft and scripts/check.py)")

    cp = build()

    # isolation: each run gets its own copy of the tables and fresh scratch,
    # local and warehouse dirs under one run dir, deleted afterwards;
    # leftovers of a killed run are removed before anything is timed
    runs = os.path.join(BUILD, "runs")
    remove_stale_runs(runs)
    run_dir = os.path.join(runs, f"{args.workload}-{args.seed}-{os.getpid()}")
    data_dir = os.path.join(run_dir, "data")
    out_dir = os.path.join(run_dir, "out")
    os.makedirs(run_dir)
    phases = {"start": time.monotonic()}
    try:
        shutil.copytree(DATA, data_dir)
        phases["data"] = time.monotonic()
        cores = min(CORES, os.cpu_count() or 1)
        cmd = (["java"]
               + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
               + [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
                  "-Dspark.ui.enabled=false",
                  f"-Djava.io.tmpdir={run_dir}",
                  f"-Dderby.system.home={run_dir}", "-cp", cp,
                  "graft.perfbench.Runner", f"data={data_dir}",
                  f"out={out_dir}", f"queries={','.join(wl['queries'])}",
                  f"seed={args.seed}", f"seconds={args.seconds}",
                  f"min_queries={MIN_QUERIES}", f"max_warm={MAX_WARM}",
                  f"cores={cores}", f"trace={args.trace}",
                  f"t0={time.time_ns()}"])
        with open(os.path.join(run_dir, "jvm.log"), "w") as log:
            proc = subprocess.run(cmd, cwd=run_dir, stdout=log,
                                  stderr=subprocess.STDOUT,
                                  stdin=subprocess.DEVNULL,
                                  timeout=SETUP_ALLOWANCE_S
                                  + 2 * args.seconds)
        if proc.returncode != 0:
            with open(os.path.join(run_dir, "jvm.log")) as log:
                sys.stderr.write(log.read()[-4000:])
            fail(f"benchmark JVM exited with {proc.returncode}")
        phases["jvm"] = time.monotonic()
        with open(os.path.join(out_dir, "result.json")) as f:
            res = json.load(f)
        bad = oracle_check(os.path.join(out_dir, "check"), data_dir,
                           wl["queries"], res["check_errors"])
        phases["oracle"] = time.monotonic()
        spans = []
        if args.trace:
            src = os.path.join(out_dir, "spans.jsonl")
            with open(src) as f:
                spans = [json.loads(l) for l in f]
            traces = os.path.join(BUILD, "traces")
            os.makedirs(traces, exist_ok=True)
            shutil.copy(src, os.path.join(
                traces, f"{args.workload}-seed{args.seed}.spans.jsonl"))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    execs = res["execs"]
    for e in execs:
        e["lat_ns"] = e["build_ns"] + e["exec_ns"]
    lat = [e["lat_ns"] / 1e9 for e in execs if e["ok"]]
    if len(lat) < 2:
        fail("fewer than two timed queries completed")
    failed_q = sum(1 for e in execs if not e["ok"])
    attempted = len(execs) + len(wl["queries"])  # timed + one check each
    failed = failed_q + len(bad)
    # Latency quantiles over every timed query; with 6 runs of each of 5
    # distinct queries p50 falls among the 3rd-fastest query's runs and p75
    # among the 4th's, so the slowest query is reported on its own.
    _, p50, p75 = statistics.quantiles(lat, n=4)
    slowest = max(per_query_medians(execs, "lat_ns").values()) / 1e9

    print(f"workload {args.workload}: seed {args.seed}, {len(wl['queries'])} "
          f"distinct queries, {res['rounds']} rounds, {len(execs)} timed, "
          f"local[{cores}], one client, closed loop")
    steps = list(phases.items())
    print("wall s: " + ", ".join(f"{b[0]} {b[1] - a[1]:.1f}"
                                 for a, b in zip(steps, steps[1:])))
    print("sequence: " + " ".join(res["sequence"]))
    for n, ts in res["warm"].items():
        print(f"warm-up {n}: " + " ".join(f"{t:.3f}" for t in ts))
    for n in wl["queries"]:
        times = [(e["build_ns"] + e["exec_ns"]) / 1e9
                 for e in execs if e["name"] == n and e["ok"]]
        verdict = "ok" if n not in bad else "MISMATCH " + bad[n][:200]
        print(f"query {n}: oracle {verdict}; s: "
              + " ".join(f"{t:.3f}" for t in times))

    if args.trace:
        metrics = layer_metrics(res, spans, cores)
    else:
        metrics = {
            "setup_s": (res["setup_ns"] / 1e9, "s"),
            "queries_per_min": (median_round_qpm(res), "1/min"),
            "query_p50_s": (p50, "s"),
            "query_p75_s": (p75, "s"),
            "slowest_query_s": (slowest, "s"),
            "ok_frac": (1.0 - failed / attempted, "fraction"),
            "peak_rss_mb": (res["peak_rss_kb"] / 1024.0, "MB"),
        }
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
