#!/usr/bin/env python3
"""Benchmark of the parse -> enrich -> route engine, one workload per run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the program and the
JVM harness into .bench_build/ (see build.py); each run then starts one
JVM at local[<nproc>], runs a fixed warm-up and then jobs one at a time
for --seconds, checks every job's output against DuckDB (checks.py) and
prints one JSON line last: with --trace 0 the end-to-end metrics, with
--trace 1 the per-layer ones. README.md describes the workloads, the
metrics and how they were chosen.
"""
import argparse
import glob
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

import pyarrow as pa
import pyarrow.json as pjson
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import checks  # noqa: E402
import layers  # noqa: E402

STATE = os.path.join(ROOT, ".bench_build")
QUERY_DATA = os.path.join(HERE, "data", "sf0.01")

# Transcript input of flagship_route and production_commit: TranscriptGen
# at --seed, this many conversations, written as this many parquet files.
CONVS = 6000
FILES = 8
BUCKETS = 64

# Warm-up jobs before the timed region, from the cold-to-warm curves in
# README.md, and the fewest timed jobs a run makes however slow they are.
WARMUP = {"flagship_route": 12, "production_commit": 3, "query_mix": 1}
MIN_JOBS = {"flagship_route": 6, "production_commit": 3, "query_mix": 1}

QUERIES = [
    "q_grok_nginx", "q_multiline",            # parse
    "q_dedup_clusters", "q_span_dedup",       # dedup
    "q_ann_cosine",                           # similarity
    "q_tfidf",                                # text
    "q_pagerank",                             # graph
    "q_stream_dedup", "q_stream_windows",     # streaming
    "q_percentile_latency",                   # OLAP
]

# A run must end within 180 s once the build is done; the JVM is stopped
# early enough to leave time for the checks.
RUN_LIMIT_S = 160

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def cores():
    return len(os.sched_getaffinity(0))


def heap_gb():
    """Half of MemTotal, between 2 and 8 GB (the tier-1 test rule)."""
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return min(8, max(2, int(line.split()[1]) // 2097152))
    return 2


def java(cp, mode, work, trace, deadline, **opts):
    """Runs the harness in a fresh JVM; returns its result file."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Xmx{heap_gb()}g", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}"]
    if trace:
        cmd.append("-Dspark.extraListeners=perfbench.Probe")
    cmd += ["-cp", os.pathsep.join(cp), "perfbench.Harness", mode]
    result = os.path.join(work, "result.json")
    opts.update(cores=cores(), trace=int(trace), work=work, result=result)
    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = str(cores())
    env["SPARK_LOCAL_DIRS"] = tmp
    for k in ("GRAFT_ADMIN_PORT", "GRAFT_PIPELINE_CONFIG", "SPARK_CONF_DIR"):
        env.pop(k, None)
    log = os.path.join(work, f"{mode}.log")
    opts["steal0"] = repr(layers.steal_s())
    opts["t0"] = repr(time.time())
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd + [f"{k}={v}" for k, v in opts.items()],
                                cwd=work, env=env, stdout=lf, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise RuntimeError(f"harness {mode} timed out, see {log}")
    if rc != 0 or not os.path.exists(result):
        raise RuntimeError(f"harness {mode} exited with {rc}, see {log}")
    with open(result) as f:
        return json.load(f)


def ensure_input(cp, seed, deadline):
    """The TranscriptGen table of one seed, generated once per checkout:
    the harness writes the rows as JSON lines and pyarrow writes each file
    as parquet."""
    name = f"transcripts_seed{seed}_convs{CONVS}_files{FILES}"
    final = os.path.join(STATE, "input", name)
    if not os.path.isdir(final):
        work = os.path.join(STATE, "input", "_gen")
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(work)
        rows = os.path.join(work, "rows")
        table = os.path.join(work, "table")
        java(cp, "gen", work, False, deadline, seed=seed, convs=CONVS, files=FILES, out=rows)
        os.makedirs(table)
        schema = pa.schema([("conv_id", pa.string()), ("turn_idx", pa.int32()),
                            ("role", pa.string()), ("text", pa.string()),
                            ("tool", pa.string()), ("ts", pa.int64())])
        for f in sorted(os.listdir(rows)):
            t = pjson.read_json(os.path.join(rows, f),
                                parse_options=pjson.ParseOptions(explicit_schema=schema))
            t = t.set_column(5, "ts", t.column("ts").cast(pa.timestamp("us", tz="UTC")))
            pq.write_table(t, os.path.join(table, f.replace(".jsonl", ".parquet")))
        os.rename(table, final)
        shutil.rmtree(work, ignore_errors=True)
    return final


def parquet_mb(path):
    return sum(os.path.getsize(p) for p in
               glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)) / 1e6


# ------------------------------------------------------------ per workload

def run_transcripts(cp, workload, seed, seconds, trace, work, deadline):
    """flagship_route and production_commit share input and checks. A
    traced flagship_route run also records the query set's layers."""
    data = ensure_input(cp, seed, deadline)
    extra = {}
    if trace and workload == "flagship_route":
        extra = dict(data=QUERY_DATA, queries=",".join(QUERIES))
    r = java(cp, workload, work, trace, deadline, input=data, seconds=seconds,
             warmup=WARMUP[workload], min_jobs=MIN_JOBS[workload], buckets=BUCKETS,
             **extra)
    con = checks.connect(data)
    turns = checks.input_turns(con)
    failed, wrong = check_jobs(con, workload, r["jobs"])
    attempted = len(r["jobs"])
    if "query_set" in r:
        n, f, w, _ = check_passes(r["query_set"])
        attempted, failed, wrong = attempted + n, failed + f, wrong + w
    sink = "." if workload == "flagship_route" else "data"
    out_mb = median_of(r, lambda j: parquet_mb(os.path.join(j["out"], sink)))
    return r, attempted, failed, wrong, turns, out_mb


def check_jobs(con, workload, jobs, buckets=BUCKETS):
    """Checks each job's output. Returns how many jobs failed, and how
    many of those finished with a wrong output rather than an error."""
    failed = wrong = 0
    for j in jobs:
        if "error" in j:
            report("job", [j["error"]])
            failed += 1
            continue
        if workload == "flagship_route":
            problems = checks.check_flagship(con, j["out"])
        else:
            problems = checks.check_commit(con, j["out"], j.get("commit"), buckets)
        report(j["out"], problems)
        failed += bool(problems)
        wrong += bool(problems)
    return failed, wrong


def run_queries(cp, seed, seconds, trace, work, deadline):
    """query_mix reads the fixed tables under data/, so the seed is unused."""
    r = java(cp, "query_mix", work, trace, deadline, data=QUERY_DATA, seconds=seconds,
             warmup=WARMUP["query_mix"], min_jobs=MIN_JOBS["query_mix"],
             queries=",".join(QUERIES))
    attempted, failed, wrong, rows = check_passes(r)
    out_mb = median_of(r, lambda p: parquet_mb(p["out"]))
    return r, attempted, failed, wrong, statistics.median(rows or [0]), out_mb


def check_passes(r):
    """Checks every query output of the timed passes against its oracle.
    Returns the queries attempted, failed and, of those, wrong, and each
    whole pass's result rows."""
    oracle = checks.Oracle(QUERY_DATA, r["oracle_sql"])
    failed = wrong = 0
    rows = []
    for p in r["jobs"]:
        if "error" in p:
            report("pass", [p["error"]])
            failed += len(QUERIES)
            continue
        n = 0
        for q in p["queries"]:
            if "error" in q:
                report(p["out"], [f"{q['name']}: {q['error']}"])
                failed += 1
                continue
            problems, got = oracle.check(q["name"], q["out"])
            n += got
            report(p["out"], problems)
            failed += bool(problems)
            wrong += bool(problems)
        rows.append(n)
    return len(r["jobs"]) * len(QUERIES), failed, wrong, rows


def report(out, problems):
    where = os.path.relpath(out, STATE) if os.path.isabs(out) else out
    for p in problems:
        print(f"check failed: {where}: {p}", file=sys.stderr)


# ---------------------------------------------------------------- metrics

def ok_jobs(r):
    """The timed jobs that did not throw; only they are measured."""
    return [j for j in r["jobs"] if "error" not in j]


def median_of(r, f):
    return statistics.median([f(j) for j in ok_jobs(r)] or [0.0])


def end_to_end(r, rows, out_mb):
    job_s = median_of(r, lambda j: layers.unstolen_s(j["wall_s"], j["steal_s"]))
    setup = r["setup"]
    return {
        "setup_s": (layers.unstolen_s(setup["setup_s"], setup["steal_s"]), "s"),
        "job_s_p50": (job_s, "s"),
        "cpu_s_p50": (median_of(r, lambda j: j["cpu_s"]), "s"),
        "turns_per_s": (rows / job_s, "1/s"),
        "sink_mb": (out_mb, "MB"),
    }


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["flagship_route", "production_commit", "query_mix"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    try:
        cp = build.ensure(STATE)
    except (build.BuildError, subprocess.TimeoutExpired) as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 2
    deadline = time.time() + RUN_LIMIT_S
    work = os.path.join(STATE, "run", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)

    try:
        if a.workload == "query_mix":
            r, attempted, failed, wrong, rows, out_mb = run_queries(
                cp, a.seed, a.seconds, a.trace, work, deadline)
        else:
            r, attempted, failed, wrong, rows, out_mb = run_transcripts(
                cp, a.workload, a.seed, a.seconds, a.trace, work, deadline)
    except RuntimeError as e:
        print(e, file=sys.stderr)
        return 1
    if not ok_jobs(r):
        print(f"every one of the {len(r['jobs'])} timed jobs failed", file=sys.stderr)
        return 1

    timed = r["timed"]
    print("RUN " + json.dumps({
        "workload": a.workload, "seed": a.seed, "jobs": len(r["jobs"]),
        "timed_wall_s": timed["wall_s"], "timed_cpu_s": timed["cpu_s"],
        "timed_steal_s": timed["steal_s"],
        "job_wall_s": [round(j["wall_s"], 4) for j in r["jobs"]],
        "job_cpu_s": [round(j["cpu_s"], 3) for j in r["jobs"]],
        "job_steal_s": [round(j["steal_s"], 2) for j in r["jobs"]],
        "warmup_wall_s": [round(j["wall_s"], 4) for j in r["warmup"]]}))
    if a.trace:
        metrics = layers.per_layer(a.workload, r, rows, QUERIES)
    else:
        metrics = end_to_end(r, rows, out_mb)
    res = result(attempted, failed, wrong, metrics)
    print(json.dumps(res))
    return 0 if res["correct"] else 1


def result(attempted, failed, wrong, metrics):
    """The last line of a run. A failed operation that threw leaves
    `correct` true, since it speaks of the operations that finished; one
    wrong output makes it false."""
    return {"correct": wrong == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}


if __name__ == "__main__":
    sys.exit(main())
