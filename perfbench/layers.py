"""Per-layer metrics of a traced run, from the harness's result file.

Every workload prints every metric; a layer that a workload does not run
reads 0. README.md maps each metric to the end-to-end metric it should
move.
"""
import os
import statistics

PHASES = ("analysis", "optimization", "planning")


def steal_s():
    """Machine-wide steal seconds so far, summed over CPUs (USER_HZ = 100);
    the harness reads the same field."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / 100.0


def unstolen_s(wall, steal):
    """Wall seconds less the machine's steal over them per CPU. On a
    shared VM the hypervisor's steal stretches wall time by a different
    amount in each run; it is no work of the program, and the harness
    measures it over every job, so the wall-time metrics leave it out."""
    return wall - steal / os.cpu_count()


def _med(xs):
    return statistics.median(xs) if xs else 0.0


def _ok(jobs):
    """The jobs that did not throw; a failed job carries only its times."""
    return [j for j in jobs if "error" not in j]


def _commit_steps(spark_jobs):
    """Stage write, stats scan, publish and read-back seconds of one
    RunPipeline batch, from its Spark jobs in time order: the jobs of the
    SQL executions that write under Lineage.scala, then the stats scan up
    to the `collect at Lineage.scala` job, then the driver-side publish
    gap, then every later job (the report's read-back)."""
    jobs = sorted(spark_jobs, key=lambda s: s["start"])
    writes = [s for s in jobs if s["write"] and "Lineage.scala" in s["site"]]
    if not writes:
        return 0.0, 0.0, 0.0, 0.0
    w_start = min(s["start"] for s in writes)
    w_end = max(s["end"] for s in writes)
    stats = [s for s in jobs if s["start"] >= w_end
             and s["site"].startswith("collect at Lineage.scala")]
    stats_end = max((s["end"] for s in stats), default=w_end)
    rest = [s for s in jobs if s["start"] >= stats_end]
    rb_start = min((s["start"] for s in rest), default=stats_end)
    rb_end = max((s["end"] for s in rest), default=stats_end)
    return w_end - w_start, stats_end - w_end, rb_start - stats_end, rb_end - rb_start


def _flagship(m, jobs):
    pre = [j["prefixes"] for j in jobs]
    m["scan.self_s"] = (_med([p["scan"] for p in pre]), "s")
    m["pipeline.self_s"] = (_med([p["pipeline"] - p["scan"] for p in pre]), "s")
    m["enrich.self_s"] = (_med([p["enrich"] - p["pipeline"] for p in pre]), "s")
    m["route.assign_self_s"] = (_med([p["assign"] - p["enrich"] for p in pre]), "s")
    m["route.write_self_s"] = (_med([j["wall_s"] - j["prefixes"]["assign"] for j in jobs]), "s")
    for ph in PHASES:
        m[f"plan.{ph}_s"] = (_med([j["phases"].get(ph, 0.0) for j in jobs]), "s")


def _commit(m, jobs, turns):
    steps = [_commit_steps(b["spark_jobs"]) for b in jobs]
    stage, stats, publish, readback = (list(x) for x in zip(*steps))
    m["lineage.stage_write_s"] = (_med(stage), "s")
    m["lineage.stats_scan_s"] = (_med(stats), "s")
    m["lineage.publish_s"] = (_med(publish), "s")
    m["metrics.readback_s"] = (_med(readback), "s")
    m["commit.rows_read_per_turn"] = (_med([b["input_records"] / turns for b in jobs]), "ratio")
    m["commit.jobs"] = (_med([len(b["spark_jobs"]) for b in jobs]), "count")
    m["lineage.files_written"] = (_med([b["files_written"] for b in jobs]), "count")


def _queries(m, qr, queries):
    for q in queries:
        runs = [x for p in _ok(qr["jobs"]) for x in p["queries"]
                if x["name"] == q and "error" not in x]
        s = _med([x["wall_s"] for x in runs])
        plan = _med([sum(x["phases"].values()) for x in runs])
        compile_s = _med([x["compile_s"] for x in runs])
        m[f"query.{q}.s"] = (s, "s")
        m[f"query.{q}.plan_s"] = (plan, "s")
        m[f"query.{q}.exec_s"] = (s - plan - compile_s, "s")
    first = qr["warmup"][0] if qr["warmup"] else qr["jobs"][0]
    m["query.cold_compile_s"] = (first.get("compile_s", 0.0), "s")
    m["streaming.rows_dropped_by_watermark"] = (
        _med([p["rows_dropped_by_watermark"] for p in _ok(qr["jobs"])]), "count")
    m["streaming.state_rows"] = (_med([p["state_rows"] for p in _ok(qr["jobs"])]), "count")


def fill(m, queries):
    """Sets every metric not yet in `m` to 0 with its unit."""
    zero = {
        "scan.self_s": "s", "pipeline.self_s": "s", "enrich.self_s": "s",
        "route.assign_self_s": "s", "route.write_self_s": "s",
        "plan.analysis_s": "s", "plan.optimization_s": "s", "plan.planning_s": "s",
        "codegen.setup_compile_s": "s", "codegen.setup_compiles": "count",
        "codegen.compile_s": "s", "codegen.compiles": "count",
        "spark.tasks": "count", "spark.gc_s": "s", "spark.executor_cpu_s": "s",
        "spark.input_records": "count", "spark.shuffle_write_mb": "MB",
        "spark.output_files": "count", "spark.records_written": "count",
        "session.start_s": "s",
        "lineage.stage_write_s": "s", "lineage.stats_scan_s": "s",
        "lineage.publish_s": "s", "metrics.readback_s": "s",
        "commit.rows_read_per_turn": "ratio",
        "commit.jobs": "count", "lineage.files_written": "count",
    }
    for q in queries:
        zero.update({f"query.{q}.s": "s", f"query.{q}.plan_s": "s", f"query.{q}.exec_s": "s"})
    zero.update({
        "query.cold_compile_s": "s", "streaming.rows_dropped_by_watermark": "count",
        "streaming.state_rows": "count",
        "run.wall_s": "s", "run.cpu_s": "s", "run.steal_s": "s", "traced.job_s_p50": "s",
    })
    for k, u in zero.items():
        m.setdefault(k, (0.0, u))
    return {k: m[k] for k in zero}


def per_layer(workload, r, turns, queries):
    """Metric name -> (value, unit) for one traced run."""
    m = {}
    jobs = _ok(r["jobs"])
    if workload == "flagship_route":
        _flagship(m, jobs)
        m["session.start_s"] = (r["session_ready"] - r["main_start"], "s")
    if workload == "production_commit":
        _commit(m, jobs, turns)
        m["session.start_s"] = (_med([b["app_start"] - b["start"] for b in jobs]), "s")
    if workload in ("flagship_route", "production_commit"):
        m["spark.tasks"] = (_med([j["tasks"] for j in jobs]), "count")
        m["spark.gc_s"] = (_med([j["gc_s"] for j in jobs]), "s")
        m["spark.executor_cpu_s"] = (_med([j["executor_cpu_s"] for j in jobs]), "s")
        m["spark.input_records"] = (_med([j["input_records"] for j in jobs]), "count")
        m["spark.shuffle_write_mb"] = (_med([j["shuffle_write_mb"] for j in jobs]), "MB")
        m["spark.output_files"] = (
            _med([j.get("output_files", j.get("files_written", 0)) for j in jobs]), "count")
        m["spark.records_written"] = (_med([j["records_written"] for j in jobs]), "count")
    qr = r if workload == "query_mix" else r.get("query_set")
    if qr:
        _queries(m, qr, queries)
    m["codegen.setup_compile_s"] = (r["setup"]["compile_s"], "s")
    m["codegen.setup_compiles"] = (r["setup"]["compiles"], "count")
    m["codegen.compile_s"] = (r["timed"]["compile_s"], "s")
    m["codegen.compiles"] = (r["timed"]["compiles"], "count")
    m["run.wall_s"] = (r["timed"]["wall_s"], "s")
    m["run.cpu_s"] = (r["timed"]["cpu_s"], "s")
    m["run.steal_s"] = (r["timed"]["steal_s"], "s")
    m["traced.job_s_p50"] = (_med([unstolen_s(j["wall_s"], j["steal_s"]) for j in jobs]), "s")
    return fill(m, queries)
