"""Turns the harness's raw records (result.json, trace.json) into metrics.

Pure functions over plain dicts, so the arithmetic is unit-tested without
Spark (see perfbench/tests).
"""
import math
import re
import statistics

MB = 1e6

# Program source files whose jobs get their own site.<File> metrics: those
# the workloads' queries send jobs from. A job is attributed to the call
# site of the SQL execution that ran it (the user frame that called the
# action): site.Harness is the benchmark's final action, site.stream a
# streaming micro-batch, site.other any other file.
SITES = ["Harness", "Tables", "Checkpoints", "Graph", "Similarity", "SourceParity",
         "stream", "other"]

_CALLSITE = re.compile(r" at ([A-Za-z_$][\w$]*)\.(?:scala|java):\d+")


def classify_site(callsite):
    """'count at Checkpoints.scala:57' -> 'Checkpoints'; a micro-batch's
    description -> 'stream'; anything else -> 'other'."""
    callsite = callsite or ""
    m = _CALLSITE.search(callsite)
    if m:
        return m.group(1) if m.group(1) in SITES else "other"
    return "stream" if "runId = " in callsite else "other"


def union_ms(intervals, lo, hi):
    """Length of the union of [start, end) intervals, clipped to [lo, hi)."""
    clipped = sorted((max(s, lo), min(e, hi)) for s, e in intervals)
    total, cur_s, cur_e = 0.0, None, None
    for s, e in clipped:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_ms(span, children):
    """A span's duration minus the part of it that its children cover."""
    return (span["end"] - span["start"]) - union_ms(
        [(c["start"], c["end"]) for c in children], span["start"], span["end"])


def median(xs):
    return statistics.median(xs) if xs else 0.0


def geomean(xs):
    return math.exp(sum(math.log(max(x, 1e-9)) for x in xs) / len(xs)) if xs else 0.0


def query_wall(q):
    return q["build_s"] + q["final_s"]


def pass_s(p):
    """Wall of one pass: the sum of its query walls (queries run one at a
    time; the isolation gaps between them are not counted)."""
    return sum(query_wall(q) for q in p["queries"])


def role_s(p, names):
    return sum(query_wall(q) for q in p["queries"] if q["name"] in names)


def query_medians(passes):
    """Each query's median wall over the passes."""
    walls = {}
    for p in passes:
        for q in p["queries"]:
            walls.setdefault(q["name"], []).append(query_wall(q))
    return {n: median(w) for n, w in walls.items()}


def end_to_end(result, passes):
    """The end-to-end metrics over the given (untraced) timed passes.
    pass_s sums each query's median wall, so one slow query in one pass
    does not move it."""
    walls = query_medians(passes)
    return {
        "setup_s": median(result["setup_s"]),
        "pass_s": sum(walls.values()),
        "query_geomean_s": geomean(list(walls.values())),
        "shuffle_write_mb": median([p["shuffle_write_bytes"] / MB for p in passes]),
        "peak_heap_mb": result["peak_heap_bytes"] / MB,
    }


def workload_io(passes, write, scan):
    """Write-role and scan-role time, and bytes written through Hadoop
    FileSystems (table data, manifests, checksums), per pass."""
    return {
        "queries.write_s": median([role_s(p, write) for p in passes]),
        "queries.read_s": median([role_s(p, scan) for p in passes]),
        "sources.written_mb": median([p["written_bytes"] / MB for p in passes]),
    }


def layer_pass(p, trace, cores):
    """Per-layer metrics of one traced pass."""
    pid = p["id"]
    kids = {}
    for s in trace["spans"]:
        kids.setdefault(s["parent"], []).append(s)
    root = next(s for s in trace["spans"] if s["kind"] == "pass" and s["name"] == f"pass{pid}")
    queries = kids.get(root["id"], [])
    jobs = [j for j in trace["jobs"] if j["pass"] == pid]
    jobs_by_parent = {}
    for j in jobs:
        jobs_by_parent.setdefault(j["parent"], []).append(j)

    def phase(kind):
        ph = [c for q in queries for c in kids.get(q["id"], []) if c["kind"] == kind]
        n_jobs = sum(len(jobs_by_parent.get(c["id"], [])) for c in ph)
        return sum(c["end"] - c["start"] for c in ph) / 1e3, n_jobs

    build_s, build_jobs = phase("build")
    final_s, final_jobs = phase("final")
    driver_self = 0.0
    for q in queries:
        q_jobs = [j for c in kids.get(q["id"], []) for j in jobs_by_parent.get(c["id"], [])]
        driver_self += self_ms(q, q_jobs)

    def tot(key):
        return sum(j.get(key, 0.0) for j in jobs)

    wall = sum(q["end"] - q["start"] for q in queries) / 1e3
    stages, tasks = tot("stages"), tot("tasks")
    plans = [x for x in trace["plans"] if x["pass"] == pid]
    batches = [b for b in trace["batches"] if b["pass"] == pid]
    lines = sum(x["lines_read"] for x in plans)
    emitted = sum(x["rows_emitted"] for x in plans)
    m = {
        "queries.build_s": build_s, "queries.build_jobs": build_jobs,
        "queries.final_s": final_s, "queries.final_jobs": final_jobs,
        "driver.self_s": driver_self / 1e3,
        "driver.gc_s": sum(q["driver_gc_s"] for q in p["queries"]),
        "plan.executions": len(plans),
        "plan.analysis_ms": sum(x["analysis_ms"] for x in plans),
        "plan.optimization_ms": sum(x["optimization_ms"] for x in plans),
        "plan.planning_ms": sum(x["planning_ms"] for x in plans),
        "sched.jobs": len(jobs), "sched.stages": stages, "sched.tasks": tasks,
        "sched.tasks_per_stage": tasks / stages if stages else 0.0,
        "sched.task_overhead_s": (tot("task_ms") - tot("run_ms")) / 1e3,
        "sched.core_util": tot("run_ms") / 1e3 / (wall * cores) if wall else 0.0,
        "exec.run_s": tot("run_ms") / 1e3, "exec.cpu_s": tot("cpu_ms") / 1e3,
        "exec.gc_s": tot("gc_ms") / 1e3,
        "exec.peak_mem_mb": max([j.get("peak_mem", 0.0) for j in jobs], default=0.0) / MB,
        "shuffle.read_mb": tot("shuffle_read") / MB,
        "shuffle.fetch_wait_s": tot("fetch_wait_ms") / 1e3,
        "shuffle.spill_disk_mb": tot("spill_disk") / MB,
        "sources.write_plans": sum(x["writes"] for x in plans),
        "sources.input_mb": tot("input_bytes") / MB,
        "sources.input_rows": tot("input_rows"),
        "sources.tsv.lines_read": lines, "sources.tsv.rows_emitted": emitted,
        "sources.tsv.emit_ratio": emitted / lines if lines else 0.0,
        "stream.batches": len(batches),
        "stream.add_batch_ms": sum(b["add_batch_ms"] for b in batches),
        "stream.wal_commit_ms": sum(b["wal_commit_ms"] for b in batches),
    }
    for site in SITES:
        m[f"site.{site}.jobs"] = 0
        m[f"site.{site}.s"] = 0.0
    for j in jobs:
        site = classify_site(j["callsite"])
        m[f"site.{site}.jobs"] += 1
        m[f"site.{site}.s"] += (j["end"] - j["start"]) / 1e3
    return m


def per_layer(result, trace):
    """Median over the traced passes of each per-layer metric, plus the
    tracing overhead: traced pass_s / untraced pass_s."""
    traced = [p for p in result["passes"] if p["traced"]]
    plain = [p for p in result["passes"] if not p["traced"]]
    per_pass = [layer_pass(p, trace, result["cores"]) for p in traced]
    out = {k: median([m[k] for m in per_pass]) for k in per_pass[0]}
    out["trace.overhead"] = median([pass_s(p) for p in traced]) / median(
        [pass_s(p) for p in plain])
    return out
