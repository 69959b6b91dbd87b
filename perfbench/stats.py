"""Reduction of one benchmark run's raw samples and spans into metrics.

Pure functions only, so the arithmetic is unit-tested in
tests/test_stats.py: the percentile rule, span parenting by time, job
attribution to table resolution, and self-time subtraction.
"""
import re
from statistics import median

MB = 1024.0 * 1024.0
# A construction-time job belongs to table resolution when its call site
# (the first user frame Spark reports) is the library's table loader.
TABLES_CALL_SITE = re.compile(r"\bTables\.scala:\d+")
# Listener timestamps have millisecond resolution; a job or planner phase
# that starts within this slack of a span's edges still belongs to it.
SLACK_US = 1000


def covered(intervals, lo, hi):
    """Length of [lo, hi] covered by the union of `intervals`."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(span, children):
    """A span's duration minus the part of it its children cover."""
    return (span["end_us"] - span["start_us"]) - covered(
        [(c["start_us"], c["end_us"]) for c in children], span["start_us"], span["end_us"])


def assign_parents(spans):
    """Give every span recorded without a parent (jobs, planner phases) the
    deepest benchmark span whose interval contains its start. Returns a
    new list; spans with a parent keep it."""
    by_id = {s["id"]: s for s in spans}

    def depth(s):
        d = 0
        while s["parent"] in by_id:
            s = by_id[s["parent"]]
            d += 1
        return d

    anchors = [s for s in spans if s["parent"] != -1 or s["name"] == "pass"]
    anchors = [s for s in anchors if s["name"] not in ("job", "stage")]
    depths = {s["id"]: depth(s) for s in anchors}
    out = []
    for s in spans:
        if s["parent"] == -1 and s["name"] != "pass":
            t = s["start_us"]
            inside = [a for a in anchors
                      if a["start_us"] - SLACK_US <= t <= a["end_us"] + SLACK_US]
            # deepest first; at equal depth the one whose start is nearest
            inside.sort(key=lambda a: (-depths[a["id"]], abs(t - a["start_us"])))
            s = dict(s, parent=inside[0]["id"] if inside else -1)
        out.append(s)
    return out


def is_table_resolution(job):
    return bool(TABLES_CALL_SITE.search(job["attrs"].get("call_site", "")))


def descendants(spans, root_id):
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out, todo = [], [root_id]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c["id"])
    return out


def pass_layers(spans, cores):
    """Per-layer numbers of one traced pass; `spans` are the pass span's
    descendants after assign_parents."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    kind = lambda name: [s for s in spans if s["name"] == name]

    constructs, executes = kind("construct"), kind("execute")
    # a micro-batch is its own execute span: nothing is constructed per batch
    exec_roots = executes + kind("batch")
    tables_jobs, eager_jobs, construct_self, resolve_us = 0, 0, 0, 0
    for c in constructs:
        jobs = [j for j in children.get(c["id"], []) if j["name"] == "job"]
        resolving = [j for j in jobs if is_table_resolution(j)]
        tables_jobs += len(resolving)
        eager_jobs += len(jobs) - len(resolving)
        resolve_us += covered([(j["start_us"], j["end_us"]) for j in resolving],
                              c["start_us"], c["end_us"])
        construct_self += self_time(c, children.get(c["id"], []))

    exec_jobs = [j for e in exec_roots for j in children.get(e["id"], []) if j["name"] == "job"]
    stages = [st for j in exec_jobs for st in children.get(j["id"], []) if st["name"] == "stage"]
    a = lambda k: sum(st["attrs"].get(k, 0) for st in stages)
    exec_s = sum(e["end_us"] - e["start_us"] for e in exec_roots) / 1e6
    cpu_s = a("cpu_ns") / 1e9

    plan = lambda phase: sum(s["end_us"] - s["start_us"] for s in kind("plan." + phase)) / 1e6
    queries = kind("query")
    cache_scans = sum(1 for q in queries
                      if any(p["attrs"].get("cache_scan") for e in children.get(q["id"], [])
                             if e["name"] == "execute"
                             for p in children.get(e["id"], []) if p["name"].startswith("plan.")))
    return {
        "tables.resolve_jobs": tables_jobs,
        "tables.resolve_s": resolve_us / 1e6,
        "operators.construct_s": sum(c["end_us"] - c["start_us"] for c in constructs) / 1e6,
        "operators.construct_self_s": construct_self / 1e6,
        "operators.eager_jobs": eager_jobs,
        "memo.cache_scan_share": cache_scans / len(queries) if queries else 0.0,
        "planner.analysis_s": plan("analysis"),
        "planner.optimization_s": plan("optimization"),
        "planner.planning_s": plan("planning"),
        "exec.s": exec_s,
        "exec.jobs": len(exec_jobs),
        "exec.stages": len(stages),
        "exec.tasks": a("tasks"),
        "exec.cpu_s": cpu_s,
        "exec.gc_s": a("gc_ms") / 1e3,
        "exec.util": cpu_s / (exec_s * cores) if exec_s > 0 else 0.0,
        "exec.shuffle_write_mb": a("shuffle_write_bytes") / MB,
        "exec.spill_mb": a("spill_bytes") / MB,
        "trace.spans": len(spans),
    }


def end_to_end(raw):
    """setup_s, and run_s: the median over untraced passes of a pass's
    summed operation times, counting only operations that passed their
    check (a failed one is never timed as a success)."""
    passes = [p for p in raw["passes"] if not p["traced"]]
    ok = lambda p: sum(o["seconds"] for o in raw["ops"]
                       if o["pass"] == p["pass"] and o["error"] is None)
    return {"setup_s": raw["setup_s"], "run_s": median([ok(p) for p in passes])}


def per_layer(raw, cores):
    spans = assign_parents(raw["spans"])
    traced = [p for p in raw["passes"] if p["traced"]]
    untraced = [p for p in raw["passes"] if not p["traced"]]
    pass_spans = {s["attrs"]["pass"]: s for s in spans if s["name"] == "pass"}
    rows = []
    for p in traced:
        m = pass_layers(descendants(spans, pass_spans[p["pass"]]["id"]), cores)
        m["memo.cached_rdds"] = p["cached_rdds"]
        m["memo.storage_mb"] = p["storage_bytes"] / MB
        m["memo.retained_mb"] = p["retained_bytes"] / MB
        m["exec.output_rows"] = sum(o["rows"] or 0 for o in raw["ops"] if o["pass"] == p["pass"])
        rows.append(m)
    out = {k: median([r[k] for r in rows]) for k in rows[0]}

    fns = raw["extra"].get("functions", {})
    for f in ("shingle_hash32", "cosine_sim", "dot_prod"):
        out["functions.%s_ns_per_row" % f] = fns.get(f, 0.0)

    prog = raw["extra"].get("stream_progress", [])
    med = lambda k: median([x[k] for x in prog]) if prog else 0.0
    out["streaming.add_batch_ms"] = med("add_batch_ms")
    out["streaming.planning_ms"] = med("planning_ms")
    out["streaming.wal_commit_ms"] = med("wal_commit_ms")
    out["streaming.state_commit_ms"] = med("state_commit_ms")
    out["streaming.state_rows_peak"] = max([x["state_rows"] for x in prog], default=0)
    out["streaming.state_mb_peak"] = max([x["state_bytes"] for x in prog], default=0) / MB
    batch_ops = [o for o in raw["ops"] if o["name"] == "batch" and o["error"] is None
                 and any(p["pass"] == o["pass"] for p in untraced)]
    secs = sum(o["seconds"] for o in batch_ops)
    out["streaming.events_per_s"] = (raw["extra"].get("batch_events", 0) * len(batch_ops) / secs
                                     if secs else 0.0)

    out["trace.overhead_ratio"] = (median([p["run_s"] for p in traced]) /
                                   median([p["run_s"] for p in untraced]))
    return out
