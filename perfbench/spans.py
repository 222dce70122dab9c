"""Span arithmetic and per-layer metrics for one traced benchmark run.

The harness (harness/graft/perfbench/Harness.scala) leaves a raw record:
query timings, job and stage events from a SparkListener, planning phases
from a QueryExecutionListener and session-store builds. This module turns
that record into spans with parent links and self time, and into the
per-layer metrics. Times inside this module are seconds as floats.
"""

import statistics

# The program's modules, as layers. `Sources` also owns the session stores
# (ensureStore/ensureBuild) built inside other modules' queries.
MODULES = ["Relational", "Dedup", "IncrementalDedup", "Similarity",
           "TextAnalysis", "Sources", "streaming"]
MODULE_FIELDS = ["build_s", "exec_s", "jobs", "task_s", "shuffle_mb", "driver_s"]
ENGINE_METRICS = [
    ("catalyst.plan_s", "s"), ("catalyst.plans", "count"),
    ("scheduler.jobs", "count"), ("scheduler.stages", "count"),
    ("scheduler.tasks_per_stage", "tasks/stage"), ("scheduler.job_wall_s", "s"),
    ("executor.task_s", "s"), ("executor.cpu_s", "s"), ("executor.gc_s", "s"),
    ("executor.core_busy", "fraction"),
    ("shuffle.read_mb", "MB"), ("shuffle.write_mb", "MB"),
    ("scan.input_mb", "MB"), ("spill.mb", "MB"),
    ("driver.outside_jobs_s", "s"), ("driver.outside_jobs_frac", "fraction"),
    ("sources.store_builds", "count"), ("sources.store_build_s", "s"),
    ("sources.store_build_frac", "fraction"),
    ("scheduler.jobs_per_query", "jobs/query"),
    ("memory.rss_peak_mb", "MB"),
    ("trace.overhead_frac", "fraction"),
]
MODULE_UNITS = {"build_s": "s", "exec_s": "s", "jobs": "count", "task_s": "s",
                "shuffle_mb": "MB", "driver_s": "s"}


def per_layer_units():
    """Every per-layer metric name with its unit, in report order."""
    units = {f"{m}.{f}": MODULE_UNITS[f] for m in MODULES for f in MODULE_FIELDS}
    units.update(ENGINE_METRICS)
    return units


def union_length(intervals):
    """Length of the union of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((s, e) for s, e in intervals if e > s):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals, lo, hi):
    """The parts of the intervals that fall inside [lo, hi]."""
    return [(max(s, lo), min(e, hi)) for s, e in intervals if min(e, hi) > max(s, lo)]


def self_time(start, end, children):
    """A span's duration minus the part of it its children cover."""
    return (end - start) - union_length(clip(children, start, end))


def core_busy(task_s, job_wall_s, cores):
    """Task time over the core time available while jobs ran."""
    return task_s / (job_wall_s * cores) if job_wall_s > 0 else 0.0


def parse_record(lines):
    """Group the harness record (one JSON object a line) by kind, joining
    job start/end events and attaching stage totals to their jobs."""
    rec = {"query": [], "pass": [], "plan": [], "store": [], "check": []}
    jobs, stages = {}, []
    for o in lines:
        k = o["kind"]
        if k == "job_start":
            jobs[o["job"]] = {"id": o["job"], "tag": o["tag"], "start": o["ms"] / 1e3,
                              "end": None, "stages": 0, "tasks": 0, "task_s": 0.0,
                              "cpu_s": 0.0, "gc_s": 0.0, "shuffle_read": 0,
                              "shuffle_write": 0, "input": 0, "spill": 0}
        elif k == "job_end":
            if o["job"] in jobs:
                jobs[o["job"]]["end"] = o["ms"] / 1e3
        elif k == "stage":
            stages.append(o)
        elif k in rec:
            rec[k].append(o)
        else:
            rec[k] = o
    for st in stages:
        j = jobs.get(st["job"])
        if j is None:
            continue
        j["stages"] += 1
        j["tasks"] += st["tasks"]
        j["task_s"] += st["task_ms"] / 1e3
        j["cpu_s"] += st["cpu_ns"] / 1e9
        j["gc_s"] += st["gc_ms"] / 1e3
        for f in ("shuffle_read", "shuffle_write", "input", "spill"):
            j[f] += st[f]
    rec["jobs"] = [j for j in jobs.values() if j["end"] is not None]
    return rec


def pass_span(rec, label):
    p = next(p for p in rec["pass"] if p["pass"] == label)
    return p["t0_us"] / 1e6, p["t1_us"] / 1e6, p["timed_us"] / 1e6


def build_spans(rec, label, run_id, module_of):
    """Spans of one pass: run > pass > query > build/exec > store builds,
    with the pass's jobs as children of the innermost span holding their
    start. Each span carries its self time."""
    p0, p1, _ = pass_span(rec, label)
    spans = []

    def add(parent, kind, name, start, end, **extra):
        spans.append(dict(id=len(spans), parent=parent, kind=kind, name=name,
                          start=start, end=end, **extra))
        return len(spans) - 1

    run_end = max(p["t1_us"] for p in rec["pass"]) / 1e6
    pass_id = add(add(None, "run", run_id, rec["setup"]["main_us"] / 1e6, run_end),
                  "pass", label, p0, p1)
    phases = []
    for q in (q for q in rec["query"] if q["pass"] == label):
        t0, t1, t2 = q["t0_us"] / 1e6, q["t1_us"] / 1e6, q["t2_us"] / 1e6
        mod = module_of[q["name"]]
        qid = add(pass_id, "query", q["name"], t0, t2, module=mod)
        for kind, a, b in (("build", t0, t1), ("exec", t1, t2)):
            phases.append((add(qid, kind, q["name"], a, b, module=mod), a, b))
    # a store build is seen by a poll up to a few milliseconds after it ends
    for st in rec["store"]:
        e = st["end_us"] / 1e6
        for pid, a, b in phases:
            if a < e <= b + 0.01:
                add(pid, "store", st["label"], max(e - st["seconds"], a), min(e, b),
                    module="Sources")
                break
    for j in rec["jobs"]:
        tag = j["tag"] or ""
        if not tag.startswith(label + "/"):
            continue
        name = tag[len(label) + 1:]
        # listener times are whole milliseconds: allow that much slack
        holder = [sp for sp in spans if sp["kind"] in ("build", "exec", "store")
                  and sp["start"] - 0.002 <= j["start"] <= sp["end"] + 0.002
                  and (sp["name"] == name or sp["kind"] == "store")]
        parent = max(holder, key=lambda sp: sp["id"]) if holder else None
        add(parent["id"] if parent else pass_id, "job", str(j["id"]), j["start"], j["end"],
            module=parent["module"] if parent else None, job=j)
    children = {}
    for sp in spans:
        if sp["parent"] is not None:
            children.setdefault(sp["parent"], []).append((sp["start"], sp["end"]))
    for sp in spans:
        sp["self"] = self_time(sp["start"], sp["end"], children.get(sp["id"], []))
        sp["run"] = run_id
    return spans


def layer_metrics(rec, run_id, module_of, cores):
    """Per-layer metrics over the cold pass of a traced run, and its spans.
    The pass's wall is the sum of its queries' timed regions; the gaps
    between queries (dropping caches) are outside it."""
    spans = build_spans(rec, "cold", run_id, module_of)
    p0, p1, wall = pass_span(rec, "cold")
    plans = [(p["start_ms"] / 1e3, p["end_ms"] / 1e3, p["ms"] / 1e3) for p in rec["plan"]
             if p0 <= p["start_ms"] / 1e3 <= p1]
    jobs = [sp for sp in spans if sp["kind"] == "job"]
    m = {}
    for mod in MODULES:
        for f in MODULE_FIELDS:
            m[f"{mod}.{f}"] = 0.0
    # build/exec self time excludes nested store builds, which are Sources'
    for sp in spans:
        if sp["kind"] in ("build", "exec"):
            m[f"{sp['module']}.{sp['kind']}_s"] += sp["end"] - sp["start"] - union_length(
                [(c["start"], c["end"]) for c in spans
                 if c["parent"] == sp["id"] and c["kind"] == "store"])
        elif sp["kind"] == "store":
            m["Sources.build_s"] += sp["end"] - sp["start"]
    for j in jobs:
        mod = j["module"]
        if mod is None:
            continue
        m[f"{mod}.jobs"] += 1
        m[f"{mod}.task_s"] += j["job"]["task_s"]
        m[f"{mod}.shuffle_mb"] += (j["job"]["shuffle_read"] + j["job"]["shuffle_write"]) / 1e6
    # driver time of a span: its interval minus its store builds, its jobs
    # and planning; a store build's own driver time is Sources'
    for sp in spans:
        if sp["kind"] in ("build", "exec", "store"):
            busy = [(c["start"], c["end"]) for c in spans if c["parent"] == sp["id"]]
            busy += [(s, e) for s, e, _ in plans]
            mod = "Sources" if sp["kind"] == "store" else sp["module"]
            m[f"{mod}.driver_s"] += self_time(sp["start"], sp["end"], busy)
    intervals = [(j["start"], j["end"]) for j in jobs]
    job_wall = union_length(clip(intervals, p0, p1))
    tot = lambda f: sum(j["job"][f] for j in jobs)
    n_stages = tot("stages")
    task_s = tot("task_s")
    queries = [q for q in rec["query"] if q["pass"] == "cold"]
    store_s = sum(sum(q["stores"].values()) for q in queries)
    m.update({
        "catalyst.plan_s": sum(ms for _, _, ms in plans),
        "catalyst.plans": len(plans),
        "scheduler.jobs": len(jobs),
        "scheduler.stages": n_stages,
        "scheduler.tasks_per_stage": tot("tasks") / n_stages if n_stages else 0.0,
        "scheduler.job_wall_s": job_wall,
        "executor.task_s": task_s,
        "executor.cpu_s": tot("cpu_s"),
        "executor.gc_s": tot("gc_s"),
        "executor.core_busy": core_busy(task_s, job_wall, cores),
        "shuffle.read_mb": tot("shuffle_read") / 1e6,
        "shuffle.write_mb": tot("shuffle_write") / 1e6,
        "scan.input_mb": tot("input") / 1e6,
        "spill.mb": tot("spill") / 1e6,
        "driver.outside_jobs_s": wall - job_wall,
        "driver.outside_jobs_frac": (wall - job_wall) / wall,
        "sources.store_builds": sum(len(q["stores"]) for q in queries),
        "sources.store_build_s": store_s,
        "sources.store_build_frac": store_s / wall,
        "scheduler.jobs_per_query": len(jobs) / len(queries) if queries else 0.0,
        "memory.rss_peak_mb": rec["memory"]["vmhwm_kb"] / 1024,
    })
    traced = [p for p in rec["pass"] if p["pass"].endswith(".traced")]
    # the first warm pass also wrote the outputs and warmed what the cold
    # pass left cold, so the untraced side of the comparison starts after it
    plain = [p for p in rec["pass"] if p["pass"].startswith("warm")
             and p["pass"] != "warm0" and not p["pass"].endswith(".traced")]
    dur = lambda ps: statistics.median(p["timed_us"] / 1e6 for p in ps)
    m["trace.overhead_frac"] = dur(traced) / dur(plain) - 1 if traced and plain else 0.0
    return m, spans
