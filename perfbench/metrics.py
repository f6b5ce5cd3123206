"""Pure metric arithmetic for the benchmark: percentiles, outcome
counting, span self time and the per-layer roll-up of a traced run.

Everything here works on the raw record the JVM side writes (see
``src/main/scala/perfbench/Main.scala``) and has no I/O, so the unit tests
in ``test_perfbench.py`` pin it directly.
"""
import math
import re
import statistics

NAME_RE = re.compile(r"[A-Za-z0-9_.-]+")

# (layer metric name, span layer) — time inside spans of that layer
STAGE_LAYERS = [
    ("pipeline.preprocess_s", "pipeline.preprocess"),
    ("pipeline.listings_hosts_s", "pipeline.listings_hosts"),
    ("pipeline.weather_s", "pipeline.weather"),
    ("pipeline.reviews_s", "pipeline.reviews"),
    ("pipeline.reviewers_s", "pipeline.reviewers"),
]

# counters the JVM folds from its listeners, reported per op
COUNTER_METRICS = [
    "catalyst.analysis_s", "catalyst.optimization_s", "catalyst.planning_s",
    "catalyst.actions", "codegen.compile_s", "codegen.compiles",
    "exec.stages", "exec.tasks", "exec.task_run_s", "exec.task_cpu_s",
    "exec.task_gc_s", "exec.sched_delay_s", "exec.shuffle_write_mb",
    "exec.shuffle_read_mb", "exec.spill_mb", "exec.input_mb", "exec.result_mb",
    "exec.task_failures",
]


def valid_name(name):
    """Metric names follow ``[A-Za-z0-9_.-]+`` and start with a letter or digit."""
    return bool(NAME_RE.fullmatch(name)) and name[0].isalnum()


def percentile(values, q):
    """Nearest-rank percentile (q in (0, 100]) of a non-empty sample."""
    xs = sorted(values)
    rank = max(1, math.ceil(q / 100.0 * len(xs)))
    return xs[rank - 1]


def p90_or_none(values, min_beyond=10):
    """The p90 latency, or None when fewer than ``min_beyond`` samples lie
    beyond it (below that a tail percentile is one or two outliers)."""
    if not values:
        return None
    p = percentile(values, 90)
    beyond = sum(1 for v in values if v > p)
    return p if beyond >= min_beyond else None


def count_outcomes(ops, wrong=()):
    """(attempted, failed) over op records. A thrown op ("failed: ..."), a
    designed ScaleRefusal ("refused") and an op whose output the
    correctness check rejected all count as failed."""
    wrong = set(wrong)
    failed = sum(1 for o in ops if o["outcome"] != "ok" or o["name"] in wrong)
    return len(ops), failed


def union_length(intervals, lo=None, hi=None):
    """Total length covered by [start, end] intervals, clipped to [lo, hi]."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    clipped.sort()
    total, cur_s, cur_e = 0.0, None, None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans, jobs):
    """Self time per layer: each span's duration minus the part of it its
    children (spans and Spark jobs) cover. Children may overlap (AQE runs
    query stages concurrently), so the covered part is the union of their
    intervals clipped to the parent. Jobs are leaves of layer
    ``spark.job``. Returns {layer: seconds}."""
    nodes = [dict(s) for s in spans] + [
        {"id": ("job", j["id"]), "parent": j["parent"], "layer": "spark.job",
         "start_s": j["start_s"], "end_s": j["end_s"]} for j in jobs]
    children = {}
    for n in nodes:
        children.setdefault(n["parent"], []).append(n)
    out = {}
    for n in nodes:
        kids = children.get(n["id"], []) if n["layer"] != "spark.job" else []
        covered = union_length([(k["start_s"], k["end_s"]) for k in kids],
                               n["start_s"], n["end_s"])
        own = max(0.0, n["end_s"] - n["start_s"] - covered)
        out[n["layer"]] = out.get(n["layer"], 0.0) + own
    return out


def end_to_end(raw, setup_s, wrong=()):
    """End-to-end metrics of the untraced passes of one run, with sample
    counts; ``setup_s`` is the run's one cold set-up. Returns
    {name: {"value", "unit", "n"}} (op_p90_s only where the sample supports
    it; state_mb only where a store was written).

    Throughput is the median over passes of ops per second of op time (the
    single client's busy time; the harness's own work between ops, cache
    clear and GC, is not the engine's), so one noisy pass does not move
    it; CPU per op is, likewise, the median over passes of the pass's
    process CPU time per op (a pass mixes unlike ops, so a median over
    single ops would report whichever op sits in the middle)."""
    ops = [o for o in raw["ops"] if not o["traced"]]
    walls = [o["wall_s"] for o in ops if o["outcome"] == "ok"]
    attempted, failed = count_outcomes(ops, wrong)
    rates, cpus = [], []
    for p in sorted({o["pass"] for o in ops}):
        w = [o["wall_s"] for o in ops if o["pass"] == p]
        rates.append(len(w) / sum(w))
        cpus.append(sum(o["cpu_s"] for o in ops if o["pass"] == p) / len(w))
    m = {
        "setup_s": {"value": setup_s, "unit": "s", "n": 1},
        "ops_per_s": {"value": statistics.median(rates) if rates else 0.0,
                      "unit": "1/s", "n": attempted},
        "op_p50_s": {"value": statistics.median(walls) if walls else 0.0,
                     "unit": "s", "n": len(walls)},
        "failed_ratio": {"value": failed / attempted if attempted else 0.0,
                         "unit": "ratio", "n": attempted},
        "cpu_s_per_op": {"value": statistics.median(cpus) if cpus else 0.0,
                         "unit": "s", "n": attempted},
        "heap_peak_mb": {"value": raw["heap_peak_mb"], "unit": "MB", "n": 1},
    }
    p90 = p90_or_none(walls)
    if p90 is not None:
        m["op_p90_s"] = {"value": p90, "unit": "s", "n": len(walls)}
    if "state_bytes" in raw.get("final_state", {}):
        m["state_mb"] = {"value": raw["final_state"]["state_bytes"] / 2**20,
                         "unit": "MB", "n": 1}
    return m


def _in_layer(spans_by_id, span_id, layer):
    """True when the span or one of its ancestors is of ``layer``."""
    while span_id in spans_by_id:
        s = spans_by_id[span_id]
        if s["layer"] == layer:
            return True
        span_id = s["parent"]
    return False


def per_layer(raw):
    """Per-layer metrics of the traced passes, per op, plus the tracing
    overhead. Returns ({name: {"value", "unit"}}, {layer: self seconds})."""
    tr = raw["trace"]
    spans, jobs, totals = tr["spans"], tr["jobs"], tr["totals"]
    traced_ops = [o for o in raw["ops"] if o["traced"]]
    n = max(len(traced_ops), 1)
    by_id = {s["id"]: s for s in spans}

    def dur(layer, key=None):
        return sum((s["attrs"].get(key, 0.0) if key else s["end_s"] - s["start_s"])
                   for s in spans if s["layer"] == layer)

    def count(layer):
        return sum(1 for s in spans if s["layer"] == layer)

    job_iv = [(j["start_s"], j["end_s"]) for j in jobs]
    job_wall = union_length(job_iv)
    op_spans = [s for s in spans if s["layer"] == "op"]
    no_job = sum(s["end_s"] - s["start_s"] - union_length(job_iv, s["start_s"], s["end_s"])
                 for s in op_spans)
    cores = raw["cpus"]
    m = {
        "queries.build_s": (dur("queries.build"), "s"),
        "queries.build_jobs": (sum(1 for j in jobs
                                   if _in_layer(by_id, j["parent"], "queries.build")), "count"),
        "queries.action_s": (dur("queries.action"), "s"),
        "exec.jobs": (len(jobs), "count"),
        "exec.job_wall_s": (job_wall, "s"),
        "driver.no_job_s": (no_job, "s"),
        "statestore.publish_s": (dur("statestore.publish"), "s"),
        "statestore.publishes": (count("statestore.publish"), "count"),
        "statestore.read_s": (dur("statestore.read"), "s"),
        "statestore.files_written": (dur("statestore.publish", "files"), "count"),
        "statestore.mb_written": (dur("statestore.publish", "bytes") / 2**20, "MB"),
    }
    for name, layer in STAGE_LAYERS:
        m[name] = (dur(layer), "s")
    for name in COUNTER_METRICS:
        unit = "s" if name.endswith("_s") else "MB" if name.endswith("_mb") else "count"
        m[name] = (totals.get(name, 0.0), unit)
    out = {k: {"value": v / n, "unit": u} for k, (v, u) in m.items()}
    task_run = totals.get("exec.task_run_s", 0.0)
    out["exec.core_busy_ratio"] = {
        "value": task_run / (job_wall * cores) if job_wall > 0 else 0.0, "unit": "ratio"}
    # tracing overhead: the run alternates untraced and traced passes
    rate = {}
    for flag in (False, True):
        walls = [o["wall_s"] for o in raw["ops"] if o["traced"] == flag]
        rate[flag] = len(walls) / sum(walls) if walls else 0.0
    # post-GC heap peak does not repeat within a tenth across untraced runs
    # (GC timing), so it is reported here rather than gated end to end
    out["heap_peak_mb"] = {"value": raw.get("heap_peak_mb", 0.0), "unit": "MB"}
    out["trace.ops_per_s"] = {"value": rate[True], "unit": "1/s"}
    out["trace.untraced_ops_per_s"] = {"value": rate[False], "unit": "1/s"}
    out["trace.overhead_ratio"] = {
        "value": rate[False] / rate[True] - 1.0 if rate[True] > 0 else 0.0, "unit": "ratio"}
    selfs = {k: v / n for k, v in sorted(self_times(spans, jobs).items())}
    return out, selfs
