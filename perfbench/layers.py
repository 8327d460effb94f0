"""Per-layer metrics from a traced run's record (``trace.json``).

A span is one call into an engine module (or one micro-batch inside one).
Spark jobs belong to every span whose interval holds the job's start; a
job's tasks are the tasks of its stages. For each span:

- ``wall_s``: the span's duration;
- ``job_s``: the union of its jobs' intervals, clipped to the span;
- ``driver_gap_s`` = ``wall_s`` - ``job_s``: time with no Spark job running;
- ``self_s`` = ``wall_s`` - the union of its child spans' intervals.

A span name's metrics sum its spans within one traced run; the reported
value is the median over the traced runs.
"""

import json
import statistics

STANDARD = (("wall_s", "s"), ("driver_gap_s", "s"), ("jobs", "count"), ("tasks", "count"),
            ("busy_s", "s"), ("queue_s", "s"), ("gc_s", "s"), ("shuffle_mb", "MB"), ("io_mb", "MB"))
STANDARD_SPANS = ("ingest.posts_snapshot", "ingest.stats_stage", "analytics.rollup",
                  "analytics.history_build", "enrich.palette", "streaming.post_replay",
                  "analytics.search")
EXTRA = (("enrich.palette.decode_busy_s", "s"), ("enrich.palette.kmeans_busy_s", "s"),
         ("enrich.palette.max_task_s", "s"),
         ("streaming.batches", "count"), ("streaming.source_s", "s"), ("streaming.fold_s", "s"),
         ("streaming.wal_s", "s"), ("streaming.batch_p50_ms", "ms"), ("streaming.batch_max_ms", "ms"),
         ("trace.overhead_s", "s"), ("host.foreign_cpu_share", "ratio"))


def metric_units():
    """Every per-layer metric name with its unit, in report order."""
    out = [(f"{s}.{m}", u) for s in STANDARD_SPANS for m, u in STANDARD]
    return out + list(EXTRA)


def union_s(intervals, lo, hi):
    """Length in seconds of the union of [a, b] ms intervals clipped to [lo, hi]."""
    cut = sorted((max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo))
    total, cur_a, cur_b = 0, None, None
    for a, b in cut:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total / 1000.0


def annotate(trace):
    """Per-span job/task attribution, self time and driver gap."""
    jobs = trace["jobs"]
    submit = {int(k): v for k, v in trace["stage_submit_ms"].items()}
    by_stage = {}
    for t in trace["tasks"]:
        by_stage.setdefault(t[0], []).append(t)
    children = {}
    for s in trace["spans"]:
        children.setdefault(s["parent"], []).append(s)
    out = []
    for s in trace["spans"]:
        lo, hi = s["start_ms"], s["end_ms"]
        mine = [j for j in jobs if lo <= j["start_ms"] <= hi]
        stages = {st for j in mine for st in j["stages"]}
        tasks = [t for st in stages for t in by_stage.get(st, [])]
        job_s = union_s([(j["start_ms"], j["end_ms"]) for j in mine], lo, hi)
        child_s = union_s([(c["start_ms"], c["end_ms"]) for c in children.get(s["id"], [])], lo, hi)
        wall = (hi - lo) / 1000.0
        shuffle_tasks = [t for t in tasks if t[6]]
        out.append(dict(s, **{
            "wall_s": wall,
            "job_s": job_s,
            "driver_gap_s": wall - job_s,
            "self_s": wall - child_s,
            "child_s": child_s,
            "jobs": len(mine),
            "tasks": len(tasks),
            "busy_s": sum(t[2] for t in tasks) / 1000.0,
            "queue_s": sum(max(0, t[1] - submit.get(t[0], t[1])) for t in tasks) / 1000.0,
            "gc_s": sum(t[3] for t in tasks) / 1000.0,
            "shuffle_mb": sum(t[4] for t in tasks) / 1e6,
            "io_mb": sum(t[5] for t in tasks) / 1e6,
            "decode_busy_s": sum(t[2] for t in tasks if t[7]) / 1000.0,
            "kmeans_busy_s": sum(t[2] for t in shuffle_tasks) / 1000.0,
            "max_task_s": max((t[2] for t in shuffle_tasks), default=0) / 1000.0,
        }))
    return out


def _median_over_runs(per_run):
    return statistics.median(per_run.values()) if per_run else 0.0


def layer_metrics(trace, run_s, traced_run_s, foreign_cpu_share):
    """Every per-layer metric (zero for layers the workload never calls)."""
    spans = annotate(trace)
    values = {name: 0.0 for name, _ in metric_units()}

    def by_run(pred, field):
        per_run = {}
        for s in spans:
            if pred(s):
                per_run[s["run"]] = per_run.get(s["run"], 0.0) + s[field]
        return _median_over_runs(per_run)

    for name in STANDARD_SPANS:
        for m, _ in STANDARD:
            values[f"{name}.{m}"] = by_run(lambda s, n=name: s["name"] == n, m)
    for m in ("decode_busy_s", "kmeans_busy_s"):
        values[f"enrich.palette.{m}"] = by_run(lambda s: s["name"] == "enrich.palette", m)
    per_run = {}
    for s in spans:
        if s["name"] == "enrich.palette":
            per_run[s["run"]] = max(per_run.get(s["run"], 0.0), s["max_task_s"])
    values["enrich.palette.max_task_s"] = _median_over_runs(per_run)

    replay = {}  # run -> the micro-batches of its replay
    for p in spans:
        if p["name"] == "streaming.post_replay":
            replay.setdefault(p["run"], []).extend(
                b for b in trace["batches"] if p["start_ms"] <= b["start_ms"] <= p["end_ms"])
    if replay:
        def med(f):
            return statistics.median(f(bs) for bs in replay.values())

        def total(bs, *keys):
            return sum(b["durations_ms"].get(k, 0) for b in bs for k in keys) / 1000.0

        def trig(bs):
            return [b["durations_ms"].get("triggerExecution", 0) for b in bs] or [0]

        values["streaming.batches"] = med(len)
        values["streaming.source_s"] = med(lambda bs: total(bs, "latestOffset", "getBatch"))
        values["streaming.fold_s"] = med(lambda bs: total(bs, "addBatch"))
        values["streaming.wal_s"] = med(lambda bs: total(bs, "walCommit", "commitOffsets"))
        values["streaming.batch_p50_ms"] = med(lambda bs: statistics.median(trig(bs)))
        values["streaming.batch_max_ms"] = med(lambda bs: max(trig(bs)))
    if run_s and traced_run_s:
        values["trace.overhead_s"] = statistics.median(traced_run_s) - statistics.median(run_s)
    values["host.foreign_cpu_share"] = foreign_cpu_share
    return values, spans


def write_spans(spans, path):
    with open(path, "w", encoding="utf-8") as f:
        json.dump(spans, f)
