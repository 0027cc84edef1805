"""Pure functions that turn a raw run record into published metrics."""
import json
import statistics

MB = 1024.0 * 1024.0
TAIL_CANDIDATES = (0.99, 0.95, 0.9, 0.75)
MIN_BEYOND = 10


def median(xs):
    return statistics.median(xs) if xs else None


def tail_percentile(samples):
    """The highest tail percentile with at least MIN_BEYOND samples beyond
    it, as (q, value), or None when no tail percentile can be published."""
    if len(samples) < 2:
        return None
    cuts = statistics.quantiles(samples, n=100, method="inclusive")
    for q in TAIL_CANDIDATES:
        value = cuts[round(q * 100) - 1]
        if sum(1 for x in samples if x > value) >= MIN_BEYOND:
            return q, value
    return None


def root_span(spans):
    return next(s for s in spans if s["kind"] == "workload")


def self_times(spans):
    """Exclusive time of each span, in the spans' time unit.

    Each instant of the root (workload) span's interval is charged to
    exactly one span: the deepest one open at that instant (the
    latest-started one among equals). Children are clipped to their
    parent's interval, and spans without a known parent hang off the
    root, so the self times add up to the root's duration even when
    sibling spans overlap, as concurrent Spark jobs do.
    Returns {span id: self time}."""
    by_id = {s["id"]: s for s in spans}
    root = root_span(spans)
    clip, depth = {}, {}

    def resolve(s):
        if s["id"] in clip:
            return
        parent = by_id.get(s["parent"], root) if s is not root else None
        if parent is None:
            clip[s["id"]], depth[s["id"]] = (s["start"], s["end"]), 0
            return
        resolve(parent)
        lo, hi = clip[parent["id"]]
        clip[s["id"]] = (max(lo, s["start"]), min(hi, s["end"]))
        depth[s["id"]] = depth[parent["id"]] + 1

    for s in spans:
        resolve(s)
    live = [s for s in spans if clip[s["id"]][1] > clip[s["id"]][0]]
    edges = sorted({t for s in live for t in clip[s["id"]]})
    out = {s["id"]: 0 for s in spans}
    for a, b in zip(edges, edges[1:]):
        open_ = [s for s in live if clip[s["id"]][0] <= a and clip[s["id"]][1] >= b]
        if open_:
            owner = max(open_, key=lambda s: (depth[s["id"]], s["start"]))
            out[owner["id"]] += b - a
    return out


def union_length(intervals):
    total, cur = 0, None
    for lo, hi in sorted(intervals):
        if cur is None or lo > cur[1]:
            if cur:
                total += cur[1] - cur[0]
            cur = [lo, hi]
        else:
            cur[1] = max(cur[1], hi)
    return total + (cur[1] - cur[0] if cur else 0)


def metric(value, unit):
    return {"value": value, "unit": unit}


def result_line(correct, attempted, failed, metrics):
    """The last line of the benchmark's output: one JSON object."""
    return json.dumps({"correct": bool(correct), "attempted": int(attempted),
                       "failed": int(failed), "metrics": metrics})


def end_to_end(rec, setup_s):
    """Metrics a user of the pipeline sees; every workload has each one."""
    return {
        "setup_s": metric(setup_s, "s"),
        "batch_s": metric(rec["batch_s"], "s"),
        "step_p50_s": metric(median(rec["steps"]), "s"),
        "steps_s": metric(rec["steps_s"], "s"),
        "peak_heap_mb": metric(rec["peak_heap_bytes"] / MB, "MB"),
        "landed_mb": metric(rec["landed_bytes"] / MB, "MB"),
    }


def per_layer(rec):
    """Layer metrics of a traced run, common to every workload."""
    e = rec["engine"]
    spans = rec["spans"]
    root = root_span(spans)
    wall_ns = root["end"] - root["start"]
    selfs = self_times(spans)
    kinds = {}
    for s in spans:
        kinds[s["kind"]] = kinds.get(s["kind"], 0) + selfs[s["id"]]
    jobs = [(max(s["start"], root["start"]), min(s["end"], root["end"]))
            for s in spans if s["kind"] == "job" and s["end"] > root["start"]
            and s["start"] < root["end"]]
    wall = wall_ns / 1e9
    return {
        "spark.jobs": metric(int(e["jobs"]), "count"),
        "spark.stages": metric(int(e["stages"]), "count"),
        "spark.tasks": metric(int(e["tasks"]), "count"),
        "spark.planning_s": metric(e["planning_ms"] / 1e3, "s"),
        "spark.driver_gap_s": metric((wall_ns - union_length(jobs)) / 1e9, "s"),
        "spark.task_run_s": metric(e["task_run_ms"] / 1e3, "s"),
        "spark.task_cpu_s": metric(e["task_cpu_ns"] / 1e9, "s"),
        "spark.slot_util": metric(e["task_run_ms"] / 1e3 / (wall * rec["cores"]), "ratio"),
        "spark.sched_wait_s": metric(e["sched_wait_ms"] / 1e3, "s"),
        "spark.shuffle_write_mb": metric(e["shuffle_write_bytes"] / MB, "MB"),
        "spark.shuffle_read_mb": metric(e["shuffle_read_bytes"] / MB, "MB"),
        "spark.spill_mb": metric(e["spill_bytes"] / MB, "MB"),
        "spark.input_mb": metric(e["input_bytes"] / MB, "MB"),
        "spark.output_mb": metric(e["output_bytes"] / MB, "MB"),
        "spark.gc_s": metric(e["gc_ms"] / 1e3, "s"),
        "spark.task_failures": metric(int(e["task_failures"]), "count"),
        "span.workload_self_s": metric(kinds.get("workload", 0) / 1e9, "s"),
        "span.call_self_s": metric(kinds.get("call", 0) / 1e9, "s"),
        "span.job_self_s": metric(kinds.get("job", 0) / 1e9, "s"),
        "trace.batch_s": metric(rec["batch_s"], "s"),
        "trace.step_p50_s": metric(median(rec["steps"]), "s"),
    }


def layer_detail(rec):
    """Workload-specific layer figures: the median of each per-call timing
    (etl.*, query.*, corpus.*, streaming.*) and each layer count."""
    by = {}
    for name, v in rec["samples"]:
        by.setdefault(name, []).append(v)
    out = {k: (median(v), "s") for k, v in by.items()}
    for name, v in rec["counts"]:
        out[name] = (v, "MB" if name.endswith("_mb") else "count")
    trig = rec["triggers"]
    if trig:
        def med(*keys):
            return median([sum(t.get(k, 0) for k in keys) / 1e3 for t in trig])
        out["streaming.trigger_s"] = (med("triggerExecution"), "s")
        out["streaming.add_batch_s"] = (med("addBatch"), "s")
        out["streaming.planning_s"] = (med("queryPlanning"), "s")
        out["streaming.log_s"] = (med("latestOffset", "getBatch", "walCommit",
                                      "commitOffsets"), "s")
        out["streaming.triggers"] = (len(trig), "count")
    return out
